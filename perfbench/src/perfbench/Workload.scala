package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** Output checks. Every check counts as one attempted operation; a false
  * or throwing check counts as failed and keeps its message. */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  def apply(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok =
      try cond
      catch { case e: Exception => failures += s"$name: $e"; false }
    if (!ok) {
      failed += 1
      if (!failures.exists(_.startsWith(name))) failures += name
    }
  }
}

/** What one round reports besides its Spark counters: named path times
  * (seconds), per-request latencies (ms) and the number of layer calls. */
final case class RoundOut(paths: Map[String, Double], latenciesMs: Seq[Double],
    calls: Int)

trait Workload {
  /** Generates inputs and builds the state rounds read; returns named
    * phase times (seconds). Repeatable: before the next set-up the run
    * drops every cached frame and RDD, and [[release]] drops the workload's other
    * caches. */
  def setup(t: Tracer, request: String): Map[String, Double]
  def release(): Unit
  /** Rounds run before the measured ones. The first counts in `setup_s`;
    * the others only let the JIT finish compiling the round's hot paths. */
  def warmupRounds: Int = 1
  /** Extra inputs the traced sub-calls need (checkpointed, untimed). */
  def prepareTrace(): Unit = ()
  def round(t: Tracer, request: String): RoundOut
  /** Checks the outputs of the last round. */
  def check(c: Checks): Unit
  /** Generated sizes and other per-seed facts for the record. */
  def facts: Map[String, Any]
}

object Workload {
  /** Runs a plan to completion without collecting it. */
  def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** A ranked list is sorted best-first with ties on ascending id, and its
    * ranks run 1..n. */
  def sortedRanks(hits: Seq[(Int, Long, Double)]): Boolean = {
    val byRank = hits.sortBy(_._1)
    byRank.map(_._1) == (1 to byRank.length) &&
      byRank.sliding(2).forall {
        case Seq((_, a, sa), (_, b, sb)) => sa > sb || (sa == sb && a < b)
        case _ => true
      }
  }
}
