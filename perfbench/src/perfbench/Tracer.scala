package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters summed over a set of tasks and jobs. Times in ms,
  * sizes in MB. `driverMs` is wall time during which no task ran:
  * planning, scheduling and driver-side collects. */
final case class Counters(
    jobs: Double = 0, stages: Double = 0, tasks: Double = 0,
    failedTasks: Double = 0, cpuMs: Double = 0, runMs: Double = 0,
    gcMs: Double = 0, shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0,
    spillMb: Double = 0, driverMs: Double = 0, wallMs: Double = 0) {

  private def zip(o: Counters, f: (Double, Double) => Double) = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(failedTasks, o.failedTasks), f(cpuMs, o.cpuMs), f(runMs, o.runMs),
    f(gcMs, o.gcMs), f(shuffleWriteMb, o.shuffleWriteMb),
    f(shuffleReadMb, o.shuffleReadMb), f(spillMb, o.spillMb),
    f(driverMs, o.driverMs), f(wallMs, o.wallMs))

  def +(o: Counters): Counters = zip(o, _ + _)
  def -(o: Counters): Counters = zip(o, _ - _)
}

/** One timed layer call. `carvedFrom` names the span whose self figures
  * this one is subtracted from: a sub-call re-run on its own to split an
  * enclosing public call into layers. */
final case class Span(id: Int, layer: String, request: String,
    carvedFrom: Int, startMs: Long, endMs: Long, wallNs: Long)

/** Per-round view: totals over every task and job of the round, plus
  * (traced rounds only) each layer's self counters summed over its spans. */
final case class RoundStats(total: Counters, layers: Map[String, Counters],
    spans: Seq[Span])

/** A `SparkListener` that scopes task and job counters to layer calls.
  *
  * Each traced call sets a local property that Spark copies into every
  * job it submits; stages inherit the job's tag and tasks their stage's.
  * Untraced rounds still collect round totals. Events are read only after
  * draining the listener bus, so every counter is complete.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private final case class TaskRec(span: Int, launch: Long, finish: Long,
      c: Counters)

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobSpans = ArrayBuffer.empty[Int]
  private val stageSpans = ArrayBuffer.empty[Int]

  private val spans = ArrayBuffer.empty[Span]
  private var traced = false
  private var nextId = 0
  private var roundStartMs = 0L
  private var roundStartNs = 0L
  /** Id of the most recently finished span (for carving sub-calls). */
  var lastId: Int = -1

  sc.addSparkListener(this)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt)
      .getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, s))
    synchronized { jobSpans += s }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.putIfAbsent(e.stageInfo.stageId, s)
    synchronized { stageSpans += stageSpan.getOrDefault(e.stageInfo.stageId, s) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val failed = if (info.successful) 0.0 else 1.0
    val c =
      if (m == null) Counters(tasks = 1, failedTasks = failed)
      else Counters(
        tasks = 1, failedTasks = failed,
        cpuMs = m.executorCpuTime / 1e6, runMs = m.executorRunTime.toDouble,
        gcMs = m.jvmGCTime.toDouble,
        shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        shuffleReadMb = m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        spillMb = (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    val s = stageSpan.getOrDefault(e.stageId, -1)
    synchronized { tasks += TaskRec(s, info.launchTime, info.finishTime, c) }
  }

  /** Runs `body` as one call of `layer`. A no-op wrapper in untraced
    * rounds. */
  def span[T](layer: String, request: String, carvedFrom: Int = -1)(
      body: => T): T = {
    if (!traced) return body
    val id = nextId
    nextId += 1
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val n1 = System.nanoTime()
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Key, prev)
      spans += Span(id, layer, request, carvedFrom, t0, t1, n1 - n0)
      lastId = id
    }
  }

  def isTraced: Boolean = traced

  def beginRound(withSpans: Boolean): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { tasks.clear(); jobSpans.clear(); stageSpans.clear() }
    stageSpan.clear()
    spans.clear()
    traced = withSpans
    roundStartMs = System.currentTimeMillis()
    roundStartNs = System.nanoTime()
  }

  def endRound(): RoundStats = {
    val wallMs = (System.nanoTime() - roundStartNs) / 1e6
    val endMs = System.currentTimeMillis()
    traced = false
    PerfbenchBus.drain(sc)
    val (ts, js, ss) = synchronized { (tasks.toVector, jobSpans.toVector, stageSpans.toVector) }
    val busy = Tracer.union(ts.map(t => (t.launch, t.finish)))

    def own(ids: Int => Boolean, from: Long, to: Long, wall: Double) = {
      val c = ts.filter(t => ids(t.span)).map(_.c)
        .foldLeft(Counters())(_ + _)
      c.copy(jobs = js.count(ids).toDouble, stages = ss.count(ids).toDouble,
        driverMs = (to - from) - Tracer.covered(busy, from, to), wallMs = wall)
    }

    val total = own(_ => true, roundStartMs, endMs, wallMs)
    val sp = spans.toVector
    val owned = sp.map(s =>
      s.id -> own(_ == s.id, s.startMs, s.endMs, s.wallNs / 1e6)).toMap
    val layers = sp.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        sp.filter(_.carvedFrom == s.id)
          .foldLeft(owned(s.id))((acc, c) => acc - owned(c.id))
      }.foldLeft(Counters())(_ + _)
    }
    RoundStats(total, layers, sp)
  }
}

object Tracer {
  /** Merges [start, end] intervals into disjoint sorted ones. */
  def union(iv: Seq[(Long, Long)]): Vector[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((a, b)), (s, e)) if s <= b => acc :+ ((a, math.max(b, e)))
      case (acc, x) => acc :+ x
    }

  /** Length of [from, to] covered by disjoint sorted intervals. */
  def covered(iv: Vector[(Long, Long)], from: Long, to: Long): Double =
    iv.iterator.map { case (s, e) =>
      math.max(0L, math.min(e, to) - math.max(s, from))
    }.sum.toDouble
}
