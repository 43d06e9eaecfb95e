package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run: set up a workload several times, warm up, run
  * closed-loop rounds for a fixed time, check the outputs and print one
  * JSON record line on stdout.
  *
  * {{{
  * Main --workload serve|curate --seed N --seconds S --trace 0|1
  *      [--size full|smoke] [--dir SCRATCH]
  * }}}
  *
  * With `--trace 0` every round is untraced and the record carries the
  * end-to-end figures. With `--trace 1` untraced and traced rounds
  * alternate: the traced ones give the per-layer table, the difference
  * gives the tracing overhead.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median plus the warm-up round. */
  val SetupReps = 3

  final case class Opts(workload: String = "", seed: Long = 0L,
      seconds: Double = 10, trace: Boolean = false, size: String = "full",
      dir: String = ".bench_build/perfbench/work")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--size" :: v :: t => parse(t, o.copy(size = v))
    case "--dir" :: v :: t => parse(t, o.copy(dir = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  /** Input sizes. `full` is the measured size; `smoke` exercises every
    * layer and check in seconds. */
  def vectorSize(size: String): VectorSize = size match {
    case "full" => VectorSize(docs = 10000, dim = 32, centers = 64, sigma = 0.2,
      queries = 600, exactQueries = 60, latencyBatches = 4, rqIters = 3)
    case "smoke" => VectorSize(docs = 2000, dim = 16, centers = 16, sigma = 0.2,
      queries = 64, exactQueries = 16, latencyBatches = 2, k = 8, rqIters = 5)
  }

  def curateSize(size: String): CurateSize = size match {
    case "full" => CurateSize(base = 300, spanShare = 0.2, spanPool = 50,
      exactCopies = 1.0, nearCopies = 2.0)
    case "smoke" => CurateSize(base = 200, spanShare = 0.2, spanPool = 10,
      exactCopies = 1.0, nearCopies = 2.0)
  }

  /** Progress goes to stderr; stdout carries only the record. */
  private def log(msg: String): Unit = System.err.println(f"perfbench: ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f s  $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Set("serve", "curate")(o.workload),
      s"unknown workload '${o.workload}'")
    // one core is left to the driver thread, the JIT and the collector; a
    // task thread on every core did not make rounds any faster
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.dir}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(s"session up with local[$cores]")
    try println(compact(render(Json(run(spark, o, cores)))))
    finally spark.stop()
  }

  def run(spark: SparkSession, o: Opts, cores: Int): Map[String, Any] = {
    val tracer = new Tracer(spark)
    val wl: Workload = o.workload match {
      case "serve" => new Serve(spark, o.seed, vectorSize(o.size), s"${o.dir}/serve")
      case "curate" => new Curate(spark, o.seed, curateSize(o.size), s"${o.dir}/curate")
    }
    val checks = new Checks

    val plain = ArrayBuffer.empty[(RoundOut, RoundStats, Double)]
    val traced = ArrayBuffer.empty[(RoundOut, RoundStats, Double)]
    // every round and set-up starts on a collected heap, so garbage left by
    // the one before does not set off a full collection inside it
    def measure(req: String, withSpans: Boolean) = {
      System.gc()
      tracer.beginRound(withSpans)
      val out = wl.round(tracer, req)
      val stats = tracer.endRound()
      val stored = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      val parts = out.paths.toSeq.sorted.map { case (p, v) => f"$p $v%.3f" }
      log(f"$req${if (withSpans) " (traced)" else ""}: ${stats.total.wallMs / 1e3}%.2f s" +
        parts.mkString("  (", ", ", ")"))
      (out, stats, stored)
    }

    // the last set-up of a traced run is traced: it gives the build layers
    val setupRuns = (1 to SetupReps).map { i =>
      if (i > 1) {
        wl.release()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      System.gc()
      tracer.beginRound(withSpans = o.trace && i == SetupReps)
      val phases = wl.setup(tracer, s"${o.workload}/setup$i")
      val stats = tracer.endRound()
      log(f"set-up $i/$SetupReps: ${stats.total.wallMs / 1e3}%.2f s")
      (phases, stats)
    }
    if (o.trace) wl.prepareTrace()
    // the first round of a JVM runs up to 2x slower while the JIT compiles
    // the engine's hot paths; setup_s counts it, since a workload is set up
    // once it has answered once
    val warmupS = measure(s"${o.workload}/warmup", withSpans = false)._2.total.wallMs / 1e3
    // rounds that still speed up after the first run before the measured
    // ones and count in no gated figure (see Workload.warmupRounds)
    val settleS = (1 until wl.warmupRounds).map { j =>
      measure(s"${o.workload}/settle$j", withSpans = false)._2.total.wallMs / 1e3
    }
    val setups = setupRuns.map(_._2.total.wallMs / 1e3)
    val ready = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    // at least two rounds, so a round as long as the run still gets a
    // median; traced runs go in untraced-traced-traced-untraced blocks, so
    // the overhead estimate is not biased by rounds still speeding up
    while (i < 2 || System.nanoTime() < deadline || (o.trace && i % 4 != 0)) {
      val withSpans = o.trace && (i % 4 == 1 || i % 4 == 2)
      (if (withSpans) traced else plain) += measure(s"${o.workload}/r$i", withSpans)
      i += 1
    }
    wl.check(checks)
    log(s"checks: ${checks.attempted - checks.failed}/${checks.attempted} passed")

    val calls = (plain ++ traced).map(_._1.calls).sum
    val attempted = calls + checks.attempted
    val roundS = plain.map(_._2.total.wallMs / 1e3).toSeq
    def medianOf(f: Counters => Double) = median(plain.map(r => f(r._2.total)).toSeq)
    val paths = plain.flatMap(_._1.paths.keys).distinct.map { p =>
      p -> median(plain.map(_._1.paths(p)).toSeq)
    }.toMap

    val e2e = Map[String, Any](
      "setup_s" -> (median(setups) + warmupS),
      "round_s" -> median(roundS),
      "cpu_s" -> medianOf(_.cpuMs) / 1e3,
      "stored_mb" -> median(plain.map(_._3).toSeq),
      "failed_frac" -> checks.failed.toDouble / attempted) ++
      setupRuns.flatMap(_._1.keys).distinct.map { p =>
        p -> median(setupRuns.map(_._1(p)))
      } ++ paths ++ workloadFigures(o, wl, paths, plain.flatMap(_._1.latenciesMs).toSeq)

    val counters = Map[String, Any](
      "jobs" -> medianOf(_.jobs), "stages" -> medianOf(_.stages),
      "tasks" -> medianOf(_.tasks), "failed_tasks" -> medianOf(_.failedTasks),
      "cpu_ms" -> medianOf(_.cpuMs), "run_ms" -> medianOf(_.runMs),
      "gc_ms" -> medianOf(_.gcMs), "driver_ms" -> medianOf(_.driverMs),
      "shuffle_write_mb" -> medianOf(_.shuffleWriteMb),
      "shuffle_read_mb" -> medianOf(_.shuffleReadMb),
      "spill_mb" -> medianOf(_.spillMb))

    val traceFigures: Map[String, Any] = if (!o.trace) Map.empty else {
      val tracedStats = traced.map(_._2).toSeq :+ setupRuns.last._2
      val names = tracedStats.flatMap(_.layers.keys).distinct.sorted
      // a layer is called either in set-up or in rounds, never in both
      def layerMedian(n: String, f: Counters => Double) =
        median(tracedStats.flatMap(_.layers.get(n)).map(f))
      val layers = names.map { n =>
        n -> Map(
          "self_ms" -> layerMedian(n, _.wallMs),
          "cpu_ms" -> layerMedian(n, _.cpuMs),
          "driver_ms" -> layerMedian(n, _.driverMs),
          "shuffle_mb" -> layerMedian(n, c => c.shuffleWriteMb + c.shuffleReadMb),
          "jobs" -> layerMedian(n, _.jobs),
          "tasks" -> layerMedian(n, _.tasks))
      }.toMap
      val tracedS = median(traced.map(_._2.total.wallMs / 1e3).toSeq)
      val last = traced.last._2.spans
      Map(
        "layers" -> layers,
        "trace_overhead_s" -> (tracedS - median(roundS)),
        "trace_overhead_frac" -> (tracedS / median(roundS) - 1),
        "traced_rounds" -> traced.length,
        "spans" -> last.map(s => Map("id" -> s.id, "layer" -> s.layer,
          "request" -> s.request, "parent" -> s.carvedFrom,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "wall_ms" -> s.wallNs / 1e6)))
    }

    Map(
      "record" -> "perfbench", "workload" -> o.workload, "seed" -> o.seed,
      "trace" -> (if (o.trace) 1 else 0), "size" -> o.size,
      "correct" -> (checks.failed == 0), "attempted" -> attempted,
      "failed" -> checks.failed, "failures" -> checks.failures.toSeq,
      "effective_cores" -> cores, "rounds" -> plain.length,
      "round_s" -> roundS, "setup_runs_s" -> setups,
      "warmup_s" -> warmupS, "settle_s" -> settleS,
      "process_to_ready_s" -> ready,
      "e2e" -> e2e, "counters" -> counters, "facts" -> wl.facts) ++ traceFigures
  }

  /** The figures a workload defines on top of round time. */
  private def workloadFigures(o: Opts, wl: Workload,
      paths: Map[String, Double], latMs: Seq[Double]): Map[String, Any] =
    wl match {
      case serve: Serve =>
        val v = vectorSize(o.size)
        // the tail is the highest percentile with ten samples beyond it
        val sorted = latMs.sorted
        val tail = math.max(0, sorted.length - 11)
        Map(
          "coarse_fine_qps" -> v.queries / paths("coarse_fine_s"),
          "budgeted_qps" -> v.queries / paths("budgeted_s"),
          "hkm_beam_qps" -> v.queries / paths("hkm_beam_s"),
          "exact_qps" -> v.exactQueries / paths("exact_s"),
          "batch8_p50_ms" -> median(latMs),
          "batch8_tail_ms" -> sorted(tail),
          "batch8_tail_pct" -> 100.0 * (tail + 1) / sorted.length,
          "recall_at_10" -> serve.recall)
      case _ => Map.empty
    }

  /** Plain values → json4s AST. */
  def Json(v: Any): JValue = v match {
    case null => JNull
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case i: Int => JInt(i)
    case l: Long => JLong(l)
    case b: Boolean => JBool(b)
    case s: String => JString(s)
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => (k.toString, Json(x)) })
    case s: Iterable[_] => JArray(s.map(Json).toList)
    case other => JString(other.toString)
  }
}
