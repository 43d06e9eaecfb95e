package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._

/** Dev tool: empirical per-query breakdown for optimization work — for
  * each named catalog query, a warm run then a measured run with a
  * listener capturing job/stage/task counts, summed task wall-clock,
  * executor CPU, GC, shuffle bytes, and (optionally) the formatted
  * plan written to a file. The measurement behind the r17 optimization
  * notes: fixture-scale cost splits into per-job fixed overhead
  * (jobs × ~50-200 ms) vs genuine task work (task_sec), and the two
  * demand different fixes.
  *
  * Prints one JSON line per query on stdout, and one `[stage]` line per
  * completed stage (warm and measured runs) on stderr. The warm run of
  * `pipeline_curate_export` builds the session-memoized curation chain
  * and its token export, so with `SPARK_GRAFT_CHAIN_TRACE=1` it also
  * prints that build's per-stage `[chain]` lines.
  *
  * Usage: runMain graft.OptProbe <sfDir> <queryRegex> [planOutDir]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: OptProbe <sfDir> <queryRegex> [planOutDir]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val pattern = args(1)
    val planDir = if (args.length > 2) Some(args(2)) else None
    val spark = LocalSession(LocalSession.envCpus())

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = s.stageInfo
        val m = i.taskMetrics
        System.err.println(f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"run=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
          f"gc=${m.jvmGCTime / 1e3}%5.2fs fetchWait=${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.2fs " +
          f"ser=${m.resultSerializationTime / 1e3}%5.2fs deser=${m.executorDeserializeTime / 1e3}%6.2fs " +
          i.name.take(90))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    // session warmup like Bench
    spark.range(1000).select(org.apache.spark.sql.functions.avg(
      org.apache.spark.sql.functions.col("id")))
      .write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.filter(_.matches(pattern)).toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run: steady-state measurement (parquet footers, JIT, caches)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d, s"${name}.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      }
      // drain before the reset and after the measured run, so the counts
      // hold exactly the measured run's events
      ListenerBusDrain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0L); cpuNs.set(0L); gcMs.set(0L)
      shufRead.set(0L); shufWrite.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      println(f"""{"query":"$name","sec":$sec%.3f,"jobs":${jobs.get()},"stages":${stages.get()},"tasks":${tasks.get()},"task_sec":${taskMs.get() / 1e3}%.2f,"cpu_sec":${cpuNs.get() / 1e9}%.2f,"gc_sec":${gcMs.get() / 1e3}%.2f,"shuf_read_mb":${shufRead.get() / 1e6}%.1f,"shuf_write_mb":${shufWrite.get() / 1e6}%.1f}""")
    }
    spark.stop()
  }
}
