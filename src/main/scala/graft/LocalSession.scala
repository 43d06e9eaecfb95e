package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and test suite runs on:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * the legacy nanos-as-long parquet read (`io.Tables.load` normalizes
  * every timestamp encoding from there), no UI and WARN logging. */
object LocalSession {

  /** The host's cores, capped at 32 — the width a bench record is cut at
    * unless `SPARK_GRAFT_CPUS` says otherwise. */
  def defaultCpus: Int = math.min(32, Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCpus(default: Int = defaultCpus): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
