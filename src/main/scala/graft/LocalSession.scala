package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and test suite runs on:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * the legacy nanos-as-long parquet read (`io.Tables.load` normalizes
  * every timestamp encoding from there), no UI and WARN logging.
  *
  * Its generated-code cache holds [[CodegenCacheEntries]] classes, not
  * Spark's default 100: one pass over the catalog at sf0.01 compiles
  * 3118 distinct classes (counted with `CodegenMetrics` at a cache that
  * never evicts); a second pass compiled 5089 classes at 100 entries
  * and 262 at 4096. A static conf, so only the session builder can size
  * it. */
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

  val CodegenCacheEntries = 4096

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
