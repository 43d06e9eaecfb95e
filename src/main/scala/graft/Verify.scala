package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name regex filter for fast
    // local iteration (the driver always runs the full catalog)
    val (sfDir, outDir) = (args(0), args(1))
    val keep: String => Boolean =
      if (args.length > 2) {
        val res = args(2).split(",").map(_.r)
        (n: String) => res.exists(_.pattern.matcher(n).matches())
      } else (_: String) => true
    val spark = LocalSession(LocalSession.envCpus(default = 4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // each kept oracle is built for THIS dir (a generated one reads its
    // trained artifact like its query does); a failing entry is named
    // and left out, and the file is still written
    val json = SparkEntry.oracles.filter(e => keep(e._1)).flatMap {
      case (name, oracle) =>
        try Some(s"${q(name)}: ${q(oracle(spark, sfDir))}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] oracle $name failed: ${e.getMessage}")
          None
        }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
