package perfbench

import scala.io.Source

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** Reads run records back with json4s and checks their shape.
  *
  * {{{
  * Records FILE...    # every line starting with '{' is one record
  * }}}
  *
  * Prints one summary line per record; exits 1 if any record lacks a
  * field a comparison between runs relies on.
  */
object Records {
  private implicit val formats: Formats = DefaultFormats

  private val e2eKeys = Seq("setup_s", "round_s", "cpu_s", "failed_frac")
  private val counterKeys = Seq("jobs", "stages", "tasks", "failed_tasks",
    "cpu_ms", "run_ms", "gc_ms", "driver_ms", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb")
  private val loadKeys = Seq("effective_cores", "host_cores", "loadavg_start",
    "loadavg_end", "busy_cores_start", "started_above_quarter")

  /** The problems with one record; empty when it is well formed. */
  def problems(j: JValue): Seq[String] = {
    def has(path: JValue, key: String) = path \ key != JNothing
    val missing =
      Seq("record", "workload", "seed", "trace", "correct", "attempted",
        "failed", "e2e", "counters", "facts", "load").filterNot(has(j, _)) ++
        e2eKeys.filterNot(has(j \ "e2e", _)).map("e2e." + _) ++
        counterKeys.filterNot(has(j \ "counters", _)).map("counters." + _) ++
        loadKeys.filterNot(has(j \ "load", _)).map("load." + _)
    val traced = (j \ "trace").extractOpt[Int].contains(1)
    val traceMissing =
      if (!traced) Nil
      else Seq("layers", "trace_overhead_s", "spans").filterNot(has(j, _))
    val shape =
      if ((j \ "record").extractOpt[String].contains("perfbench") &&
          (j \ "attempted").extractOpt[Int].exists(_ >= 1)) Nil
      else Seq("not a perfbench record with attempted >= 1")
    missing.map("missing " + _) ++ traceMissing.map("missing " + _) ++ shape
  }

  def main(args: Array[String]): Unit = {
    var bad = 0
    for (path <- args) {
      val src = Source.fromFile(path)
      try {
        for (line <- src.getLines() if line.startsWith("{")) {
          val j = parse(line)
          val p = problems(j)
          val id = Seq("workload", "seed", "trace")
            .map(k => (j \ k).extractOpt[String].getOrElse("?")).mkString(" ")
          if (p.isEmpty)
            println(f"ok   $id round_s ${(j \ "e2e" \ "round_s").extract[Double]}%.3f")
          else {
            bad += 1
            println(s"bad  $id: ${p.mkString(", ")}")
          }
        }
      } finally src.close()
    }
    if (bad > 0) sys.exit(1)
  }
}
