package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s record logic, without Spark: reading a committed
  * record, deciding whether it is a baseline, and the drift tiers. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private val rec =
    """{"metric":"total","value":3.5,"unit":"sec",""" +
      """"queries":{"q1":1.25,"q2":2,"q3":-1.0},"failed":["q3"],""" +
      """"load":{"cpus":8,"host_cpus":32,"tainted":false},""" +
      """"engine":{"serve_batch_n":2000,"serve_knn_ms_per_query_med":0.5},""" +
      """"clustered":{},"sf":"/data/sf0.1"}"""

  test("a record string gives its query times, load.cpus and sf") {
    val r = Record.parse(rec)
    assert(r.queries == Map("q1" -> 1.25, "q2" -> 2.0, "q3" -> -1.0))
    assert(r.cpus.contains(8))
    assert(r.sf.contains("/data/sf0.1"))
    assert(r.engine == Map("serve_batch_n" -> 2000.0,
      "serve_knn_ms_per_query_med" -> 0.5))
  }

  test("a record missing queries, load or sf reads as empty, never as a baseline") {
    val r = Record.parse("""{"metric":"total","value":1.0}""")
    assert(r.queries.isEmpty && r.engine.isEmpty)
    assert(r.cpus.isEmpty && r.sf.isEmpty)
    assert(!r.comparable(8, "/data/sf0.1"))
  }

  test("a record is comparable only at the same local[N] and the same sf") {
    val r = Record.parse(rec)
    assert(r.comparable(8, "/data/sf0.1"))
    assert(!r.comparable(32, "/data/sf0.1"), "cpus mismatch")
    assert(!r.comparable(8, "/data/sf0.01"), "sf mismatch")
  }

  test("drift tiers at their boundaries") {
    // gate: over 2x AND over 0.5 s slower
    assert(driftTier(2.61, 1.3).contains(DriftGate))
    assert(driftTier(2.0, 1.0).contains(DriftNote), "exactly 2x is not the gate")
    assert(driftTier(0.75, 0.25).contains(DriftNote), "3x but 0.5 s is not the gate")
    // note: over 1.5x AND over 0.3 s slower, under the gate
    assert(driftTier(1.51, 1.0).contains(DriftNote))
    assert(driftTier(1.5, 1.0).isEmpty, "exactly 1.5x is no tier")
    assert(driftTier(0.5, 0.25).isEmpty, "2x but 0.25 s is no tier")
    // inflated baseline: the committed time over 2x AND over 0.5 s slower
    assert(driftTier(1.0, 2.01).contains(Inflated))
    assert(driftTier(1.0, 2.0).isEmpty, "exactly 2x is no tier")
    assert(driftTier(0.25, 0.75).isEmpty, "3x but 0.5 s is no tier")
    // a failed side (-1) has no tier
    assert(driftTier(-1.0, 1.0).isEmpty)
    assert(driftTier(5.0, -1.0).isEmpty)
  }

  test("load-suspect spread and serve drift at their boundaries") {
    assert(isSuspect(0.5, 1.51))
    assert(!isSuspect(0.5, 1.5), "exactly 3x is not suspect")
    assert(!isSuspect(0.125, 0.625), "5x but 0.5 s is not suspect")
    assert(!isSuspect(-1.0, -1.0))
    assert(serveDrift(1.16, 1.0))
    assert(serveDrift(1.0, 1.16))
    assert(!serveDrift(1.15, 1.0))
    assert(!serveDrift(1.0, 1.14))
  }

  test("pairsJson lists (current, committed) in 3-decimal seconds") {
    assert(pairsJson(Nil) == "{}")
    assert(pairsJson(Seq("a" -> (1.23456, 0.5), "b" -> (2.0, 1.0))) ==
      """{"a":[1.235,0.500],"b":[2.000,1.000]}""")
  }

  test("the committed BENCH_FULL.json reads to catalog query times") {
    val r = Record.parse(Files.readString(Paths.get("BENCH_FULL.json")))
    assert(r.queries.nonEmpty)
    val unknown = r.queries.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"not catalog queries: $unknown")
  }
}
