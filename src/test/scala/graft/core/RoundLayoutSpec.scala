package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RoundLayout's conf scoping under concurrency (VERDICT r17 #7): two
  * iterative operators racing on the same session must not interleave
  * their save/mutate/restore pairs — each must compute the correct
  * result AND the session conf must come back to its pre-race value.
  * Also pins the named-key failure for a malformed
  * `spark.graft.graph.rowsPerPartition` or
  * `spark.graft.artifact.rowsPerPartition` (ADVICE r17).
  */
class RoundLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("two concurrent iterative operators: correct results, conf restored") {
    val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")

    // K4 on {1..4} (4-core of itself at k=3) plus a tail that peels
    val kcEdges = ((for (a <- 1L to 4L; b <- 1L to 4L if a < b)
      yield (a, b)) ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    // two duplicate clusters {10,11,12} and {20,21}
    val ccEdges = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")

    // race the two operators 4 times; each iteration runs both loops
    // concurrently through RoundLayout's conf scopes
    (1 to 4).foreach { _ =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fKc = Future {
        graft.pipeline.GraphOps.kCore(kcEdges, "src", "dst", k = 3)
          .as[(Long, Long)].collect().toMap
      }
      val fCc = Future {
        graft.pipeline.Dedup.connectedComponents(ccEdges)
          .as[(Long, Long)].collect().toMap
      }
      val kc = Await.result(fKc, 120.seconds)
      val cc = Await.result(fCc, 120.seconds)
      assert(kc == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
      assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L))
    }

    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevWidth)
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == prevAqe)
  }

  test("malformed rowsPerPartition conf fails naming the key") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    // the graph-round width and the artifact-cache compaction read their
    // targets through the same parse
    val readers = Seq[(String, () => Any)](
      "spark.graft.graph.rowsPerPartition" ->
        (() => RoundLayout.roundPartitions(df, 100L)),
      "spark.graft.artifact.rowsPerPartition" ->
        (() => graft.index.ArtifactCache.frame(spark,
          s"RoundLayoutSpec/${System.nanoTime()}")(df)))
    readers.foreach { case (key, read) =>
      spark.conf.set(key, "not-a-number")
      try {
        val e = intercept[IllegalArgumentException](read())
        assert(e.getMessage.contains(key))
        spark.conf.set(key, "-5")
        val e2 = intercept[IllegalArgumentException](read())
        assert(e2.getMessage.contains(key))
      } finally spark.conf.unset(key)
    }
  }

  test("roundPartitions derives width from rows, capped at session width") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    assert(RoundLayout.roundPartitions(df, 1L) == 1)
    assert(RoundLayout.roundPartitions(df, 262144L) == 1)
    assert(RoundLayout.roundPartitions(df, 262145L) == 2)
    // cap: session width is 8 in this suite
    assert(RoundLayout.roundPartitions(df, 100L * 262144L) == 8)
  }
}
