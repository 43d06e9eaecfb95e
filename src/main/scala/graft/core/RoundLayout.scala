package graft.core

import org.apache.spark.sql.{DataFrame, RuntimeConfig}

/** Layout helpers for ITERATIVE operators (PageRank, k-core, label
  * propagation): keep per-round state pinned to one hash layout so the
  * round joins are exchange-free, at a width derived from the data
  * instead of the session constant. Extracted r17 after measuring that
  * the designed layout reuse never fired (see
  * [[ckptKeepPartitioning]]).
  *
  * CONCURRENCY (r18, VERDICT r17 #7 / ADVICE r17): both helpers scope a
  * session-wide conf (save → mutate → restore). Scopes on the SAME
  * session are serialized through a per-session reentrant lock, so two
  * concurrent iterative operators can no longer interleave their
  * save/restore pairs and restore a stale value. What the lock cannot
  * do is isolate the conf from OTHER queries planned concurrently on
  * the same session while a scope is open (those would need
  * `newSession()` plumbing through every operator) — so the residual
  * precondition, documented on the public entry points (PageRank,
  * kCore, connectedComponents), is: don't plan UNRELATED queries on the
  * same SparkSession concurrently with an iterative graph operator.
  * Catalog/bench/Verify drive queries sequentially; streaming doors use
  * their own micro-batch sessions.
  */
object RoundLayout {

  // one lock per live SparkSession (weak keys: a stopped session's
  // entry must not pin it in memory); reentrant because
  // ckptKeepPartitioning runs inside withShufflePartitions scopes
  private val locks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.util.concurrent.locks.ReentrantLock])

  private def lockFor(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.locks.ReentrantLock =
    locks.synchronized {
      var l = locks.get(spark)
      if (l == null) { l = new java.util.concurrent.locks.ReentrantLock; locks.put(spark, l) }
      l
    }

  /** Serialize a conf-scoping block against other RoundLayout scopes on
    * the same session (reentrant — nested scopes on one thread are
    * fine). */
  private def scoped[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    val l = lockFor(spark)
    l.lock()
    try body finally l.unlock()
  }

  /** localCheckpoint that actually PRESERVES hash partitioning: under
    * AQE, `Dataset.localCheckpoint` records `UnknownPartitioning` (the
    * adaptive plan's final partitioning is not known at checkpoint
    * time), so a checkpointed pre-partitioned table silently
    * re-exchanges at every downstream join keyed on its layout —
    * measured r17: every PageRank round re-shuffled the edge table the
    * build had just partitioned (5 of the 6 edge-table exchanges in
    * graph_pagerank's plan). Disabling AQE for just the checkpoint
    * materialization makes the captured LogicalRDD carry the real
    * `hashpartitioning(k, n)`; joins against it — under AQE or not —
    * then elide the exchange. Verified against Spark 4.1.2. */
  def ckptKeepPartitioning(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    scoped(spark) {
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try df.localCheckpoint()
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  /** SCALE-ADAPTIVE round width: pinning the per-round layout also pins
    * its WIDTH — AQE can no longer coalesce the rounds' stages, so a
    * fixed `spark.sql.shuffle.partitions` width runs fixture-scale
    * graphs as stacks of near-empty tasks (measured r17: 32-wide
    * rounds at sf0.1 = 500+ tasks of a few ms compute and ~50-150 ms
    * scheduling overhead each). Derive the width from the row count —
    * `spark.graft.graph.rowsPerPartition` rows per partition (default
    * 256k ≈ 10 MB of edge rows; production sessions tune the target or
    * raise shuffle.partitions, which caps the result) — so small
    * inputs get compute-bearing tasks and large inputs get the full
    * configured parallelism AND the exchange elision. */
  def roundPartitions(df: DataFrame, nRows: Long): Int = {
    val conf = df.sparkSession.conf
    val target = rowsPerPartition(conf,
      "spark.graft.graph.rowsPerPartition", 262144L)
    val cap = conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min((nRows + target - 1) / target, cap.toLong)).toInt
  }

  /** A positive rows-per-partition target read from session conf `key`
    * (`default` when unset). A malformed or non-positive value fails
    * NAMING THE KEY, not as a bare NumberFormatException deep inside a
    * graph loop or a silent fallback (ADVICE r17). */
  private[graft] def rowsPerPartition(conf: RuntimeConfig, key: String,
      default: Long): Long =
    conf.getOption(key).map { v =>
      val t = try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a positive integer row count, got '$v'")
      }
      require(t > 0, s"$key must be positive, got '$v'")
      t
    }.getOrElse(default)

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `p`: a
    * NEW exchange planned at the session width (e.g. a per-round
    * aggregation's) would otherwise cascade every downstream join back
    * to that width, re-shuffling the very tables the pinned layout
    * exists to keep in place. Serialized against other RoundLayout
    * scopes on the session (see the object scaladoc); any frame the
    * body RETURNS lazily should be materialized inside the scope, or it
    * will plan at whatever width is active when the caller finally runs
    * it. */
  def withShufflePartitions[T](df: DataFrame, p: Int)(body: => T): T = {
    val spark = df.sparkSession
    scoped(spark) {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try body
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }
}
