package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Hierarchical k-means document ids — the reference's NON-RQ id scheme
  * (the NCI-style semantic ids its trie-constrained decoding walks:
  * SURVEY §1.1 "for the non-RQ (hierarchical-KMeans id) variant, a
  * broadcast trie"). Where RQ quantizes full-width RESIDUALS against one
  * codebook per level, HKM descends a TREE: the root KMeans partitions
  * the corpus, then each cluster trains its OWN child KMeans on its
  * members, recursively — sibling subtrees have different centroids, so
  * the id space is a genuine trie, not a complete K-ary product.
  *
  * Nodes with fewer than `2·k` members stop splitting (a k-means over
  * fewer points than centroids is degenerate), so paths are
  * variable-length — exactly the tree shape the reference's trie mask
  * exists for (generation_utils.py:801-819).
  *
  * Scale: training is LEVEL-SYNCHRONOUS — one distributed job per level,
  * not per node. All level-i node codebooks are fit inside a single
  * `flatMapGroups` over (path-prefix) groups (each group trains a local
  * seeded k-means++ over a deterministic bounded sample of its members:
  * [[SampledKMeans]], the trainer RQ and PQ use too),
  * and the level-(i+1) frontier descends by one prefix join. At the
  * reference's K=32/depth-4 geometry that is ~8 Spark jobs total instead
  * of ~33k sequential MLlib fits. The trained trie is one DataFrame of
  * (level, prefix, cents) rows ([[fitLevels]]); assignment
  * ([[assignByLevels]]) and serving ([[beamSearchByLevels]]) descend it
  * by per-level prefix joins, so no codebook is ever driver-resident —
  * at K=32/depth-4/768-d the full codebook set is ~3 GB.
  */
object HierarchicalKMeans {

  /** Per-node k-means seed, derived from the node's path prefix so it is
    * deterministic and partitioning-independent. */
  private[index] def nodeSeed(prefix: String, seed: Long): Long =
    seed ^ (scala.util.hashing.MurmurHash3.stringHash("hkm:" + prefix).toLong
      & 0xFFFFFFFFL)

  /** −‖q − c‖² for every centroid c of one node, in code order, each a
    * sequential double fold: the raw scores of the one node step that
    * assignment ([[argminCode]]) and the beam ([[expandNode]]) take. */
  private def negSqDists(q: Array[Float], cents: Array[Array[Float]]): Array[Double] = {
    val raws = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var j = 0
      while (j < q.length) {
        val diff = q(j).toDouble - cent(j).toDouble
        d += diff * diff
        j += 1
      }
      raws(c) = -d
      c += 1
    }
    raws
  }

  /** Per-level argmin-L2 over one node's centroids (ties → lowest code):
    * the single step the trie walk takes per level. */
  private[index] def argminCode(vec: Array[Float], cents: Array[Array[Float]]): Int = {
    val raws = negSqDists(vec, cents)
    var best = 0
    var bestRaw = -Double.MaxValue
    var c = 0
    while (c < raws.length) {
      if (raws(c) > bestRaw) { bestRaw = raws(c); best = c }
      c += 1
    }
    best
  }

  /** One node's children scored from a beam at `cum`: child `code` gets
    * (cum + r_code) − logz, r the raw scores and logz their log Σ exp
    * ([[graft.core.VectorOps.logSumExp]], in code order). The one
    * frontier-expansion step of both beam plans. */
  private[index] def expandNode(q: Array[Float], cents: Array[Array[Float]],
      cum: Double): Array[Double] = {
    val raws = negSqDists(q, cents)
    val logz = graft.core.VectorOps.logSumExp(raws, 0, raws.length)
    var c = 0
    while (c < raws.length) { raws(c) = cum + raws(c) - logz; c += 1 }
    raws
  }

  /** [[argminCode]] as a column function over primitive arrays. */
  private val extendUdf = udf { (vec: Array[Float], cents: Array[Array[Float]]) =>
    argminCode(vec, cents)
  }

  /** Train the trie, level-synchronously: for each level, ONE two-stage
    * fit job trains every node's codebook ([[SampledKMeans.sampledFit]]), then the
    * frontier descends one level by a PREFIX JOIN against those
    * codebooks. Job count grows with DEPTH, never with node count.
    * Per-node seeds derive from the node's path prefix ([[nodeSeed]]).
    * Nodes with fewer than `2·k` members stop splitting, so paths are
    * variable-length. `docs`: (doc_id LONG, vecCol ARRAY<FLOAT>).
    *
    * The codebooks never land on the driver — each level's (prefix →
    * centroids) stays a DataFrame. At K=32/depth-4/768-d the full
    * codebook set is ~3 GB; a per-level join survives that: low levels
    * have a tiny codebook side (AQE broadcasts it on its own), deep
    * levels have K^level distinct prefixes (a shuffle join distributes
    * evenly) — both regimes stay bounded without hints. An empty corpus
    * (no row with a non-null vector) fails with "empty corpus".
    *
    * @return (level INT, prefix STRING, cents ARRAY<ARRAY<FLOAT>>), one
    *         row per trained node — feed to [[assignByLevels]] and
    *         [[beamSearchByLevels]].
    */
  def fitLevels(docs: DataFrame, vecCol: String, k: Int, depth: Int,
      seed: Long = 42L, maxIter: Int = 20,
      sampleCap: Int = SampledKMeans.SampleCap): DataFrame = {
    require(k >= 2 && depth >= 1)
    val spark = docs.sparkSession
    import spark.implicits._

    var frontier: Dataset[(String, Long, Array[Float])] = docs
      .where(col(vecCol).isNotNull) // a doc with no vector can't cluster
      .select(col("doc_id").cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => ("", id, v) }
    val kept = mutable.ArrayBuffer.empty[Dataset[_]]
    val levels = mutable.ArrayBuffer.empty[DataFrame]

    for (level <- 0 until depth) {
      val minSize = if (level == 0) 1L else 2L * k
      val fitted = SampledKMeans.sampledFit(frontier, minSize, seed, sampleCap,
          (v: Array[Float]) => v.map(_.toDouble)) { (prefix, sample) =>
        SampledKMeans.localKMeans(sample, k, nodeSeed(prefix, seed), maxIter)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // materialize: used by this level's output AND the join
      if (fitted.count() == 0L && level == 0) {
        fitted.unpersist(blocking = false)
        throw new IllegalArgumentException(
          s"HierarchicalKMeans.fitLevels: empty corpus (no row has a non-null $vecCol)")
      }
      kept += fitted
      levels += fitted.toDF("prefix", "cents")
        .select(lit(level).as("level"), col("prefix"), col("cents"))

      if (level + 1 < depth) {
        val next = frontier.toDF("prefix", "doc_id", "vec")
          .join(fitted.toDF("prefix", "cents"), Seq("prefix")) // leaves drop
          .select(
            when(col("prefix") === "",
              extendUdf(col("vec"), col("cents")).cast("string"))
              .otherwise(concat(col("prefix"), lit(","),
                extendUdf(col("vec"), col("cents")).cast("string")))
              .as("prefix"),
            col("doc_id"), col("vec"))
          .as[(String, Long, Array[Float])]
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        kept += next
        frontier = next
      }
    }
    val out = levels.reduce(_ unionByName _).localCheckpoint()
    kept.foreach(_.unpersist(blocking = false))
    out
  }

  /** Distributed trie descent over [[fitLevels]] output: per level, LEFT
    * join the current (doc, prefix) state with the (prefix, cents) rows
    * and extend by the argmin code; docs whose node stopped splitting
    * keep their (shorter) path — the per-node argmin walk, with no
    * driver-resident codebooks and nothing broadcast but what AQE chooses
    * to. Every level joins the same frame: a node's prefix has exactly
    * `level` codes, so a level filter would select nothing the join
    * does not. A row whose vector is NULL descends nowhere: its path is
    * empty. The tests replay the walk in plain Scala
    * (`HkmReference.assign`). Returns (idCol, path ARRAY<INT>).
    *
    * Jobs: at any depth ≥ 2, two broadcasts and the result (HkmSpec pins
    * it). The optimizer carries level 0's literal root prefix "" into
    * the node frame, so level 0 joins the root row alone, a broadcast of
    * its own; levels ≥ 1 share one broadcast of the whole frame. Level 0
    * cannot reuse that one without joining the whole frame: past the
    * broadcast threshold (deep tries at scale) that join would shuffle
    * the corpus where today it broadcasts one row.
    */
  def assignByLevels(docs: DataFrame, levels: DataFrame, depth: Int,
      idCol: String = "doc_id", vecCol: String = "vec"): DataFrame = {
    val nodes = levels.select(col("prefix").as("__prefix"), col("cents").as("__cents"))
    var state = docs.select(col(idCol), col(vecCol).cast("array<float>")
      .as("__vec")).withColumn("__prefix", lit(""))
    for (_ <- 0 until depth) {
      state = state
        .join(nodes, Seq("__prefix"), "left")
        .select(
          when(col("__cents").isNull || col("__vec").isNull, col("__prefix")) // path ends
            .when(col("__prefix") === "",
              extendUdf(col("__vec"), col("__cents")).cast("string"))
            .otherwise(concat(col("__prefix"), lit(","),
              extendUdf(col("__vec"), col("__cents")).cast("string")))
            .as("__prefix"),
          col(idCol), col("__vec"))
    }
    state.select(col(idCol),
      when(col("__prefix") === "", array().cast("array<int>"))
        .otherwise(split(col("__prefix"), ",").cast("array<int>"))
        .as("path"))
  }

  /** Trie-masked beam search over [[fitLevels]] output — the
    * generation-side analog of the reference's trie-constrained decoding
    * (generation_utils.py:709-1011) and the CodebookBeamSearch.search
    * shape: `depth` rounds of (expand every beam's node into its ≤K
    * children, each scored by the node-local log-softmax of −‖q − child‖²
    * accumulated along the path — [[expandNode]] — then keep each query's
    * top `beams` by (score descending, path ascending)). The trie mask
    * stays structural: only existing children expand, and a beam whose
    * prefix has no codebook is a leaf and carries unchanged (competing on
    * its shorter-path score). Rows that share a `qidCol` rank together,
    * each expanding against its own vector; a row whose vector is NULL
    * has no beams. Returns (qidCol, rank LONG, path ARRAY<INT>,
    * score DOUBLE).
    *
    * Two plans give the same rows, scores equal to the bit:
    *  - The driver plan serves a driver-resident batch — a query frame
    *    whose optimized plan is a `LocalRelation`, as the serving path
    *    sends it — when the (prefix, cents) frame's plan-stats size is
    *    within `spark.sql.autoBroadcastJoinThreshold` (> 0), the size
    *    Spark would broadcast anyway. One job collects the trie's nodes;
    *    the walk runs its `depth` rounds on the driver, replaying the
    *    window's order (scores as Spark sorts doubles: NaN first, −0.0
    *    equal to 0.0), and the answer is a local frame. It runs when it
    *    is called, so its errors surface at the call: time the call, not
    *    only the action on the returned frame.
    *  - The distributed plan serves every other batch (a cached or
    *    table-backed one, as the catalog's and `graft.Bench`'s) or trie:
    *    per round, join the beam state to the (prefix, cents) rows — one
    *    frame for every level, broadcast as in [[assignByLevels]] — explode
    *    the children and cut with a per-query window. Nothing is
    *    driver-resident: level-0 codebooks are one row, deep levels are
    *    K^level rows that join distributed; beam state is |queries| ×
    *    beams rows per round.
    *
    * Bit parity with a sequential replay is engineered, not hoped for:
    * raws / max / Σexp fold in code order in one [[expandNode]] call per
    * (beam × node), and the accumulation evaluates `(cum + r) − logz`
    * left to right. Ties rank by path ascending (Spark array ordering is
    * shorter-prefix-first lexicographic, as Scala's `seqOrdering`).
    * HkmSpec and StressSpec pin both plans to the plain-Scala
    * `HkmReference.beam`; the hkm_beam oracle replays it in DuckDB.
    */
  def beamSearchByLevels(queries: DataFrame, levels: DataFrame, depth: Int,
      beams: Int, qidCol: String = "query_id",
      qvecCol: String = "qvec"): DataFrame = {
    require(beams >= 1 && depth >= 1)
    val nodes = levels.select(col("prefix").as("__prefix"), col("cents").as("__cents"))
    beamOnDriver(queries, nodes, depth, beams, qidCol, qvecCol)
      .getOrElse(distributedBeam(queries, nodes, depth, beams, qidCol, qvecCol))
  }

  /** The children of one beam row's node as (cum + r) − logz per code. */
  private val expandUdf = udf { (qvec: Array[Float], cents: Array[Array[Float]], cum: Double) =>
    expandNode(qvec, cents, cum)
  }

  /** [[beamSearchByLevels]]' distributed plan over the (__prefix,
    * __cents) frame. */
  private def distributedBeam(queries: DataFrame, nodes: DataFrame, depth: Int,
      beams: Int, qidCol: String, qvecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var state = queries
      .select(col(qidCol), col(qvecCol).cast("array<float>").as("__qvec"))
      .where(col("__qvec").isNotNull) // no vector, no beams
      .withColumn("__path", array().cast("array<int>"))
      .withColumn("__cum", lit(0.0))
      .withColumn("__done", lit(false))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("__cum").desc, col("__path").asc)
    for (_ <- 0 until depth) {
      val joined = state
        .withColumn("__prefix", array_join(col("__path"), ","))
        .join(nodes, Seq("__prefix"), "left")
      // ONE conditional expand instead of an expanded/carried two-branch
      // union: referencing `joined` twice doubled the logical subtree per
      // level (~2^depth plan nodes); a single select keeps the plan —
      // and its optimization time — linear in depth. A leaf/done beam
      // explodes into its own 1-element carry, an interior beam into its
      // ≤K scored children; semantics (and bit parity) are unchanged.
      val carry = array(struct(col("__path").as("p"), col("__cum").as("c"),
        lit(true).as("d")))
      val expand = transform(
        expandUdf(col("__qvec"), col("__cents"), col("__cum")),
        (score, code) => struct(concat(col("__path"), array(code)).as("p"),
          score.as("c"), lit(false).as("d")))
      state = joined
        .select(col(qidCol), col("__qvec"),
          explode(when(col("__done") || col("__cents").isNull, carry)
            .otherwise(expand)).as("__e"))
        .select(col(qidCol), col("__qvec"), col("__e.p").as("__path"),
          col("__e.c").as("__cum"), col("__e.d").as("__done"))
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= beams)
        .drop("__rk")
    }
    state
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col(qidCol), col("rank"), col("__path").as("path"),
        col("__cum").as("score"))
  }

  /** One beam of the driver walk: the batch row it expands against. */
  private final case class Beam(row: Int, path: Vector[Int], cum: Double, done: Boolean)

  /** [[beamSearchByLevels]]' driver plan, or None when the batch is not
    * driver-resident or the trie is over the broadcast threshold. */
  private def beamOnDriver(queries: DataFrame, nodes: DataFrame, depth: Int,
      beams: Int, qidCol: String, qvecCol: String): Option[DataFrame] = {
    val spark = queries.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0 ||
        !queries.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] ||
        nodes.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
      return None
    import spark.implicits._
    // the batch: rows of a LocalRelation, no job; rows that share an id
    // form one group, as in the window's partition
    val ids = queries.select(col(qidCol)).collect().map(_.get(0))
    val vecs = queries.select(col(qvecCol).cast("array<float>")).as[Array[Float]].collect()
    val groups = mutable.LinkedHashMap.empty[Option[Any], mutable.ArrayBuffer[Beam]]
    for (i <- ids.indices if vecs(i) != null)
      groups.getOrElseUpdate(Option(ids(i)), mutable.ArrayBuffer.empty) +=
        Beam(i, Vector.empty, 0.0, done = false)
    val schema = beamSchema(queries.select(col(qidCol)).schema.head)
    if (groups.isEmpty)
      return Some(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))

    // the one job: prefix → the node rows the join would match
    val trie: Map[String, Seq[Array[Array[Float]]]] = nodes
      .as[(String, Array[Array[Float]])].collect().toSeq
      .filter(_._1 != null).groupBy(_._1)
      .map { case (prefix, rows) => prefix -> rows.map(_._2) }
    var frontier = groups.values.toSeq
    for (_ <- 0 until depth) {
      frontier = frontier.map { group =>
        val next = group.flatMap { b =>
          val matched =
            if (b.done) Nil else trie.getOrElse(b.path.mkString(","), Nil)
          if (matched.isEmpty) Seq(b.copy(done = true))
          else matched.flatMap { cents =>
            if (cents == null) Seq(b.copy(done = true))
            else expandNode(vecs(b.row), cents, b.cum).zipWithIndex.map {
              case (score, code) => Beam(b.row, b.path :+ code, score, done = false)
            }
          }
        }
        // the window's order: (cum DESC, path ASC)
        next.sortWith((a, b) =>
          graft.core.VectorOps.windowOrder(a.cum, a.path, b.cum, b.path) < 0)
          .take(beams)
      }
    }
    val rows = frontier.flatMap(group => group.zipWithIndex.map { case (b, r) =>
      Row(ids(b.row), r + 1L, b.path, b.cum)
    })
    Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  /** The schema of [[beamSearchByLevels]]' distributed plan, for a query
    * id column `qid`: the driver plan builds its answer on it. */
  private def beamSchema(qid: StructField): StructType = StructType(Seq(qid,
    StructField("rank", LongType, nullable = false),
    StructField("path", ArrayType(IntegerType, containsNull = true), nullable = false),
    StructField("score", DoubleType, nullable = false)))
}
