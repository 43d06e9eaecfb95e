package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.util.SizeEstimator
import graft.core.VectorOps
import graft.index.Codebook

/** Coarse→fine retrieval: the reference's core serving shape
  * (MEVI/main_models.py:3911-4020), with two plans for the same answer.
  *
  * The distributed plan is one declarative join pipeline:
  *
  *   queries → beam-search top-R code tuples (coarse, V6), each beam row
  *             carrying its query's vector
  *           → equi-join cluster index on codes (J3: candidate fetch;
  *             partition-pruned by c0)
  *           → explode members, join embeddings on doc_id (J4)
  *           → exact dot-product re-rank (V2)
  *           → grouped bounded top-k (T2) with the per-(query,doc)
  *             dedup across clusters (A10, main_models.py:3999-4011)
  *             folded in: "max" is the top-k's distinct-id mode, one
  *             aggregate and one shuffle; "sum" dedups in a groupBy
  *             first
  *
  * The driver plan serves a batch that already sits on the driver — a
  * query frame whose optimized plan is a `LocalRelation` (collecting it
  * runs no job) and whose `qvec` is ARRAY<FLOAT> — in two Spark jobs,
  * for `retrieve` with max dedup and no topic mix and for
  * `retrieveBudgeted`: the beam runs on the driver
  * ([[CodebookBeamSearch.searchOne]], the function the beam UDF calls),
  * job 1 is one scan of the cluster index filtered against the
  * predicted tuples in a broadcast set, job 2 is one scan of `docs`
  * that expands each doc into the queries that want it (a broadcast
  * doc → query map) and scores it with the distributed plan's own
  * [[BruteForceKNN.score]] expression, and the top-k runs on the driver
  * in [[TopKHeap]]'s distinct mode — the primitive [[BoundedTopK]] runs.
  * The output is a local frame with the distributed plan's schema
  * ([[TopK.rankedSchema]]), so both plans give the same rows, scores
  * equal to the bit. A cached or table-backed batch (the catalog's,
  * `graft.Bench`'s) takes the distributed plan, and so does any other
  * call. The distributed plan is built only on the branch that returns
  * it: a driver-plan call analyzes no plan it does not run.
  *
  * The driver plan runs when it is called: `retrieve` and
  * `retrieveBudgeted` return a materialized frame for a driver-resident
  * batch, and its errors surface at the call. A caller that times only
  * the action on the returned frame times none of the driver plan, so
  * time the call and the action together. Every other batch gets a lazy
  * plan, as before.
  *
  * Guard: job 2 ships the doc → query-row map and the vectors of the
  * rows with candidates to every executor, and collects one row per
  * candidate (query, doc) pair. The call falls back to the distributed
  * plan when that payload, measured with Spark's `SizeEstimator`,
  * exceeds `spark.sql.autoBroadcastJoinThreshold` — Spark's own limit on
  * what it broadcasts — or when that threshold is ≤ 0 (broadcasts
  * disabled; checked first, before any work). The payload is known only
  * after job 1, so a fallback costs the driver beam and one index scan
  * on top of the distributed plan.
  *
  * Query rows: a row with a NULL `query_id` or a NULL `qvec` gets no
  * hits. Rows that share a `query_id` are ranked together, as one group;
  * each row's candidates are scored against that row's own vector.
  *
  * Candidate count per query ≈ ndoc@cluster-R ≪ corpus: the join on
  * predicted codes is the engine's partition-pruning analog of the
  * reference's "only score docs in predicted clusters".
  */
object CoarseFineRetriever {

  /** Index-side scoring (code assignment AND beam probe) is always L2:
    * the codebook is L2-trained (k-means), so probing in any other
    * geometry can miss the cluster a doc was assigned to — including the
    * query's own. The reference keeps assign/probe consistent the same way
    * (one dist_mode through compute_scores for both, pq.py:124-131 +
    * get_rq_document_cluster); an ip-geometry index needs an ip-trained
    * quantizer (the iptol2 reduction in VectorOps is the bridge). The
    * `metric` parameter governs the EXACT re-rank (and the budget prune,
    * which approximates that re-rank on reconstructions). */

  /** Per-membership doc probability table for the topic-model mix:
    * dprob = doc · reconstruct(codes) — the engine's stand-in for the
    * reference's `result_proba` (each doc scored by the document encoder
    * against its cluster's RECONSTRUCTION, gen_doc2index_mapping,
    * MEVI/main_models.py:3310-3369; the generate scores there are raw
    * dot products, so a dot IS the faithful shape). One row per
    * (doc, membership) from [[graft.index.CodeAssigner.assignTopK]].
    */
  def docClusterProba(
      assignments: DataFrame,
      docs: DataFrame,
      codebook: Codebook): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(codebook)
    val dprobUdf = udf { (vec: Array[Float], codes: Seq[Int]) =>
      val rec = bc.value.reconstruct(codes.toArray)
      var s = 0.0; var j = 0
      while (j < vec.length) { s += vec(j).toDouble * rec(j).toDouble; j += 1 }
      s
    }
    assignments.select("doc_id", "codes")
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("codes"),
        dprobUdf(col("vec"), col("codes")).as("dprob"))
  }

  /** @param queries       (query_id, qvec ARRAY<FLOAT>)
    * @param clusterIndex  (codes ARRAY<INT>, doc_ids ARRAY<LONG>) from
    *                      [[graft.index.ClusterIndexBuilder]]
    * @param docs          (doc_id, vec ARRAY<FLOAT>) — the full corpus
    * @param dedup         "max" | "sum" (A10 score-dedup mode; the
    *                      reference's multiclus_score_aggr); anything
    *                      else is an IllegalArgumentException
    * @param topicMix      optional (doc_id, codes, dprob) table (see
    *                      [[docClusterProba]]): scores become
    *                      q_proba·(r·dprob + (1−r)·qd) per membership —
    *                      `get_inference_scores`,
    *                      MEVI/main_models.py:3539-3552, with q_proba =
    *                      exp(beam cum logprob), the reference's
    *                      nci_scores. None = plain qd (use_topic_model
    *                      off).
    * @param topicRatio    the reference's --topic_score_ratio r ∈ [0,1]
    * @return (query_id, rank, doc_id, score); for a driver-resident batch
    *         with max dedup and no topic mix, computed by this call (see
    *         the object scaladoc), otherwise a lazy plan
    */
  def retrieve(
      queries: DataFrame,
      clusterIndex: DataFrame,
      docs: DataFrame,
      codebook: Codebook,
      beams: Int = 10,
      k: Int = 100,
      metric: String = "ip",
      dedup: String = "max",
      topicMix: Option[DataFrame] = None,
      topicRatio: Double = 0.5): DataFrame = {

    if (dedup != "max" && dedup != "sum")
      throw new IllegalArgumentException(
        s"""dedup must be "max" or "sum", got "$dedup"""")
    def distributed = retrievePlan(queries, clusterIndex, docs, codebook,
      beams, k, metric, dedup, topicMix, topicRatio)
    if (dedup == "max" && topicMix.isEmpty)
      onDriver(queries, clusterIndex, docs, codebook, beams, k, metric,
        budget = None).getOrElse(distributed)
    else distributed
  }

  /** [[retrieve]]'s distributed plan. */
  private def retrievePlan(
      queries: DataFrame,
      clusterIndex: DataFrame,
      docs: DataFrame,
      codebook: Codebook,
      beams: Int,
      k: Int,
      metric: String,
      dedup: String,
      topicMix: Option[DataFrame],
      topicRatio: Double): DataFrame = {
    val coarse = CodebookBeamSearch.searchKeepingVec(
      queries.where(col("query_id").isNotNull), codebook, beams)

    // J3: candidate clusters → members. Equi-join on the code tuple.
    // The topic mix needs the membership tuple and its beam logprob
    // downstream; the plain path drops both right here.
    val candidates = coarse
      .join(clusterIndex.select("codes", "doc_ids"), Seq("codes"))
      .select(col("query_id"), col("qvec"), col("codes"), col("logprob"),
        explode(col("doc_ids")).as("doc_id"))

    // J4 + V2: fetch embeddings, score against the beam row's own query
    // vector. `codes` rides along: the sum-dedup below folds in
    // membership order.
    val qd = BruteForceKNN.score(metric)(col("qvec"), col("vec"))
    val scored = topicMix match {
      case None =>
        candidates
          .join(docs, Seq("doc_id"))
          .select(col("query_id"), col("doc_id"), col("codes"), qd.as("score"))
      case Some(mix) =>
        val r = topicRatio
        candidates
          .join(docs, Seq("doc_id"))
          .join(mix, Seq("doc_id", "codes"))
          .select(col("query_id"), col("doc_id"), col("codes"),
            (exp(col("logprob")) *
              (lit(r) * col("dprob") + lit(1.0 - r) * qd)).as("score"))
    }

    // A10: a doc can appear via several predicted clusters. 'sum'
    // (multiclus_score_aggr='add', main_models.py:3999-4011) folds in
    // membership-tuple order, NOT sum(): float addition is
    // order-sensitive and partial-agg order varies with partitioning, so
    // at T ≥ 3 memberships an unordered sum is not replay-deterministic
    // (the BM25 term-fold contract; the DuckDB twin orders by the same
    // tuple). 'max' folds into T2's distinct-id mode, which keeps each
    // doc's better-ranked score: that is max() for every score but NaN
    // (max picks it, the top-k ranks it last) and -0.0 (max may keep it
    // over 0.0).
    if (dedup == "sum")
      TopK.ranked(scored.groupBy("query_id", "doc_id")
        .agg(aggregate(
          array_sort(collect_list(struct(col("codes"), col("score")))),
          lit(0.0),
          (acc, s) => acc + s.getField("score")).as("score")), k)
    else TopK.ranked(scored, k, distinctIds = true)
  }

  /** Budgeted variant: before fetching ANY embeddings, re-score candidate
    * clusters exactly against their RQ-reconstructed vectors (all members
    * of a cluster share one reconstruction) and keep only the best clusters
    * up to ~`budget` candidate docs per query. Then run the exact J4+V2
    * re-rank on the survivors alone.
    *
    * This is the reference's `infer_reconstruct_vector` pruning
    * (MEVI/main_models.py:3938-3942) pushed below the join: at 100 TB the
    * embedding-fetch join is the dominant shuffle, and its input volume
    * drops from ndoc@cluster-R to `budget` per query. The cluster re-score
    * itself is tiny — ≤ beams rows per query against a broadcast codebook.
    *
    * The index is read once: each predicted cluster's chunk rows join the
    * beam rows, and a chunk row's prior is `sum(size(doc_ids))` over the
    * query's window ordered by (rscore desc, codes asc) — a RANGE frame,
    * so it runs through the last chunk of the row's own cluster — minus
    * `csize`: the members of every better cluster.
    *
    * A driver-resident batch is served by this call and returns a
    * materialized frame (see the object scaladoc); any other batch
    * returns a lazy plan.
    */
  def retrieveBudgeted(
      queries: DataFrame,
      clusterIndex: DataFrame,
      docs: DataFrame,
      codebook: Codebook,
      beams: Int = 10,
      k: Int = 100,
      budget: Int = 1000,
      metric: String = "ip"): DataFrame =
    onDriver(queries, clusterIndex, docs, codebook, beams, k, metric,
      budget = Some(budget)).getOrElse(
      budgetedPlan(queries, clusterIndex, docs, codebook, beams, k, budget, metric))

  /** [[retrieveBudgeted]]'s distributed plan. */
  private def budgetedPlan(
      queries: DataFrame,
      clusterIndex: DataFrame,
      docs: DataFrame,
      codebook: Codebook,
      beams: Int,
      k: Int,
      budget: Int,
      metric: String): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(codebook)
    val rscore = udf { (qvec: Array[Float], codes: Seq[Int]) =>
      reconScore(bc.value, metric, qvec, codes.toArray)
    }
    // one row per (query row, predicted cluster): its beam and its
    // query·reconstruction score, vector carried along
    val coarse = CodebookBeamSearch.searchKeepingVec(
        queries.where(col("query_id").isNotNull), codebook, beams)
      .withColumn("rscore", rscore(col("qvec"), col("codes")))

    // keep best clusters until the cumulative member count reaches budget
    val w = Window.partitionBy("query_id")
      .orderBy(col("rscore").desc, col("codes").asc)
    val kept = coarse
      .join(clusterIndex.select("codes", "csize", "doc_ids"), Seq("codes"))
      .withColumn("prior", sum(size(col("doc_ids"))).over(w) - col("csize"))
      .where(col("prior") < budget)

    val scored = kept
      .select(col("query_id"), col("qvec"), explode(col("doc_ids")).as("doc_id"))
      .join(docs, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        BruteForceKNN.score(metric)(col("qvec"), col("vec")).as("score"))

    // a doc in several kept clusters repeats with the same dot product:
    // the distinct-id top-k keeps one copy (= max), no extra shuffle
    TopK.ranked(scored, k, distinctIds = true)
  }

  /** The budget prune's cluster score: the query against the cluster's RQ
    * reconstruction, with the SAME metric as the final re-rank — pruning
    * by ip while re-ranking by l2 would cut the l2-best clusters. ip and
    * cos prune by the dot product (reconstructions aren't normalized). */
  private def reconScore(cb: Codebook, metric: String, qvec: Array[Float],
      codes: Array[Int]): Double = {
    val rec = cb.reconstruct(codes)
    var s = 0.0
    var j = 0
    if (metric == "l2") {
      while (j < qvec.length) {
        val d = qvec(j).toDouble - rec(j).toDouble; s += d * d; j += 1
      }
      -s
    } else {
      while (j < qvec.length) { s += qvec(j).toDouble * rec(j).toDouble; j += 1 }
      s
    }
  }

  /** One chunk row of the cluster index: its `csize` (NULL-able), its
    * `size(doc_ids)` and its non-NULL members. */
  private final case class Chunk(csize: java.lang.Long, size: Int, docs: Array[Long])

  /** Spark's window order for the budget prune: (rscore DESC, codes
    * ASC). */
  private def pruneOrder(a: (Double, Vector[Int]), b: (Double, Vector[Int])): Int =
    VectorOps.windowOrder(a._1, a._2, b._1, b._2)

  /** The driver plan (see the object scaladoc), or None — before any
    * distributed plan is built — when the batch is not driver-resident or
    * the guard trips; `budget` selects the budgeted prune. */
  private def onDriver(
      queries: DataFrame,
      clusterIndex: DataFrame,
      docs: DataFrame,
      codebook: Codebook,
      beams: Int,
      k: Int,
      metric: String,
      budget: Option[Int]): Option[DataFrame] = {
    val spark = queries.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val driverResident =
      queries.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] &&
        queries.schema.exists(f => f.name == "qvec" && (f.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }))
    if (!driverResident || threshold <= 0) return None
    import spark.implicits._
    val sc = spark.sparkContext
    def answer(rows: Seq[Row]): Option[DataFrame] = Some(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), TopK.rankedSchema(queries.schema("query_id").dataType)))

    // the batch: rows of a LocalRelation, no job. The beam reads `qvec`
    // through the encoder the beam UDF uses; scoring reads it as is.
    val batch = queries.select("query_id", "qvec").collect()
    val beamVecs = queries.select("qvec").as[Array[Float]].collect()
    val live = batch.indices.filter(i => !batch(i).isNullAt(0) && beamVecs(i) != null)
    // code tuples as Vectors throughout: one Seq class for every key
    val predicted: Map[Int, Array[Vector[Int]]] = live.map { i =>
      i -> CodebookBeamSearch.searchOne(codebook, beamVecs(i), beams,
        salt = batch(i).get(0).toString).map(_._1.toVector)
    }.toMap
    val wanted = predicted.values.flatten.toSet
    if (wanted.isEmpty) return answer(Nil)

    // job 1: the predicted clusters' chunk rows, one pruned index scan
    val bcWanted = sc.broadcast(wanted)
    val isWanted = udf { (codes: Seq[java.lang.Integer]) =>
      codes != null && bcWanted.value.contains(codes.toVector.asInstanceOf[Vector[Int]])
    }
    val chunkCols = Seq(col("codes"), col("doc_ids")) ++
      budget.map(_ => col("csize").cast("long"))
    val chunks: Map[Vector[Int], Seq[Chunk]] = clusterIndex
      .where(isWanted(col("codes")))
      .select(chunkCols: _*)
      .collect().toSeq
      .map { r =>
        val ids = if (r.isNullAt(1)) Seq.empty[Any] else r.getSeq[Any](1)
        r.getSeq[Int](0).toVector -> Chunk(
          if (budget.isEmpty || r.isNullAt(2)) null else r.getLong(2),
          ids.length,
          ids.collect { case d: Number => d.longValue }.toArray)
      }
      .groupBy(_._1).map { case (codes, cs) => codes -> cs.map(_._2) }

    // the (query row, chunk) pairs whose members are scored
    val fetched: Seq[(Int, Chunk)] = budget match {
      case None =>
        for (i <- live; codes <- predicted(i); ch <- chunks.getOrElse(codes, Nil))
          yield (i, ch)
      case Some(b) =>
        // the distributed window replayed per query_id: a chunk row's
        // prior is the member count through its last peer minus its csize
        val rows = for {
          i <- live
          codes <- predicted(i)
          cs <- chunks.get(codes).toSeq
          r = reconScore(codebook, metric, beamVecs(i), codes.toArray)
          ch <- cs
        } yield (batch(i).get(0), (r, codes), i, ch)
        rows.groupBy(_._1).values.toSeq.flatMap { group =>
          val sorted = group.sortWith((x, y) => pruneOrder(x._2, y._2) < 0)
          val kept = mutable.ArrayBuffer.empty[(Int, Chunk)]
          var through = 0L
          var from = 0
          while (from < sorted.length) {
            var to = from
            while (to < sorted.length && pruneOrder(sorted(from)._2, sorted(to)._2) == 0) {
              through += sorted(to)._4.size
              to += 1
            }
            for (e <- sorted.slice(from, to) if e._4.csize != null && through - e._4.csize < b)
              kept += ((e._3, e._4))
            from = to
          }
          kept
        }
    }

    // doc → the query rows that want it, each row once
    val want = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    for ((i, ch) <- fetched.sortBy(_._1); d <- ch.docs) {
      val rows = want.getOrElseUpdate(d, mutable.ArrayBuffer.empty[Int])
      if (rows.isEmpty || rows.last != i) rows += i
    }
    if (want.isEmpty) return answer(Nil)
    // what job 2 ships to every executor: the doc → rows map and the
    // vectors of the rows it names, sized against Spark's broadcast limit
    val scoredRows = want.valuesIterator.flatten.toSet
    val qvecs: Array[Array[java.lang.Float]] = batch.indices.map(i =>
      if (scoredRows(i)) batch(i).getSeq[java.lang.Float](1).toArray else null).toArray
    val plan = (want.map { case (d, rs) => d -> rs.toArray }, qvecs)
    if (SizeEstimator.estimate(plan) > threshold) return None

    // job 2: one docs scan, each doc expanded into its query rows and
    // scored with the distributed plan's expression
    val bcPlan = sc.broadcast(plan)
    val rowsOf = udf { (d: Long) => bcPlan.value._1.getOrElse(d, Array.empty[Int]) }
    val qvecOf = udf { (i: Int) => bcPlan.value._2(i) }
    val scored = docs
      .select(explode(rowsOf(col("doc_id").cast("long"))).as("__row"),
        col("doc_id").cast("long").as("doc_id"), col("vec"))
      .select(col("__row"), col("doc_id"), col("vec"), qvecOf(col("__row")).as("__qvec"))
      .select(col("__row"), col("doc_id"),
        BruteForceKNN.score(metric)(col("__qvec"), col("vec")).as("score"))
      .collect()

    // the top-k per query_id on the driver: rows sharing an id merge, as
    // they do in the distributed groupBy; NULL scores are skipped
    val heaps = mutable.HashMap.empty[Any, TopKHeap]
    for (r <- scored if !r.isNullAt(2))
      heaps.getOrElseUpdate(batch(r.getInt(0)).get(0), new TopKHeap(k, distinct = true))
        .offer(r.getLong(1), r.getDouble(2))
    answer(live.map(i => batch(i).get(0)).distinct.flatMap { id =>
      heaps.get(id).toSeq.flatMap(TopK.rankedRows(id, _))
    })
  }
}
