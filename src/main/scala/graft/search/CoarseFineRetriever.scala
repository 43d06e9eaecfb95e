package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.Codebook

/** Coarse→fine retrieval: the reference's core serving shape
  * (MEVI/main_models.py:3911-4020) as one declarative join pipeline:
  *
  *   queries → beam-search top-R code tuples (coarse, V6)
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
  * Candidate count per query ≈ ndoc@cluster-R ≪ corpus: the join on
  * predicted codes is the engine's partition-pruning analog of the
  * reference's "only score docs in predicted clusters".
  */
object CoarseFineRetriever {

  /** Index-side scoring (code assignment AND beam probe) is always L2:
    * the codebook is L2-trained (MLlib KMeans), so probing in any other
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
    * @return (query_id, rank, doc_id, score)
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
    val coarse = CodebookBeamSearch.search(queries, codebook, beams)

    // J3: candidate clusters → members. Equi-join on the code tuple.
    // The topic mix needs the membership tuple and its beam logprob
    // downstream; the plain path drops both right here.
    val candidates = coarse
      .join(clusterIndex.select("codes", "doc_ids"), Seq("codes"))
      .select(col("query_id"), col("codes"), col("logprob"),
        explode(col("doc_ids")).as("doc_id"))

    // J4 + V2: fetch embeddings, score against the query vector. `codes`
    // rides along: the sum-dedup below folds in membership order. The
    // query join carries NO broadcast hint: serving batches are small
    // (AQE broadcasts them on its own) but negative mining legitimately
    // retrieves with a corpus-sized query set — the walk()/IVFPQ rule.
    val qd = BruteForceKNN.score(metric)(col("qvec"), col("vec"))
    val scored = topicMix match {
      case None =>
        candidates
          .join(docs, Seq("doc_id"))
          .join(queries, Seq("query_id"))
          .select(col("query_id"), col("doc_id"), col("codes"), qd.as("score"))
      case Some(mix) =>
        val r = topicRatio
        candidates
          .join(docs, Seq("doc_id"))
          .join(queries, Seq("query_id"))
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
    else
      TopK.ranked(scored, k, distinctIds = true)
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
    */
  def retrieveBudgeted(
      queries: DataFrame,
      clusterIndex: DataFrame,
      docs: DataFrame,
      codebook: Codebook,
      beams: Int = 10,
      k: Int = 100,
      budget: Int = 1000,
      metric: String = "ip"): DataFrame = {

    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(codebook)
    // cluster pruning scores with the SAME metric as the final re-rank —
    // pruning by ip while re-ranking by l2 would cut the l2-best clusters
    val reconScore = udf { (qvec: Array[Float], codes: Seq[Int]) =>
      val rec = bc.value.reconstruct(codes.toArray)
      var j = 0
      metric match {
        case "l2" =>
          var s = 0.0
          while (j < qvec.length) {
            val d = qvec(j).toDouble - rec(j).toDouble; s += d * d; j += 1
          }
          -s
        case _ => // ip & cos prune by dot product (recs aren't normalized)
          var s = 0.0
          while (j < qvec.length) { s += qvec(j).toDouble * rec(j).toDouble; j += 1 }
          s
      }
    }

    val coarse = CodebookBeamSearch.search(queries, codebook, beams)

    // one row per (query, cluster): exact query·reconstruction + size
    val clusterMeta = clusterIndex.select("codes", "csize").distinct()
    val rescored = coarse
      .join(clusterMeta, Seq("codes"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("codes"), col("csize"),
        reconScore(col("qvec"), col("codes")).as("rscore"))

    // keep best clusters until the cumulative member count reaches budget
    val w = Window.partitionBy("query_id")
      .orderBy(col("rscore").desc, col("codes").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = rescored
      .withColumn("prior", coalesce(sum(col("csize")).over(w), lit(0L)))
      .where(col("prior") < budget)
      .select("query_id", "codes")

    val candidates = kept
      .join(clusterIndex.select("codes", "doc_ids"), Seq("codes"))
      .select(col("query_id"), explode(col("doc_ids")).as("doc_id"))

    val scored = candidates
      .join(docs, Seq("doc_id"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        BruteForceKNN.score(metric)(col("qvec"), col("vec")).as("score"))

    // a doc in several kept clusters repeats with the same dot product:
    // the distinct-id top-k keeps one copy (= max), no extra shuffle
    TopK.ranked(scored, k, distinctIds = true)
  }
}
