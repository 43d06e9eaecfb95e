package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.Codebook

/** Beam search over the RQ codebook: query embedding → top-R code tuples.
  *
  * Re-expresses the reference's twin-tower VQ topk (MEVI/pq.py:613-713,
  * batch driver 715-741): per level, softmax over centroid scores, expand
  * beams, keep top-B by cumulative log-prob ("prod" mode) or by the last
  * level's log-prob ("last" mode). Scores are kept in LOG space (the
  * reference multiplies raw softmax probabilities, pq.py:664-666); log is
  * monotonic so beam selection and final ranking are identical, without
  * the underflow of multiplying M small probabilities. "last" mode is
  * myopic per level in both (reference: `proba = proba`, no multiply).
  * The trie constraint of the seq2seq path (generation_utils.py:801-819)
  * degenerates to "any code in [0,K)" because the RQ code space is a
  * complete K-ary tree (SURVEY §1.1 decode-trie row).
  *
  * Executed as one broadcast-closure UDF per query row: the whole search is
  * M×B×K×dim flops on driver-broadcast state (~400 KB), so it is
  * embarrassingly parallel and shuffle-free — the Spark-correct layout for
  * a per-row search (no explode/regroup round-trips).
  */
object CodebookBeamSearch {

  /** Seeded uniform in (0,1) from the md5-prefix hash — the same
    * deterministic-randomness primitive as the rest of the engine. */
  private def uniformHash(key: String): Double =
    (graft.functions.Md5PrefixHash.hash(key.getBytes("UTF-8"), 15) + 0.5) /
      (1L << 60).toDouble

  /** Pure-Scala beam search over one query vector. Returns top-R
    * (codes, cumulative log-prob) sorted best-first, ties → lexicographic
    * code order (deterministic).
    *
    * `doSample` replays the reference's `do_sample` mode (pq.py:686-688:
    * `torch.multinomial(proba, num_samples=num_beams)` over the expanded
    * beam probabilities, used by the qg-augmentation configs) with seeded
    * randomness: an exponential race — candidate i gets race key
    * ln(−ln u_i) − score_i with u_i hashed from (seed, salt, codes); the
    * `beams` smallest keys win. Taking the k smallest exponential/weight
    * variates IS sampling without replacement proportional to
    * exp(score) = proba, exactly multinomial's semantics — but as a pure
    * function of (seed, salt), so identical across engines, partitionings
    * and reruns. `salt` decorrelates draws across queries (the DataFrame
    * API passes the query id).
    */
  def searchOne(
      cb: Codebook,
      qvec: Array[Float],
      beams: Int,
      metric: String = "l2",
      scoreMode: String = "prod",
      doSample: Boolean = false,
      sampleSeed: Long = 42L,
      salt: String = ""): Array[(Array[Int], Double)] = {

    val dim = qvec.length
    // beam state: (codes so far, residual, cumulative logprob)
    var frontier = Array((new Array[Int](0), qvec.map(_.toDouble), 0.0))

    for (m <- 0 until cb.numLevels) {
      val cents = cb.levels(m)
      val expanded = frontier.flatMap { case (codes, resid, cum) =>
        // raw centroid scores at this level
        val raw = new Array[Double](cents.length)
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var s = 0.0
          var j = 0
          if (metric == "ip") {
            while (j < dim) { s += resid(j) * cent(j).toDouble; j += 1 }
          } else {
            while (j < dim) {
              val d = resid(j) - cent(j).toDouble
              s -= d * d
              j += 1
            }
          }
          raw(c) = s
          c += 1
        }
        // log-softmax over this level's scores (pq.py:662)
        val mx = raw.max
        var lse = 0.0
        c = 0
        while (c < cents.length) { lse += math.exp(raw(c) - mx); c += 1 }
        val logZ = mx + math.log(lse)
        raw.indices.map { cc =>
          val lp = raw(cc) - logZ
          val score = if (scoreMode == "last") lp else cum + lp
          (codes :+ cc, resid, score, cc)
        }
      }
      // keep top-B; recompute residuals only for survivors.
      // tie-break on the NUMERIC code sequence (string join would sort
      // code 10 before code 2 and disagree with CodeAssigner's
      // lowest-code-wins rule)
      import scala.math.Ordering.Implicits.seqOrdering
      frontier = expanded
        .sortBy { case (codes, _, score, _) =>
          val key =
            if (doSample)
              math.log(-math.log(
                uniformHash(s"$sampleSeed|$salt|${codes.mkString(",")}"))) - score
            else -score
          (key, codes.toSeq)
        }
        .take(beams)
        .map { case (codes, resid, score, cc) =>
          val cent = cents(cc)
          val nr = new Array[Double](dim)
          var j = 0
          while (j < dim) { nr(j) = resid(j) - cent(j).toDouble; j += 1 }
          (codes, nr, score)
        }
    }
    frontier.map { case (codes, _, score) => (codes, score) }
  }

  /** (query_id, qvec) → (query_id, codes ARRAY<INT>, crank INT 1-based,
    * logprob DOUBLE), R rows per query. A row whose vector is NULL has
    * no beams, so it gets no rows.
    */
  def search(
      queries: DataFrame,
      codebook: Codebook,
      beams: Int,
      metric: String = "l2",
      scoreMode: String = "prod",
      idCol: String = "query_id",
      vecCol: String = "qvec",
      doSample: Boolean = false,
      sampleSeed: Long = 42L): DataFrame =
    beamRows(queries, codebook, beams, metric, scoreMode, idCol, vecCol,
      doSample, sampleSeed, keepVec = false)

  /** [[search]] at its defaults, with each row's `qvec` carried onto its
    * beam rows: (query_id, qvec, codes, crank, logprob). The retrievers
    * score candidates against this column instead of joining the query
    * batch back in. */
  private[search] def searchKeepingVec(
      queries: DataFrame, codebook: Codebook, beams: Int): DataFrame =
    beamRows(queries, codebook, beams, "l2", "prod", "query_id", "qvec",
      doSample = false, sampleSeed = 42L, keepVec = true)

  private def beamRows(
      queries: DataFrame,
      codebook: Codebook,
      beams: Int,
      metric: String,
      scoreMode: String,
      idCol: String,
      vecCol: String,
      doSample: Boolean,
      sampleSeed: Long,
      keepVec: Boolean): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(codebook)
    val beamUdf = udf { (id: String, qvec: Array[Float]) =>
      if (qvec == null) Seq.empty[(Seq[Int], Double)]
      else searchOne(bc.value, qvec, beams, metric, scoreMode,
        doSample, sampleSeed, salt = id)
        .map { case (codes, score) => (codes.toSeq, score) }.toSeq
    }
    val kept = if (keepVec) Seq(col(idCol), col(vecCol)) else Seq(col(idCol))
    queries
      .select(kept :+
        posexplode(beamUdf(col(idCol).cast("string"), col(vecCol)))
          .as(Seq("pos", "b")): _*)
      .select(kept ++ Seq(
        col("b._1").as("codes"),
        (col("pos") + 1).as("crank"),
        col("b._2").as("logprob")): _*)
  }
}
