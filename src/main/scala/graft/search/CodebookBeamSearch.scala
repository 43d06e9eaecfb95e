package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.VectorOps
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
  private[search] def uniformHash(key: String): Double =
    (graft.functions.Md5PrefixHash.hash(key.getBytes("UTF-8"), 15) + 0.5) /
      (1L << 60).toDouble

  /** Pure-Scala beam search over one query vector: the one beam kernel,
    * called by the beam UDF ([[search]], and so
    * `CodeAssigner.assignTopK`) and by both retrievers' driver plans.
    * Returns top-R (codes, cumulative log-prob) sorted best-first, ties →
    * lexicographic code order (deterministic).
    *
    * Per level the frontier's P parents expand into one flat P × K score
    * array — raw centroid scores against each parent's residual, then a
    * log-softmax per parent ([[graft.core.VectorOps.logSumExp]]) — and
    * the `beams` best children are kept by insertion selection on (key
    * under `java.lang.Double.compare`, then code tuple), key = −score.
    * The frontier lives in flat code, residual and score arrays; nothing
    * is allocated per candidate but the sampled mode's hash key. A NaN
    * score ranks last; 0.0 ranks before −0.0.
    *
    * `doSample` replays the reference's `do_sample` mode (pq.py:686-688:
    * `torch.multinomial(proba, num_samples=num_beams)` over the expanded
    * beam probabilities, used by the qg-augmentation configs) with seeded
    * randomness: an exponential race — candidate i gets race key
    * ln(−ln u_i) − score_i with u_i hashed from (seed, salt, codes); the
    * `beams` smallest keys win, through the same selection. Taking the k
    * smallest exponential/weight variates IS sampling without replacement
    * proportional to exp(score) = proba, exactly multinomial's semantics —
    * but as a pure function of (seed, salt), so identical across engines,
    * partitionings and reruns. `salt` decorrelates draws across queries
    * (the DataFrame API passes the query id).
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
    val ip = metric == "ip"
    val last = scoreMode == "last"
    // the frontier: `live` beams; beam b's m codes at codes(b·m until
    // (b+1)·m), its residual at resid(b·dim until (b+1)·dim)
    var live = 1
    var codes = new Array[Int](0)
    var resid = new Array[Double](dim)
    var cum = Array(0.0)
    var j = 0
    while (j < dim) { resid(j) = qvec(j).toDouble; j += 1 }

    var m = 0
    while (m < cb.numLevels) {
      val cents = cb.levels(m)
      val k = cents.length
      val n = live * k
      // raw centroid scores of every (parent, code), then each parent's
      // log-softmax (pq.py:662) in place
      val score = new Array[Double](n)
      var p = 0
      while (p < live) {
        val base = p * k
        val r0 = p * dim
        var c = 0
        while (c < k) {
          val cent = cents(c)
          var s = 0.0
          j = 0
          if (ip) {
            while (j < dim) { s += resid(r0 + j) * cent(j).toDouble; j += 1 }
          } else {
            while (j < dim) {
              val d = resid(r0 + j) - cent(j).toDouble
              s -= d * d
              j += 1
            }
          }
          score(base + c) = s
          c += 1
        }
        val logZ = VectorOps.logSumExp(score, base, k)
        c = 0
        while (c < k) {
          val lp = score(base + c) - logZ
          score(base + c) = if (last) lp else cum(p) + lp
          c += 1
        }
        p += 1
      }

      val key = new Array[Double](n)
      var i = 0
      while (i < n) {
        key(i) =
          if (doSample) {
            val sb = new java.lang.StringBuilder().append(sampleSeed).append('|')
              .append(salt).append('|')
            var t = 0
            while (t < m) { sb.append(codes((i / k) * m + t)).append(','); t += 1 }
            sb.append(i % k)
            math.log(-math.log(uniformHash(sb.toString))) - score(i)
          } else -score(i)
        i += 1
      }
      // does candidate a rank before candidate b? The code tuples differ
      // in the parent's codes, or else in the child code.
      val parents = codes
      val width = m
      def before(a: Int, b: Int): Boolean = {
        val c = java.lang.Double.compare(key(a), key(b))
        if (c != 0) c < 0
        else {
          val pa = a / k * width
          val pb = b / k * width
          var t = 0
          while (t < width && parents(pa + t) == parents(pb + t)) t += 1
          if (t < width) parents(pa + t) < parents(pb + t) else a % k < b % k
        }
      }
      // top-`beams` candidates, best first, by insertion selection
      val keep = math.max(0, math.min(beams, n))
      val order = new Array[Int](keep)
      var kept = 0
      i = 0
      while (i < n) {
        if (kept < keep || (keep > 0 && before(i, order(keep - 1)))) {
          var pos = if (kept < keep) { kept += 1; kept - 1 } else keep - 1
          while (pos > 0 && before(i, order(pos - 1))) {
            order(pos) = order(pos - 1)
            pos -= 1
          }
          order(pos) = i
        }
        i += 1
      }
      // the survivors' codes, residuals and scores
      val nextCodes = new Array[Int](kept * (m + 1))
      val nextResid = new Array[Double](kept * dim)
      val nextCum = new Array[Double](kept)
      var b = 0
      while (b < kept) {
        val pick = order(b)
        val parent = pick / k
        val code = pick % k
        System.arraycopy(codes, parent * m, nextCodes, b * (m + 1), m)
        nextCodes(b * (m + 1) + m) = code
        val cent = cents(code)
        j = 0
        while (j < dim) {
          nextResid(b * dim + j) = resid(parent * dim + j) - cent(j).toDouble
          j += 1
        }
        nextCum(b) = score(pick)
        b += 1
      }
      live = kept
      codes = nextCodes
      resid = nextResid
      cum = nextCum
      m += 1
    }
    val levels = cb.numLevels
    Array.tabulate(live)(b =>
      (java.util.Arrays.copyOfRange(codes, b * levels, (b + 1) * levels), cum(b)))
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
