package graft.search

import graft.index.Codebook

/** The RQ beam search as it was written before the flat-array kernel —
  * sort-and-take over (codes, residual, score) tuples per level — kept
  * unchanged as the reference `BeamKernelProps` pins
  * [[CodebookBeamSearch.searchOne]] against, bit for bit.
  */
object BeamReference {
  import CodebookBeamSearch.uniformHash

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
}
