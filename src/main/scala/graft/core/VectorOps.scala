package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector kernels over `ARRAY<FLOAT>` columns.
  *
  * Spark-first re-expression of the reference's similarity / residual math
  * (MEVI/document_encoder.py:128-132, MEVI/pq.py:82-131): start as Catalyst
  * higher-order functions (codegen'd, no UDF boxing); the hot dot product
  * also exists as a native `Expression` in [[graft.functions.FloatVectorDot]].
  *
  * Precision contract: every kernel up-casts elements to Double *before*
  * multiplying and folds sequentially left-to-right, which is bit-identical
  * to the DuckDB oracle's `list_sum(list_transform(list_zip(a,b), ...))`.
  */
object VectorOps {

  /** JVM-side ‖a − b‖ with the library's sequential double fold — the ONE
    * definition of the reconstruction-error norm (shared by the RQ and PQ
    * assigners; the fold order is part of the oracle-parity contract). */
  def l2DiffNorm(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) {
      val d = a(j).toDouble - b(j).toDouble
      s += d * d
      j += 1
    }
    math.sqrt(s)
  }

  /** log Σ exp over `raw(from until from + n)` (n ≥ 1) — the log-softmax
    * normalizer of the RQ and HKM beam searches, whose oracles replay
    * this fold: the max under `java.lang.Double.compare` (NaN above all,
    * the first of equal values kept, as Scala's `Array[Double].max`),
    * then Σ exp(r − max) in index order, then max + log Σ. */
  def logSumExp(raw: Array[Double], from: Int, n: Int): Double = {
    var mx = raw(from)
    var i = from + 1
    while (i < from + n) {
      if (java.lang.Double.compare(mx, raw(i)) < 0) mx = raw(i)
      i += 1
    }
    var sum = 0.0
    i = from
    while (i < from + n) { sum += math.exp(raw(i) - mx); i += 1 }
    mx + math.log(sum)
  }

  /** Spark's order for a window sorted by (score DESC, codes ASC): the
    * score as Spark sorts doubles (NaN first, −0.0 equal to 0.0), then the
    * codes element by element, shorter first. The driver plans replay the
    * HKM beam's and the budget prune's windows with it. */
  def windowOrder(s1: Double, c1: IndexedSeq[Int], s2: Double, c2: IndexedSeq[Int]): Int = {
    val c = if (s1 == s2) 0 else java.lang.Double.compare(s2, s1)
    if (c != 0) c
    else {
      val n = math.min(c1.length, c2.length)
      var i = 0
      while (i < n && c1(i) == c2(i)) i += 1
      if (i < n) Integer.compare(c1(i), c2(i))
      else Integer.compare(c1.length, c2.length)
    }
  }

  /** q · p — inner product (reference `ip` metric, document_encoder.py:129). */
  def vecDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** ‖v‖² in double precision. */
  def vecNorm2Sq(v: Column): Column = vecDot(v, v)

  /** ‖v‖ (L2 norm). */
  def vecNorm2(v: Column): Column = sqrt(vecNorm2Sq(v))

  /** −‖a−b‖² — reference `l2` metric (higher is closer), pq.py:124-131. */
  def vecNegL2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0),
      (acc, v) => acc + v) * lit(-1.0)

  /** Cosine similarity, safe on zero vectors (returns 0.0). */
  def vecCosine(a: Column, b: Column): Column = {
    val na = vecNorm2(a)
    val nb = vecNorm2(b)
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(vecDot(a, b) / (na * nb))
  }

  /** Element-wise a − b (stays FLOAT — used for RQ residuals). */
  def vecSub(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")).cast("float"))

  /** Element-wise a + b. */
  def vecAdd(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => (x.cast("double") + y.cast("double")).cast("float"))

  /** a + alpha * b (axpy). */
  def vecAxpy(alpha: Column, a: Column, b: Column): Column =
    zip_with(a, b, (x, y) =>
      (x.cast("double") + alpha.cast("double") * y.cast("double")).cast("float"))

  /** L2-normalize; zero vector passes through unchanged. */
  def vecL2Normalize(v: Column): Column = {
    val n = vecNorm2(v)
    when(n === 0.0, v).otherwise(transform(v, x => (x.cast("double") / n).cast("float")))
  }

  /** IP→L2 metric reduction (MEVI/pq.py:82-119): append `sqrt(φ − ‖p‖²)`
    * to every doc vector and `0` to every query vector; then L2 distance on
    * the augmented vectors ranks identically to inner product on the
    * originals. φ must be ≥ max‖p‖² over the corpus.
    */
  def ipToL2AugmentDoc(v: Column, phi: Column): Column =
    concat(v, array(sqrt(greatest(phi - vecNorm2Sq(v), lit(0.0))).cast("float")))

  def ipToL2AugmentQuery(v: Column): Column =
    concat(v, array(lit(0.0f)))
}
