package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plain product quantization — the reference's `--pq_type pq` mode
  * (MEVI/pq.py:249-279 assignment, :175-198 faiss "PQMxB" build): the
  * vector is SLICED into M contiguous sub-vectors and each slice gets an
  * independent K-centroid codebook. Contrast with [[Codebook]]/RQ
  * (`pq_type rq`, the shipped configs): RQ quantizes full-width residuals
  * sequentially; PQ quantizes disjoint slices independently — M
  * INDEPENDENT k-means fits (no level-to-level data dependency) and an
  * assignment that is argmin per slice with no residual chain.
  *
  * Reconstruction is concatenation of the chosen centroids
  * (MEVI/pq.py:743-799, pq branch).
  *
  * Scale posture matches RQ's: the codebook (M × K × dim/M floats = the
  * same M·K·dim budget as RQ) is the only broadcast state; training fits
  * every slice on one bounded sample ([[PQTrainer]]); assignment is
  * zero-shuffle map-side arithmetic.
  */
case class PQCodebook(subs: Array[Array[Array[Float]]]) extends Serializable {
  def numSub: Int = subs.length
  def k: Int = subs.headOption.map(_.length).getOrElse(0)
  def subDim: Int = subs.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
  def dim: Int = numSub * subDim

  /** Per-slice argmin-L2 assignment (MEVI/pq.py:249-279); ties → lowest
    * code id. Double accumulation in slice order — engine-replayable. */
  def assign(vec: Array[Float]): Array[Int] = {
    val d = new Array[Double](vec.length)
    var i = 0
    while (i < vec.length) { d(i) = vec(i).toDouble; i += 1 }
    assignDouble(d)
  }

  /** Double-input form — IVF-PQ assigns RESIDUALS, which are exact in
    * double (float − float) but would round if narrowed to float first;
    * the oracle computes them in double, so this path must too. */
  def assignDouble(vec: Array[Double]): Array[Int] = {
    require(vec.length == dim, s"dim ${vec.length} != codebook dim $dim")
    val codes = new Array[Int](numSub)
    var m = 0
    while (m < numSub) { codes(m) = Codebook.nearest(vec, m * subDim, subDim, subs(m)); m += 1 }
    codes
  }

  /** PQ reconstruction = concatenation of per-slice centroids. */
  def reconstruct(codes: Array[Int]): Array[Float] = {
    val out = new Array[Float](dim)
    var m = 0
    while (m < numSub) {
      val cent = subs(m)(codes(m))
      System.arraycopy(cent, 0, out, m * subDim, subDim)
      m += 1
    }
    out
  }
}

/** Trains M independent slice codebooks on one sample, as [[RQTrainer]]
  * trains its levels (SURVEY V4; MEVI/pq.py:550-598): one pass keeps the
  * `SampledKMeans.SampleCap` (2^16) docs of lowest `sampleRank(doc_id,
  * seed)`, and one reduce task fits each slice on it in doc-id order
  * (`SampledKMeans.localKMeans`, seed + m), refining its k-means++ seeds
  * for at most `SampledKMeans.SeedRefinePasses` (30) + `maxIter` Lloyd
  * passes, until no assignment changes.
  */
object PQTrainer {

  /** Fits M codebooks, one per contiguous slice of `vecCol` (ARRAY<FLOAT>
    * or ARRAY<DOUBLE>, with a doc_id column), in two Spark jobs (one
    * shuffle under AQE); rows with a NULL vector are skipped. `dim` must
    * divide evenly by `numSub` (the reference asserts the same, pq.py
    * subvector slicing). A NaN or infinite coordinate, or no usable row,
    * fails with an IllegalArgumentException naming `vecCol`. */
  def fit(
      df: DataFrame,
      vecCol: String,
      numSub: Int,
      k: Int,
      seed: Long = 42L,
      maxIter: Int = 20): PQCodebook = {
    require(numSub >= 1 && k >= 1, s"numSub $numSub and k $k must be ≥ 1")
    val passes = SampledKMeans.SeedRefinePasses + maxIter
    PQCodebook(SampledKMeans.fitCorpus(df, vecCol, seed, "PQTrainer.fit") { sample =>
      val dim = sample(0).length
      require(dim % numSub == 0,
        s"PQTrainer.fit: $vecCol dim $dim not divisible by numSub $numSub")
      val subDim = dim / numSub
      Array.tabulate(numSub) { m =>
        val slices = sample.map(java.util.Arrays.copyOfRange(_, m * subDim, (m + 1) * subDim))
        SampledKMeans.localKMeans(slices, k, seed + m, passes)
      }
    })
  }
}

object PQAssigner {

  /** (idCol, vecCol) → (idCol, codes ARRAY<INT>) with a broadcast
    * codebook — zero shuffle. */
  def assign(
      df: DataFrame,
      codebook: PQCodebook,
      idCol: String = "doc_id",
      vecCol: String = "vec"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebook)
    val assignUdf = udf { (vec: Array[Float]) => bc.value.assign(vec) }
    df.select(col(idCol), assignUdf(col(vecCol)).as("codes"))
  }

  /** (idCol, rec ARRAY<FLOAT>): reconstruct-from-assignment, plus the
    * per-row quantization error ‖x − rec‖ (double fold). */
  def reconstructWithError(
      df: DataFrame,
      codebook: PQCodebook,
      idCol: String = "doc_id",
      vecCol: String = "vec"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebook)
    val recUdf = udf { (vec: Array[Float]) =>
      val cb = bc.value
      val rec = cb.reconstruct(cb.assign(vec))
      (rec, graft.core.VectorOps.l2DiffNorm(vec, rec))
    }
    df.select(col(idCol), recUdf(col(vecCol)).as("r"))
      .select(col(idCol), col("r._1").as("rec"), col("r._2").as("recon_error"))
  }
}
