package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained residual-quantizer codebook: `levels(m)(code)` is a centroid.
  * Geometry mirrors the reference's shipped config (RQ M×B,
  * MEVI/marco_generate_embedding_n_rq.sh: `--pq_type rq --subvector_num 4
  * --subvector_bits 5` → M=4, K=32): M levels × K centroids × dim floats.
  * At M=4, K=32, dim=768 the whole codebook is ~400 KB — the only
  * driver/broadcast-resident state in the entire engine.
  */
case class Codebook(levels: Array[Array[Array[Float]]]) extends Serializable {
  def numLevels: Int = levels.length
  def k: Int = levels.headOption.map(_.length).getOrElse(0)
  def dim: Int = levels.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)

  /** Greedy residual assignment of one vector: per level, argmin-L2 centroid,
    * subtract, recurse (MEVI/pq.py:281-305). Ties → lowest code id. */
  def assign(vec: Array[Float]): Array[Int] = {
    val resid = new Array[Double](vec.length)
    var i = 0
    while (i < vec.length) { resid(i) = vec(i).toDouble; i += 1 }
    val codes = new Array[Int](numLevels)
    var m = 0
    while (m < numLevels) { codes(m) = Codebook.subtractNearest(resid, levels(m)); m += 1 }
    codes
  }

  /** RQ reconstruction = sum of per-level centroids (MEVI/pq.py:743-799). */
  def reconstruct(codes: Array[Int]): Array[Float] = {
    val out = new Array[Float](dim)
    var m = 0
    while (m < codes.length) {
      val cent = levels(m)(codes(m))
      var j = 0
      while (j < dim) { out(j) = out(j) + cent(j); j += 1 }
      m += 1
    }
    out
  }

  /** As a small DataFrame (level, code, centroid) — joinable/broadcastable. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    levels.zipWithIndex.flatMap { case (cents, m) =>
      cents.zipWithIndex.map { case (cent, c) => (m, c, cent.toSeq) }
    }.toSeq.toDF("level", "code", "centroid")
  }

  /** Persist to Parquet — the durable form of the reference's codebook
    * pickle (MEVI/pq.py stores the trained tensor with the run artifacts).
    * One (level, code, centroid) row per centroid; tiny, but Parquet keeps
    * it engine-portable and joinable without deserialization tricks. */
  def save(spark: SparkSession, path: String): Unit =
    toDF(spark).coalesce(1).write.mode("overwrite").parquet(path)
}

object Codebook {
  /** Argmin-L2 centroid of `v(off until off + len)`, each distance a
    * sequential double fold; ties → lowest code. The one nearest-centroid
    * step of RQ and PQ assignment and of the RQ trainer's residuals. */
  private[index] def nearest(v: Array[Double], off: Int, len: Int,
      cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var j = 0
      while (j < len) {
        val diff = v(off + j) - cent(j).toDouble
        d += diff * diff
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** One greedy level step: the [[nearest]] centroid of `resid`,
    * subtracted from `resid` in place. Assignment and the trainer both
    * take it, so a level trains on the residuals serving will see. */
  private[index] def subtractNearest(resid: Array[Double],
      cents: Array[Array[Float]]): Int = {
    val best = nearest(resid, 0, resid.length, cents)
    val cent = cents(best)
    var j = 0
    while (j < resid.length) { resid(j) -= cent(j).toDouble; j += 1 }
    best
  }

  /** Load a [[Codebook.save]]d codebook (exact float round-trip). */
  def load(spark: SparkSession, path: String): Codebook = {
    val rows = spark.read.parquet(path)
      .select("level", "code", "centroid").collect()
    require(rows.nonEmpty, s"empty codebook at $path")
    val byLevel = rows.groupBy(_.getInt(0))
    val levels = (0 until byLevel.size).map { m =>
      val cents = byLevel.getOrElse(m,
        throw new IllegalStateException(s"codebook at $path missing level $m"))
      val byCode = cents.map(r => r.getInt(1) -> r.getSeq[Float](2).toArray).toMap
      (0 until byCode.size).map(c => byCode.getOrElse(c,
        throw new IllegalStateException(
          s"codebook at $path missing code $c at level $m"))).toArray
    }.toArray
    Codebook(levels)
  }
}

/** Residual-quantizer trainer: M sequential k-means fits, each on the
  * residuals of the levels before it — the reference's per-level
  * (MiniBatch)KMeans loop (MEVI/pq.py:550-598, `initialize` pq.py:440-486),
  * which fits on samples (SURVEY V4). One pass keeps the
  * `SampledKMeans.SampleCap` (2^16) docs of lowest `sampleRank(doc_id,
  * seed)`, a subset independent of partitioning; as the rank depends on
  * the id alone, every level would draw the same docs, so one reduce task
  * trains all levels on that sample in doc-id order: level m runs
  * `SampledKMeans.localKMeans` (seed + m), then each row steps to its
  * residual by assignment's own greedy step ([[Codebook.subtractNearest]]).
  * Each Lloyd loop also refines its k-means++ seeds, as MLlib's k-means||
  * does: it stops at the first pass that changes no assignment, after at
  * most `SampledKMeans.SeedRefinePasses` (30) + `maxIter` passes.
  */
object RQTrainer {

  /** Fits the codebook in two Spark jobs (one shuffle under AQE) for any
    * `numLevels`. Input: (doc_id LONG, vecCol ARRAY<FLOAT> or
    * ARRAY<DOUBLE>); rows with a NULL vector are skipped. A NaN or
    * infinite coordinate, or no usable row, fails with an
    * IllegalArgumentException naming `vecCol`. */
  def fit(
      df: DataFrame,
      vecCol: String,
      numLevels: Int,
      k: Int,
      seed: Long = 42L,
      maxIter: Int = 20): Codebook = {
    require(numLevels >= 1 && k >= 1, s"numLevels $numLevels and k $k must be ≥ 1")
    val passes = SampledKMeans.SeedRefinePasses + maxIter
    Codebook(SampledKMeans.fitCorpus(df, vecCol, seed, "RQTrainer.fit") { resid =>
      Array.tabulate(numLevels) { m =>
        val cents = SampledKMeans.localKMeans(resid, k, seed + m, passes)
        if (m + 1 < numLevels) resid.foreach(Codebook.subtractNearest(_, cents))
        cents
      }
    })
  }
}

/** Distributed code assignment with a broadcast codebook: the serving-path
  * equivalent of MEVI/pq.py:216-247 (`get_document_cluster`) and the
  * incremental replay in gen_sampled_to_full.py:61-88. mapPartitions over
  * primitive arrays — M×K×dim flops per row, zero shuffle.
  */
object CodeAssigner {

  /** Adds a `codes ARRAY<INT>` column, preserving the input columns — the
    * single implementation behind both the batch and streaming paths. */
  def withCodes(df: DataFrame, codebook: Codebook,
      vecCol: String = "vec"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebook)
    val assignUdf = udf { (vec: Array[Float]) => bc.value.assign(vec) }
    df.withColumn("codes", assignUdf(col(vecCol)))
  }

  /** (idCol, vecCol) → (idCol, codes ARRAY<INT>). */
  def assign(
      df: DataFrame,
      codebook: Codebook,
      idCol: String = "doc_id",
      vecCol: String = "vec"): DataFrame =
    withCodes(df, codebook, vecCol).select(col(idCol), col("codes"))

  /** doc_multiclus > 1: each doc's top-`t` code tuples, by the SAME
    * codebook beam search the query side runs — the reference assigns
    * multi-cluster membership with `pq.get_topk_document_mapping`
    * (beam search over doc embeddings, MEVI/main_models.py:3222-3245 /
    * pq.py:716-741). Returns (idCol, codes ARRAY<INT>, crank 1..t,
    * logprob) — t rows per doc; feed `.select(idCol, "codes")` straight
    * into [[ClusterIndexBuilder.build]] for the multicluster inverted
    * index (main_models.py:3246-3266). t=1 reduces to [[assign]]'s
    * greedy argmin chain. */
  def assignTopK(
      df: DataFrame,
      codebook: Codebook,
      t: Int,
      idCol: String = "doc_id",
      vecCol: String = "vec"): DataFrame =
    graft.search.CodebookBeamSearch.search(df, codebook, beams = t,
      idCol = idCol, vecCol = vecCol)

  /** Reconstruction error ‖x − reconstruct(assign(x))‖ per row —
    * the quantization-quality diagnostic (MEVI/pq.py:304-305 residual). */
  def reconstructionError(
      df: DataFrame,
      codebook: Codebook,
      idCol: String = "doc_id",
      vecCol: String = "vec"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(codebook)
    val errUdf = udf { (vec: Array[Float]) =>
      val cb = bc.value
      graft.core.VectorOps.l2DiffNorm(vec, cb.reconstruct(cb.assign(vec)))
    }
    df.select(col(idCol), errUdf(col(vecCol)).as("recon_error"))
  }
}

/** Cluster inverted index: code-tuple → member docs.
  * ≡ `pq_doc_cluster` (MEVI/pq.py:236-247, pickle dict code-tuple→[docid])
  * as a DataFrame. Partitioned by the first code (`c0`) so a join on
  * predicted codes prunes partitions — the engine's analog of the
  * reference's coarse-to-fine candidate pruning (SURVEY §4 row 1).
  *
  * Cluster sizes are power-law (the reference tracks ndoc@cluster for
  * exactly this reason, main_models.py:4182): a hot cluster as ONE giant
  * `doc_ids` row is a skew bomb — one task explodes millions of members.
  * `build` therefore chunks each cluster into rows of ≤ `maxChunk` members
  * (codes, chunk, doc_ids, csize): the probe join stays an equi-join on
  * `codes`, but a hot cluster fans out over many tasks (built-in salting).
  */
object ClusterIndexBuilder {

  val DefaultMaxChunk = 4096

  /** assignments (doc_id, codes) → (codes, c0, chunk, doc_ids sorted,
    * csize = full cluster size), ~maxChunk members per chunk row.
    *
    * Two-phase build so NO task ever materializes a whole hot cluster:
    * (1) per-cluster counts (partial-aggregated, skew-free), (2) each doc
    * hashes into one of ceil(csize/maxChunk) chunks and the collect_list
    * groups by (codes, chunk) — a 10M-member cluster becomes ~2500
    * balanced aggregation groups instead of one giant reduce task. Chunk
    * membership is md5-deterministic; chunk sizes are hash-balanced around
    * maxChunk (bounded in expectation, not strictly).
    */
  def build(assignments: DataFrame, maxChunk: Int = DefaultMaxChunk): DataFrame = {
    val counts = assignments.groupBy(col("codes"))
      .agg(count(lit(1)).as("csize"))
    assignments
      .join(counts, Seq("codes"))
      .withColumn("chunk",
        pmod(
          graft.functions.HashFunctions.md5_prefix(
            col("doc_id").cast("string"), 15),
          greatest(ceil(col("csize") / maxChunk), lit(1)).cast("long"))
          .cast("int"))
      .groupBy(col("codes"), col("chunk"))
      .agg(sort_array(collect_list(col("doc_id"))).as("doc_ids"),
        first(col("csize")).as("csize"))
      .select(col("codes"), col("codes").getItem(0).as("c0"),
        col("chunk"), col("doc_ids"), col("csize"))
      .repartition(col("c0"))
  }

  /** Persist partitioned by `c0`: a probe that filters on c0 (or joins on
    * codes with a derivable c0) reads only matching partition directories.
    */
  def save(index: DataFrame, path: String): Unit =
    index.write.partitionBy("c0").mode("overwrite").parquet(path)

  def load(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
