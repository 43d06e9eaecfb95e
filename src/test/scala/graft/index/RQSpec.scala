package graft.index

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.functions._

/** Quantization invariants from SURVEY §5 (property-based over the real
  * fixture embeddings): assignment is argmin, the cluster index partitions
  * the corpus, reconstruction error is bounded by the input norm.
  */
class RQSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf("0.001"), "embeddings")
    .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    .cache()

  private lazy val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
  private lazy val assignments = CodeAssigner.assign(docs, cb).cache()

  test("codebook geometry") {
    assert(cb.numLevels == 2)
    assert(cb.k == 8)
    assert(cb.dim == 64)
  }

  test("codebook parquet save/load round-trips the exact floats") {
    val path = "target/tmp/codebook_parquet"
    cb.save(spark, path)
    val back = Codebook.load(spark, path)
    assert(back.numLevels == cb.numLevels && back.k == cb.k && back.dim == cb.dim)
    for (m <- 0 until cb.numLevels; c <- 0 until cb.k)
      assert(back.levels(m)(c).toSeq == cb.levels(m)(c).toSeq, s"level $m code $c")
    // the reloaded codebook assigns identically (exact float round-trip)
    val v = docs.head.getSeq[Float](1).toArray
    assert(back.assign(v).toSeq == cb.assign(v).toSeq)
  }

  test("assignment emits one M-length code tuple per doc") {
    val n = docs.count()
    assert(assignments.count() == n)
    assert(assignments.where(size(col("codes")) =!= 2).count() == 0)
    assert(assignments.where(col("codes").getItem(0) < 0 ||
      col("codes").getItem(0) >= 8).count() == 0)
  }

  test("assignment is argmin at level 0 (spot check against brute force)") {
    val rows = docs.limit(10).collect()
    rows.foreach { r =>
      val vec = r.getSeq[Float](1).toArray
      val codes = cb.assign(vec)
      val dists = cb.levels(0).map { cent =>
        vec.zip(cent).map { case (x, c) => (x - c) * (x - c) }.sum
      }
      assert(codes(0) == dists.indexOf(dists.min))
    }
  }

  test("cluster index is an exact partition of the corpus") {
    val idx = ClusterIndexBuilder.build(assignments)
    // chunk rows repeat csize, so count members via the chunk arrays
    val total = idx.agg(sum(size(col("doc_ids")))).head.getLong(0)
    assert(total == docs.count())
    // no doc in two clusters
    val distinctDocs = idx.select(explode(col("doc_ids"))).distinct().count()
    assert(distinctDocs == docs.count())
  }

  test("reconstruction error is below input norm (quantizer does something)") {
    val err = CodeAssigner.reconstructionError(docs, cb)
      .agg(avg("recon_error")).head.getDouble(0)
    // embeddings are L2-normalized → ‖x‖ = 1; a trained 2-level RQ must do
    // substantially better than the zero-codebook baseline of 1.0
    assert(err > 0.0 && err < 1.0)
  }

  test("hot clusters chunk into bounded rows (skew guard)") {
    val idx = ClusterIndexBuilder.build(assignments, maxChunk = 50)
    // hash-balanced chunking: sizes cluster around maxChunk (strict bound
    // in expectation; 2x is a generous deterministic envelope here)
    val maxRow = idx.agg(max(size(col("doc_ids")))).head.getInt(0)
    assert(maxRow <= 100, s"chunk of $maxRow members for maxChunk=50")
    // clusters above maxChunk actually split
    val bigClusters = idx.where(col("csize") > 50)
    if (bigClusters.count() > 0) {
      val splits = bigClusters.groupBy("codes").count()
        .agg(min("count")).head.getLong(0)
      assert(splits >= 2, "oversize cluster not split into chunks")
    }
    val total = idx.agg(sum(size(col("doc_ids")))).head.getLong(0)
    assert(total == docs.count())
    // chunks of one cluster are disjoint and cover the cluster
    val rebuilt = idx.groupBy("codes")
      .agg(sort_array(flatten(collect_list(col("doc_ids")))).as("all"),
        first(col("csize")).as("csize"))
    assert(rebuilt.where(size(col("all")) =!= col("csize")).count() == 0)
    assert(rebuilt.where(size(array_distinct(col("all"))) =!= size(col("all")))
      .count() == 0)
  }

  test("deterministic across re-fits with same seed") {
    val cb2 = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    assert(cb.levels.flatten.flatten.toSeq == cb2.levels.flatten.flatten.toSeq)
  }

  test("assignTopK: t rows per doc, distinct tuples, sorted logprob") {
    val topk = CodeAssigner.assignTopK(docs, cb, t = 3).cache()
    val perDoc = topk.groupBy("doc_id").count().agg(min("count"), max("count"))
      .head
    assert(perDoc.getLong(0) == 3 && perDoc.getLong(1) == 3)
    // top-T tuples per doc are distinct and ranked by logprob
    assert(topk.select("doc_id", "codes").distinct().count() == topk.count())
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("crank")
    val bad = topk.withColumn("prev", lag(col("logprob"), 1).over(w))
      .where(col("prev").isNotNull && col("prev") < col("logprob"))
    assert(bad.count() == 0, "logprob must be non-increasing in crank")
  }

  test("assignTopK with t=1 is exactly the greedy argmin chain") {
    import spark.implicits._
    // beam width 1 has no cross-branch competition: log-softmax argmax
    // per level IS the per-level L2 argmin. (Width > 1 rank-1 may
    // legitimately differ — cumulative log-prob competes across branches,
    // which is the reference's beam semantics.)
    val greedy = assignments.as[(Long, Seq[Int])].collect().toMap
    val t1 = CodeAssigner.assignTopK(docs, cb, t = 1)
      .select("doc_id", "codes").as[(Long, Seq[Int])].collect()
    assert(t1.length == greedy.size)
    t1.foreach { case (id, codes) => assert(codes == greedy(id), s"doc $id") }
  }

  test("multicluster index: every doc carries exactly t memberships") {
    val multi = ClusterIndexBuilder.build(
      CodeAssigner.assignTopK(docs, cb, t = 2).select("doc_id", "codes"))
    val m2 = multi.select(col("codes"), explode(col("doc_ids")).as("doc_id"))
    assert(m2.count() == 2 * docs.count())
    val perDoc = m2.groupBy("doc_id").count()
    assert(perDoc.where(col("count") =!= 2).count() == 0)
    // memberships of one doc are distinct clusters
    assert(m2.distinct().count() == m2.count())
  }

  private def toyDocs(rows: (Long, Array[Float])*) = {
    import spark.implicits._
    rows.toDF("doc_id", "vec")
  }

  test("rows with a NULL vector are skipped") {
    val clean = (0L until 40L).map(i => (i, Array(i.toFloat, (i % 7).toFloat)))
    val nulls = Seq((100L, null: Array[Float]), (101L, null: Array[Float]))
    val a = RQTrainer.fit(toyDocs(clean: _*), "vec", numLevels = 2, k = 3)
    val b = RQTrainer.fit(toyDocs(clean ++ nulls: _*), "vec", numLevels = 2, k = 3)
    assert(a.levels.flatten.flatten.toSeq == b.levels.flatten.flatten.toSeq)
  }

  test("an input with no usable row fails naming the column") {
    for (df <- Seq(toyDocs(), toyDocs((1L, null), (2L, null)))) {
      val e = intercept[IllegalArgumentException](
        RQTrainer.fit(df, "vec", numLevels = 2, k = 3))
      assert(e.getMessage.contains("vec"), e.getMessage)
    }
  }

  test("a NaN or infinite coordinate fails naming the column") {
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val df = toyDocs((1L, Array(1f, 2f)), (2L, Array(3f, bad)), (3L, Array(0f, 1f)))
      val e = intercept[IllegalArgumentException](
        RQTrainer.fit(df, "vec", numLevels = 1, k = 2))
      assert(e.getMessage.contains("vec") && e.getMessage.contains("non-finite"),
        e.getMessage)
    }
  }

  test("the same seed gives the same floats on 1 and 7 partitions") {
    def floats(n: Int) = RQTrainer.fit(docs.repartition(n), "vec",
      numLevels = 2, k = 8, seed = 42L).levels.flatten.flatten.toSeq
    assert(floats(1) == floats(7))
    assert(floats(7) == cb.levels.flatten.flatten.toSeq)
  }

  test("RQTrainer.fit runs at most 2 Spark jobs per level (2 in all)") {
    docs.count()
    val jobs = countJobs { RQTrainer.fit(docs, "vec", numLevels = 3, k = 8) }
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("on the sf0.01 docs the codebook reconstructs no worse than MLlib KMeans'") {
    val d = Tables.load(spark, sf("0.01"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec")).cache()
    def meanErr(c: Codebook) = CodeAssigner.reconstructionError(d, c)
      .agg(avg("recon_error")).head.getDouble(0)
    for ((levels, k) <- Seq((2, 8), (1, 16))) {
      val ours = meanErr(RQTrainer.fit(d, "vec", levels, k, seed = 42L, maxIter = 10))
      val mllib = meanErr(MllibKMeansReference.rq(d, "vec", levels, k, 42L, 10))
      info(f"$levels×$k: sampled $ours%.6f, MLlib $mllib%.6f")
      assert(ours <= mllib, s"$levels×$k: $ours > MLlib's $mllib")
    }
  }
}
