package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PQSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, dim: Int, seed: Int = 3) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec")
  }

  test("assignment is the per-slice argmin (brute-force check)") {
    val df = vecs(200, 8).cache()
    val cb = PQTrainer.fit(df, "vec", numSub = 2, k = 4, seed = 42L)
    assert(cb.numSub == 2 && cb.k == 4 && cb.subDim == 4)
    val got = PQAssigner.assign(df, cb)
      .as[(Long, Seq[Int])].collect().toMap
    val data = df.as[(Long, Array[Float])].collect()
    data.foreach { case (id, v) =>
      val want = (0 until 2).map { m =>
        (0 until 4).minBy { c =>
          val cent = cb.subs(m)(c)
          (0 until 4).map { j =>
            val d = v(m * 4 + j).toDouble - cent(j).toDouble; d * d
          }.sum
        }
      }
      assert(got(id) == want, s"doc $id")
    }
  }

  test("PQ with one slice ≡ single-level RQ (same seed, same KMeans)") {
    val df = vecs(300, 6).cache()
    val pq = PQTrainer.fit(df, "vec", numSub = 1, k = 5, seed = 7L, maxIter = 10)
    val rq = RQTrainer.fit(df, "vec", numLevels = 1, k = 5, seed = 7L, maxIter = 10)
    val a = PQAssigner.assign(df, pq).as[(Long, Seq[Int])].collect().toMap
    val b = CodeAssigner.assign(df, rq).as[(Long, Seq[Int])].collect().toMap
    assert(a == b)
  }

  test("reconstruction concatenates slice centroids; error is ‖x−rec‖") {
    val df = vecs(100, 8).cache()
    val cb = PQTrainer.fit(df, "vec", numSub = 4, k = 3, seed = 1L)
    val out = PQAssigner.reconstructWithError(df, cb)
      .select("doc_id", "rec", "recon_error")
      .as[(Long, Seq[Float], Double)].collect()
    val data = df.as[(Long, Array[Float])].collect().toMap
    out.foreach { case (id, rec, err) =>
      val codes = cb.assign(data(id))
      val want = cb.reconstruct(codes).toSeq
      assert(rec == want, s"doc $id rec")
      val wantErr = math.sqrt(data(id).zip(rec).map { case (x, r) =>
        val d = x.toDouble - r.toDouble; d * d
      }.sum)
      assert(math.abs(err - wantErr) < 1e-12, s"doc $id err")
    }
    // quantization reduces to exact reproduction iff vector IS a centroid
    // combo; generically the error is positive but bounded by input norm
    val norms = df.select(graft.core.VectorOps.vecNorm2(col("vec"))).as[Double].collect()
    assert(out.map(_._3).sum / out.length < norms.sum / norms.length)
  }

  test("more slices cannot hurt reconstruction on average (finer grid)") {
    val df = vecs(400, 8, seed = 21).cache()
    val c1 = PQTrainer.fit(df, "vec", numSub = 1, k = 4, seed = 42L)
    val c4 = PQTrainer.fit(df, "vec", numSub = 4, k = 4, seed = 42L)
    def meanErr(cb: PQCodebook) =
      PQAssigner.reconstructWithError(df, cb)
        .agg(avg("recon_error")).head.getDouble(0)
    // 4 slices × 4 codes = 256 effective cells vs 4 cells full-width
    assert(meanErr(c4) < meanErr(c1))
  }

  test("rows with a NULL vector are skipped") {
    val clean = vecs(60, 4)
    val nulls = Seq((1000L, null: Array[Float])).toDF("doc_id", "vec")
    val a = PQTrainer.fit(clean, "vec", numSub = 2, k = 3)
    val b = PQTrainer.fit(clean.union(nulls), "vec", numSub = 2, k = 3)
    assert(a.subs.flatten.flatten.toSeq == b.subs.flatten.flatten.toSeq)
  }

  test("an input with no usable row fails naming the column") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("doc_id", "vec")
    val allNull = Seq((1L, null: Array[Float])).toDF("doc_id", "vec")
    for (df <- Seq(empty, allNull)) {
      val e = intercept[IllegalArgumentException](
        PQTrainer.fit(df, "vec", numSub = 2, k = 3))
      assert(e.getMessage.contains("vec"), e.getMessage)
    }
  }

  test("a NaN or infinite coordinate fails naming the column") {
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val df = Seq((1L, Array(1f, 2f)), (2L, Array(bad, 3f)), (3L, Array(0f, 1f)))
        .toDF("doc_id", "vec")
      val e = intercept[IllegalArgumentException](
        PQTrainer.fit(df, "vec", numSub = 2, k = 2))
      assert(e.getMessage.contains("vec") && e.getMessage.contains("non-finite"),
        e.getMessage)
    }
  }

  test("a dim that numSub does not divide fails naming the column") {
    val e = intercept[IllegalArgumentException](
      PQTrainer.fit(vecs(20, 6), "vec", numSub = 4, k = 2))
    assert(e.getMessage.contains("vec") && e.getMessage.contains("numSub"), e.getMessage)
  }

  test("the same seed gives the same floats on 1 and 7 partitions") {
    val df = vecs(300, 8)
    def floats(n: Int) = PQTrainer.fit(df.repartition(n), "vec", numSub = 2, k = 4)
      .subs.flatten.flatten.toSeq
    assert(floats(1) == floats(7))
  }

  test("PQTrainer.fit runs at most 2 Spark jobs") {
    val df = vecs(300, 8).cache()
    df.count()
    val jobs = countJobs { PQTrainer.fit(df, "vec", numSub = 4, k = 4) }
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("on the sf0.01 docs the codebook reconstructs no worse than MLlib KMeans'") {
    val d = graft.io.Tables.load(spark, sf("0.01"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec")).cache()
    def meanErr(cb: PQCodebook) = PQAssigner.reconstructWithError(d, cb)
      .agg(avg("recon_error")).head.getDouble(0)
    for ((numSub, k) <- Seq((4, 8), (2, 16))) {
      val ours = meanErr(PQTrainer.fit(d, "vec", numSub, k, seed = 42L, maxIter = 10))
      val mllib = meanErr(MllibKMeansReference.pq(d, "vec", numSub, k, 42L, 10))
      info(f"$numSub×$k: sampled $ours%.6f, MLlib $mllib%.6f")
      assert(ours <= mllib, s"$numSub×$k: $ours > MLlib's $mllib")
    }
  }
}
