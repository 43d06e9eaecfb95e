package graft.search

import graft.SparkSpec
import graft.io.Tables
import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf("0.001"), "embeddings")
    .select(col("vec_id").as("doc_id"), col("embedding").as("vec")).cache()
  private lazy val queries = Tables.load(spark, sf("0.001"), "embeddings")
    .where(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  test("TopK aggregator returns k best, sorted, deterministic on ties") {
    val df = Seq(
      (1L, 10L, 1.0), (1L, 11L, 3.0), (1L, 12L, 2.0), (1L, 13L, 3.0),
      (2L, 20L, 5.0)
    ).toDF("q", "id", "score")
    val top = df.groupBy("q").agg(TopK.topk(2)($"id", $"score").as("top"))
      .orderBy("q").collect()
    val r1 = top(0).getSeq[org.apache.spark.sql.Row](1)
    assert(r1.map(r => (r.getLong(0), r.getDouble(1))) ==
      Seq((11L, 3.0), (13L, 3.0))) // tie → ascending id
    assert(top(1).getSeq[org.apache.spark.sql.Row](1).size == 1)
  }

  // (id, score bits): tells 0.0 from -0.0 and matches NaN with NaN
  private type Hit = (Long, Long)
  private def hit(id: Long, s: Double): Hit =
    (id, java.lang.Double.doubleToLongBits(s))
  // the ranked-list contract, independent of the heap: negated score
  // ascending under java.lang.Double.compare, then id ascending
  private val rankOrder: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)](r => (-r._2, r._1))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
  private def sortTake(rows: Seq[(Long, Double)], k: Int): Seq[Hit] =
    rows.sorted(rankOrder).take(k).map(r => hit(r._1, r._2))
  /** One row per id, at its better-ranked score. */
  private def bestPerId(rows: Seq[(Long, Double)]): Seq[(Long, Double)] =
    rows.groupBy(_._1).values.map(_.min(rankOrder)).toSeq

  // seven groups of ~86 rows plus one 100-row group (q = 7): ties, NaN,
  // ±0.0, ±∞ and repeated ids (120 ids over 700 rows)
  private lazy val hostileRows: Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(7)
    val odd = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity)
    Seq.tabulate(700) { i =>
      val score =
        if (rnd.nextInt(4) == 0) odd(rnd.nextInt(odd.length))
        else rnd.nextInt(20) / 4.0
      (math.min(i / 86, 7).toLong, rnd.nextInt(120).toLong, score)
    }
  }

  private def byGroup(data: Seq[(Long, Long, Double)])(
      f: Seq[(Long, Double)] => Seq[Hit]): Map[Long, Seq[Hit]] =
    data.groupBy(_._1).map { case (q, rows) => q -> f(rows.map(r => (r._2, r._3))) }

  private def topkByGroup(data: Seq[(Long, Long, Double)], parts: Int, k: Int,
      distinctIds: Boolean): Map[Long, Seq[Hit]] =
    spark.createDataFrame(spark.sparkContext.parallelize(data, parts))
      .toDF("q", "id", "score")
      .groupBy("q").agg(TopK.topk(k, distinctIds)($"id", $"score").as("top"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(t => hit(t.getLong(0), t.getDouble(1))).toSeq
      }.toMap

  test("TopK aggregator equals global sort-take under any partitioning") {
    val rnd = new scala.util.Random(7)
    val plain = Seq.tabulate(500)(i => (i % 7L, i.toLong, rnd.nextDouble()))
    for (parts <- Seq(1, 3, 16)) {
      assert(topkByGroup(plain, parts, 5, distinctIds = false) ==
        byGroup(plain)(sortTake(_, 5)), s"plain parts=$parts")
      // k above every group size, and k = 10⁶ on groups of ≤ 100 rows
      for (k <- Seq(1, 5, 200, 1000000)) {
        assert(topkByGroup(hostileRows, parts, k, distinctIds = false) ==
          byGroup(hostileRows)(sortTake(_, k)), s"hostile parts=$parts k=$k")
        assert(topkByGroup(hostileRows, parts, k, distinctIds = true) ==
          byGroup(hostileRows)(rows => sortTake(bestPerId(rows), k)),
          s"distinct parts=$parts k=$k")
      }
    }
  }

  test("distinct TopK equals groupBy-max followed by sort-take") {
    // SQL max() and the heap's better-ranked score agree wherever max is
    // well defined: no NaN (max picks it, the heap ranks it last) and no
    // -0.0 (max treats it as equal to 0.0)
    val finite = hostileRows.filter(r =>
      !r._3.isNaN && java.lang.Double.doubleToLongBits(r._3) != 0x8000000000000000L)
    for (parts <- Seq(1, 3, 16); k <- Seq(1, 5, 200)) {
      val maxed = spark.createDataFrame(spark.sparkContext.parallelize(finite, parts))
        .toDF("q", "id", "score")
        .groupBy("q", "id").agg(max($"score").as("score"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(topkByGroup(finite, parts, k, distinctIds = true) ==
        byGroup(maxed)(sortTake(_, k)), s"parts=$parts k=$k")
    }
  }

  test("minIds equals a sorted take that keeps repeated ids") {
    for (parts <- Seq(1, 3, 16); k <- Seq(1, 5, 200, 1000000)) {
      val got = spark.createDataFrame(spark.sparkContext.parallelize(hostileRows, parts))
        .toDF("q", "id", "score")
        .groupBy("q").agg(TopK.minIds(k)($"id").as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val expect = hostileRows.groupBy(_._1).map { case (q, rows) =>
        q -> rows.map(_._2).sorted.take(k)
      }
      assert(got == expect, s"parts=$parts k=$k")
    }
  }

  test("TopK skips rows with a null id or score, as SQL aggregates do") {
    val df = Seq[(Long, Option[Long], Option[Double])](
      (1L, Some(10L), Some(1.0)), (1L, None, Some(9.0)),
      (1L, Some(11L), None), (1L, Some(12L), Some(2.0)),
      (2L, None, Some(1.0))
    ).toDF("q", "id", "score")
    val got = df.groupBy("q")
      .agg(TopK.topk(5)($"id", $"score").as("top"),
        TopK.topk(5, distinctIds = true)($"id", $"score").as("dtop"),
        TopK.minIds(5)($"id").as("ids"))
      .orderBy("q").collect()
    def hits(r: org.apache.spark.sql.Row, i: Int) =
      r.getSeq[org.apache.spark.sql.Row](i).map(t => (t.getLong(0), t.getDouble(1)))
    assert(hits(got(0), 1) == Seq((12L, 2.0), (10L, 1.0)))
    assert(hits(got(0), 2) == Seq((12L, 2.0), (10L, 1.0)))
    assert(got(0).getSeq[Long](3) == Seq(10L, 11L, 12L))
    // a group whose every row is skipped yields an empty list, not null
    assert(hits(got(1), 1).isEmpty && got(1).getSeq[Long](3).isEmpty)
  }

  test("TopK heap grows on demand and survives eviction, merge and bytes") {
    val big = new TopKHeap(1000000, distinct = true)
    (0 until 100).foreach(i => big.offer(i % 60, i.toDouble))
    assert(big.size == 60 && big.ids.length <= 128, s"capacity ${big.ids.length}")

    val rnd = new scala.util.Random(11)
    for (round <- 0 until 40; k <- Seq(1, 7, 64, 500); distinct <- Seq(false, true)) {
      val offers = Seq.fill(1500)(
        (rnd.nextInt(300).toLong, rnd.nextInt(40) / 8.0))
      val expect = sortTake(if (distinct) bestPerId(offers) else offers, k)
      def sortedHits(h: TopKHeap) = {
        val (ids, scores) = h.sorted
        ids.indices.map(i => hit(ids(i), scores(i)))
      }
      // three partials, each through bytes, merged into the first
      val parts = offers.grouped(500).map { chunk =>
        val h = new TopKHeap(k, distinct)
        chunk.foreach(o => h.offer(o._1, o._2))
        TopKHeap.fromBytes(h.toBytes, k, distinct)
      }.toSeq
      parts.tail.foreach(parts.head.mergeFrom)
      assert(sortedHits(parts.head) == expect, s"round=$round k=$k distinct=$distinct")
    }
  }

  test("self is nearest neighbor under IP on normalized vectors") {
    val top1 = BruteForceKNN.topK(queries, docs, k = 1, metric = "ip")
    val rows = top1.collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getAs[Long]("doc_id") == r.getAs[Long]("query_id")))
  }

  test("beam search with full width finds the greedy assignment path") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val qs = docs.limit(5).collect()
    qs.foreach { r =>
      val vec = r.getSeq[Float](1).toArray
      val greedy = cb.assign(vec).toSeq
      // beams = K^M ⇒ exhaustive ⇒ the true max-score tuple; greedy path
      // must appear among top tuples (and for L2 metric the exhaustive best
      // is at least as good as greedy)
      val beam = CodebookBeamSearch.searchOne(cb, vec, beams = 64)
      assert(beam.map(_._1.toSeq).contains(greedy))
    }
  }

  test("do_sample beam mode: frequencies track softmax weights (pq.py:686-688)") {
    // one level, 3 centroids, beams=1 ⇒ each draw samples ONE code with
    // probability softmax(-||q-c||²); across many salts the empirical
    // frequencies must approach those weights
    val cents = Array(
      Array(0.0f, 0.0f),   // closest to q
      Array(1.0f, 0.0f),
      Array(2.0f, 0.0f))
    val cb = graft.index.Codebook(Array(cents))
    val q = Array(0.0f, 0.0f)
    val raw = cents.map { c =>
      -c.zip(q).map { case (ci, qi) => (ci - qi) * (ci - qi) }.sum.toDouble
    }
    val z = raw.map(math.exp).sum
    val p = raw.map(r => math.exp(r) / z)
    val n = 4000
    val counts = new Array[Int](3)
    (0 until n).foreach { i =>
      val picked = CodebookBeamSearch.searchOne(cb, q, beams = 1,
        doSample = true, salt = s"salt$i").head._1.head
      counts(picked) += 1
    }
    (0 until 3).foreach { c =>
      val freq = counts(c).toDouble / n
      assert(math.abs(freq - p(c)) < 0.03,
        s"code $c: freq $freq vs weight ${p(c)}")
    }
    // and without sampling the argmax always wins
    assert(CodebookBeamSearch.searchOne(cb, q, beams = 1).head._1.head == 0)
  }

  test("do_sample search is deterministic across partitionings and reruns") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    def run(parts: Int): Seq[(Long, Seq[Int], Int)] =
      CodebookBeamSearch.search(queries.repartition(parts), cb, beams = 4,
        doSample = true, sampleSeed = 7L)
        .select(col("query_id"), col("codes"), col("crank"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val a = run(1)
    assert(a == run(8))
    assert(a == run(3))
    // a different seed actually changes some draw
    val b = CodebookBeamSearch.search(queries, cb, beams = 4,
      doSample = true, sampleSeed = 8L)
      .select(col("query_id"), col("codes"), col("crank")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(a != b)
  }

  test("budgeted retrieval: unlimited budget equals plain coarse→fine") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val index = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb))
    val plain = CoarseFineRetriever.retrieve(queries, index, docs, cb,
      beams = 8, k = 5, metric = "ip")
    val budgeted = CoarseFineRetriever.retrieveBudgeted(queries, index, docs, cb,
      beams = 8, k = 5, budget = 1000000, metric = "ip")
    val a = plain.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val b = budgeted.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(a == b)
  }

  test("budgeted retrieval: tight budget still finds self, probes fewer docs") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val index = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb))
    val tight = CoarseFineRetriever.retrieveBudgeted(queries, index, docs, cb,
      beams = 8, k = 1, budget = 60, metric = "ip")
    // self's own cluster is the best-reconstructing cluster → survives any
    // budget ≥ its size; top-1 must still be the query itself
    tight.collect().foreach { r =>
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("query_id"))
    }
  }

  test("coarse→fine with exhaustive beams ≈ brute force top-1") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val index = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb))
    val got = CoarseFineRetriever.retrieve(queries, index, docs, cb,
      beams = 64, k = 1, metric = "ip")
    // with all 64 cluster paths probed every doc is a candidate → top-1 is
    // the query itself (normalized vectors, self included)
    got.collect().foreach { r =>
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("query_id"))
    }
  }

  test("multi-membership coarse→fine and budgeted equal the groupBy-max form; unknown dedup refused") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val index = ClusterIndexBuilder.build(
      CodeAssigner.assignTopK(docs, cb, t = 2).select("doc_id", "codes"))
    val beams = 8
    val k = 20
    val budget = 100
    // the form the retrievers had before the max dedup folded into the
    // top-k: score every (query, candidate) row, groupBy max, then rank
    def groupByMaxRanked(cands: org.apache.spark.sql.DataFrame) = {
      val scored = cands.join(docs, Seq("doc_id")).join(queries, Seq("query_id"))
        .select(col("query_id"), col("doc_id"),
          BruteForceKNN.score("ip")(col("qvec"), col("vec")).as("score"))
      TopK.ranked(
        scored.groupBy("query_id", "doc_id").agg(max(col("score")).as("score")), k)
    }
    def members(clusters: org.apache.spark.sql.DataFrame) =
      clusters.join(index.select("codes", "doc_ids"), Seq("codes"))
        .select(col("query_id"), explode(col("doc_ids")).as("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq

    val coarse = CodebookBeamSearch.search(queries, cb, beams)
    val cands = members(coarse.select("query_id", "codes"))
    assert(cands.count() > cands.distinct().count(),
      "no doc reaches a query through two clusters: the parity is vacuous")
    assert(rows(CoarseFineRetriever.retrieve(queries, index, docs, cb,
      beams = beams, k = k)) == rows(groupByMaxRanked(cands)))

    // the budgeted path's cluster choice, restated: best reconstruction
    // scores first until the member count reaches the budget
    val recon = udf { (q: Seq[Float], codes: Seq[Int]) =>
      val rec = cb.reconstruct(codes.toArray)
      var s = 0.0
      for (j <- q.indices) s += q(j).toDouble * rec(j).toDouble
      s
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("rscore").desc, col("codes").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val kept = coarse.join(index.select("codes", "csize").distinct(), Seq("codes"))
      .join(queries, Seq("query_id"))
      .withColumn("rscore", recon(col("qvec"), col("codes")))
      .withColumn("prior", coalesce(sum(col("csize")).over(w), lit(0L)))
      .where(col("prior") < budget)
      .select("query_id", "codes")
    val budgetedCands = members(kept)
    assert(budgetedCands.count() > budgetedCands.distinct().count())
    assert(budgetedCands.count() < cands.count(), "the budget pruned nothing")
    assert(rows(CoarseFineRetriever.retrieveBudgeted(queries, index, docs, cb,
      beams = beams, k = k, budget = budget)) == rows(groupByMaxRanked(budgetedCands)))

    // any dedup mode but "max" and "sum" is refused, by name
    val e = intercept[IllegalArgumentException] {
      CoarseFineRetriever.retrieve(queries, index, docs, cb, dedup = "mean")
    }
    assert(e.getMessage.contains("dedup") && e.getMessage.contains("mean"))
  }

  // the driver plan's fixture: an RQ index over the 0.001 embeddings, the
  // same index with clusters split over several chunk rows, and a batch
  // of hostile rows — a duplicate query_id with another vector, a zero
  // and a NaN vector, a NULL qvec, a NULL query_id and a query whose
  // every predicted cluster is missing from the index
  private lazy val driverFixture = {
    val beams = 8
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val assigned = CodeAssigner.assign(docs, cb)
    val vecs = docs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // the orphan: the doc vector whose predicted clusters hold the fewest
    // members, so dropping them from the index leaves the rest served
    val sizes = assigned.groupBy("codes").count().collect()
      .map(r => r.getSeq[Int](0) -> r.getLong(1)).toMap
    def predicted(v: Array[Float]) = CodebookBeamSearch.searchOne(cb, v, beams).map(_._1.toSeq)
    val orphanVec = vecs.toSeq.minBy { case (id, v) =>
      (predicted(v).map(sizes.getOrElse(_, 0L)).sum, id) }._2
    val orphan = predicted(orphanVec).toSet
    val notOrphan = udf((codes: Seq[Int]) => !orphan.contains(codes))
    def index(maxChunk: Int) = {
      val ix = ClusterIndexBuilder.build(assigned, maxChunk)
        .where(notOrphan(col("codes"))).cache()
      ix.count()
      ix
    }
    val whole = index(ClusterIndexBuilder.DefaultMaxChunk)
    val chunked = index(3)
    assert(chunked.groupBy("codes").count().where(col("count") > 1).count() > 0,
      "no cluster is split over chunk rows")
    val dim = vecs(0L).length
    val batch = Seq[(java.lang.Long, Array[Float])](
      (0L, vecs(0L)), (1L, vecs(1L)), (2L, vecs(2L)), (2L, vecs(5L)),
      (3L, Array.fill(dim)(0f)), (4L, Array.fill(dim)(Float.NaN)),
      (5L, null), (null, vecs(8L)), (6L, orphanVec), (7L, vecs(7L)))
    (cb, whole, chunked, beams, localBatch(batch))
  }

  /** (query_id, qvec) rows as a LocalRelation — a batch on the driver. */
  private def localBatch(rows: Seq[(java.lang.Long, Array[Float])]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("qvec", ArrayType(FloatType))))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) =>
      Row(id, Option(v).map(_.toSeq).orNull) }: _*), schema)
  }

  private def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def rankedBits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted.toSeq

  test("a driver-resident batch is served on the driver, equal to the distributed plan to the bit") {
    val (cb, whole, chunked, beams, local) = driverFixture
    val distributed = local.localCheckpoint()
    val k = 1000 // above every candidate count: the whole candidate set shows
    for (metric <- Seq("ip", "l2", "cos"); (index, ixName) <- Seq(whole -> "whole", chunked -> "chunked")) {
      def both(name: String)(run: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
        val (a, b) = (run(local), run(distributed))
        val where = s"$name, $metric, $ixName index"
        assert(onDriver(a), s"$where: the local batch took the distributed plan")
        assert(!onDriver(b), s"$where: the checkpointed batch took the driver plan")
        assert(a.schema == b.schema, where)
        val rows = rankedBits(a)
        assert(rows == rankedBits(b), where)
        rows
      }
      val plain = both("retrieve") { q =>
        CoarseFineRetriever.retrieve(q, index, docs, cb, beams = beams, k = k, metric = metric)
      }
      val loose = both("budgeted, loose") { q =>
        CoarseFineRetriever.retrieveBudgeted(q, index, docs, cb, beams = beams, k = k,
          budget = 1000000, metric = metric)
      }
      val tight = both("budgeted, tight") { q =>
        CoarseFineRetriever.retrieveBudgeted(q, index, docs, cb, beams = beams, k = k,
          budget = 12, metric = metric)
      }
      assert(loose == plain, s"$metric: an unlimited budget must equal retrieve")
      assert(tight.size < loose.size, s"$metric: the tight budget pruned nothing")
      // the duplicate id ranks both rows' candidates in one list; the NULL
      // vector, the NULL id and the orphan query get none
      val ids = plain.map(_._1).toSet
      assert(ids == Set(0L, 1L, 2L, 3L, 4L, 7L), s"$metric: $ids")
      assert(plain.filter(_._1 == 2L).map(_._3).distinct.size ==
        plain.count(_._1 == 2L), "a doc repeats in the merged duplicate-id list")
    }

    // an empty batch: no rows and the same schema on both plans
    val empty = localBatch(Nil)
    val (a, b) = (CoarseFineRetriever.retrieve(empty, whole, docs, cb),
      CoarseFineRetriever.retrieve(empty.localCheckpoint(), whole, docs, cb))
    assert(a.schema == b.schema && a.collect().isEmpty && b.collect().isEmpty)
  }

  test("the driver plan falls back when its payload exceeds the broadcast threshold") {
    val (cb, whole, _, beams, local) = driverFixture
    def runs = Seq(
      CoarseFineRetriever.retrieve(local, whole, docs, cb, beams = beams, k = 5),
      CoarseFineRetriever.retrieveBudgeted(local, whole, docs, cb, beams = beams,
        k = 5, budget = 12))
    val onDriverRows = runs.map { df => assert(onDriver(df)); rankedBits(df) }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      runs.zip(onDriverRows).foreach { case (df, want) =>
        assert(!onDriver(df), "a payload over a 1-byte threshold stayed on the driver")
        assert(rankedBits(df) == want)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("an 8-query driver-resident batch runs at most two Spark jobs") {
    val (cb, whole, _, beams, _) = driverFixture
    docs.count() // materialize the cached corpus outside the counted calls
    val vecs = docs.where(col("doc_id") < 8).collect()
      .map(r => (java.lang.Long.valueOf(r.getLong(0)), r.getSeq[Float](1).toArray)).toSeq
    val batch = localBatch(vecs)
    def jobsOf(body: => Array[org.apache.spark.sql.Row]): Int =
      countJobs(assert(body.nonEmpty))
    val plain = jobsOf(CoarseFineRetriever.retrieve(batch, whole, docs, cb,
      beams = beams, k = 10).collect())
    val budgeted = jobsOf(CoarseFineRetriever.retrieveBudgeted(batch, whole, docs, cb,
      beams = beams, k = 10, budget = 12).collect())
    assert(plain <= 2 && budgeted <= 2, s"retrieve ran $plain jobs, retrieveBudgeted $budgeted")
  }

  test("topic mix r=0 drops the doc-proba term entirely") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val multi = CodeAssigner.assignTopK(docs, cb, t = 2)
    val index = ClusterIndexBuilder.build(multi.select("doc_id", "codes"))
    val proba = CoarseFineRetriever.docClusterProba(multi, docs, cb)
    def run(mix: org.apache.spark.sql.DataFrame) =
      CoarseFineRetriever.retrieve(queries, index, docs, cb, beams = 4,
        k = 10, topicMix = Some(mix), topicRatio = 0.0)
        .collect().map(_.toString).sorted.toSeq
    // at r=0 the score is q_proba·qd: poisoning every dprob must not
    // change a single row
    assert(run(proba) == run(proba.withColumn("dprob", lit(1e9))))
  }

  test("topic mix r=1 scores are membership-only (qd term drops)") {
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val multi = CodeAssigner.assignTopK(docs, cb, t = 2)
    val index = ClusterIndexBuilder.build(multi.select("doc_id", "codes"))
    val proba = CoarseFineRetriever.docClusterProba(multi, docs, cb)
    def run(d: org.apache.spark.sql.DataFrame) =
      CoarseFineRetriever.retrieve(queries, index, d, cb, beams = 4,
        k = 10, topicMix = Some(proba), topicRatio = 1.0)
        .collect().map(_.toString).sorted.toSeq
    // at r=1 the qd dot is multiplied by zero: scrambling the doc
    // vectors that feed it must not change a single row
    val scrambled = docs.select(col("doc_id"),
      reverse(col("vec")).as("vec"))
    assert(run(docs) == run(scrambled))
  }

  test("LSH scaled bits keep bucket occupancy flat as the corpus grows") {
    // fixed bits = fixed 2^bits·tables pattern space: occupancy (and the
    // per-bucket quadratic candidate join) grows linearly with n. autoBits
    // grows the plane count ~log2(n) so occupancy stays ~targetBucket.
    assert(LSHSearch.autoBits(2000, targetBucket = 64) == 8) // minBits floor
    assert(LSHSearch.autoBits(200000, targetBucket = 64) == 12)
    assert(LSHSearch.autoBits(0, targetBucket = 64) == 8)

    val dim = 16
    val gen = udf { (id: Long) =>
      val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
      Array.fill(dim)(rng.nextGaussian().toFloat)
    }
    def maxOccupancy(n: Long, bits: Int): Long = {
      val e = spark.range(n)
        .select(col("id").as("vec_id"), gen(col("id")).as("embedding"))
      val planes = LSHSearch.seededPlanes(1, bits, dim, 42L)
      // reuse the engine's bucketing planes via the pair path at tiny
      // threshold: occupancy is what we measure, so count (bkey) rows
      // through a 1-table run's candidate input — approximate via
      // recomputation of sign patterns with the same seeded planes
      val signUdf = udf { (v: Seq[Float]) =>
        planes(0).map(p =>
          if (p.zip(v.map(_.toDouble)).map { case (a, b) => a * b }.sum >= 0) '1'
          else '0').mkString
      }
      e.select(signUdf(col("embedding")).as("bkey"))
        .groupBy("bkey").count().agg(max("count")).as[Long].head()
    }
    val occSmallFixed = maxOccupancy(2000, 8)
    val occBigFixed = maxOccupancy(16000, 8)
    // target 4 docs/bucket → autoBits leaves the minBits floor (12 bits
    // at 16k) and the grown pattern space absorbs the corpus growth
    assert(LSHSearch.autoBits(16000, targetBucket = 4) == 12)
    val occBigScaled = maxOccupancy(16000, LSHSearch.autoBits(16000, 4))
    // fixed bits: occupancy grows ~linearly with n (8× corpus → ≥4× fuller)
    assert(occBigFixed >= 4 * occSmallFixed,
      s"fixed-bits occupancy should grow with n: $occSmallFixed -> $occBigFixed")
    // scaled bits: the grown pattern space absorbs most of the corpus
    // growth (hyperplane sign patterns are skewed at dim 16, so the max
    // bucket shrinks ~3×, not the uniform-case 2^4; the quadratic
    // candidate growth per bucket is what matters and it is gone)
    assert(2 * occBigScaled <= occBigFixed,
      s"scaled bits should break the occupancy growth: fixed $occBigFixed vs scaled $occBigScaled")

    // and at fixture size the scaled variant IS the fixed-bits engine
    // (autoBits floors at 8), bit-for-bit
    val fixture = Tables.load(spark, sf("0.001"), "embeddings")
    val a = LSHSearch.seededNearDupPairs(fixture, dim = 64)
      .collect().map(_.toString).sorted.toSeq
    val b = LSHSearch.seededNearDupPairsScaled(fixture, dim = 64)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }
}
