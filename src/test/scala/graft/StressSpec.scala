package graft

import graft.io.Tables
import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
import graft.search.{BruteForceKNN, CoarseFineRetriever}
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Scale smoke: replicate the fixture embeddings 16× (32k vectors) and run
  * the full index→retrieve spine plus the MinHash pipeline on 8× documents.
  * Guards against super-linear regressions (quadratic candidate blowups,
  * unbounded collects) that sf0.001 unit tests can't see. Wall-clock
  * bounded loosely — the point is completion and sane output, not timing
  * precision.
  */
class StressSpec extends SparkSpec with graft.index.HkmBeamPlans {

  /** `body`'s result and the largest shuffle-read record count of any
    * task it ran. */
  private def withMaxTaskShuffleRead[T](body: => T): (T, Long) = {
    val max = new java.util.concurrent.atomic.AtomicLong(0)
    val out = withListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          max.accumulateAndGet(t.taskMetrics.shuffleReadMetrics.recordsRead,
            (a: Long, b: Long) => math.max(a, b))
    })(body)
    (out, max.get)
  }

  private def replicatedVecs(times: Int) = {
    val base = Tables.load(spark, sf("0.01"), "embeddings")
    (0 until times).map { i =>
      base.select((col("vec_id") + i * 1000000L).as("doc_id"),
        col("embedding").as("vec"))
    }.reduce(_ unionByName _)
  }

  test("index build + coarse-fine retrieval on 16x replicated corpus (8k vecs)") {
    val docs = replicatedVecs(16).repartition(16).cache()
    val n = docs.count()
    assert(n == 16 * 500)
    val t0 = System.nanoTime()
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val index = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb))
    val queries = docs.where(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"), col("vec").as("qvec"))
    val out = CoarseFineRetriever.retrieveBudgeted(
      queries, index, docs, cb, beams = 4, k = 10, budget = 500)
    val rows = out.count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(rows == 20 * 10)
    assert(sec < 120, s"spine took ${sec}s on 8k vectors — super-linear?")
    // replicas of the same vector share a cluster → each query's replica
    // set scores identically; top hit must be an exact replica (score 1.0-ish)
    val top1 = out.where(col("rank") === 1)
    assert(top1.where(col("score") < 0.999).count() == 0)
  }

  test("minhash LSH pipeline on 8x replicated documents (4k docs)") {
    val base = Tables.load(spark, sf("0.01"), "documents")
    val docs = (0 until 8).map { i =>
      base.select((col("doc_id") + i * 1000000L).as("doc_id"), col("text"))
    }.reduce(_ unionByName _).repartition(16).cache()
    assert(docs.count() == 4000)
    val t0 = System.nanoTime()
    val sigs = Dedup.minhashSignatures(docs, numPerms = 8)
    val cands = Dedup.lshCandidatePairs(sigs, rowsPerBand = 4)
    val pairs = Dedup.jaccardPairsByHash(docs, cands)
      .where(col("jaccard") >= 0.99)
    val nPairs = pairs.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // every doc now has 7 exact replicas → 8*7/2 pairs per base doc
    assert(nPairs == 500L * 8 * 7 / 2, s"expected full replica pairing, got $nPairs")
    assert(sec < 120, s"minhash took ${sec}s on 4k docs — candidate blowup?")

    // dedup finishing step: pairs → components must recover exactly the
    // 500 replica groups, each of size 8, canonical = the base doc id
    val comp = Dedup.connectedComponents(pairs.select("a", "b"))
    val sizes = comp.groupBy("comp").count().collect()
    assert(sizes.length == 500, s"expected 500 dup clusters, got ${sizes.length}")
    assert(sizes.forall(_.getLong(1) == 8))
    assert(comp.where(col("comp") >= 1000000L).count() == 0,
      "canonical id must be the base (smallest) replica")
  }

  test("trimDuplicateSpans survives a planted 1e5-occurrence boilerplate gram") {
    import spark.implicits._
    // every doc opens with the SAME 10-token boilerplate (so every one of
    // its 3-grams occurs 100k× corpus-wide) followed by a unique tail —
    // the exact pathology a per-gram window SORT would serialize through
    // one task. The count+min agg path must stay flat: map-side partials
    // bound per-gh reduce input by the task count, not the occurrence
    // count.
    val boiler = "the quick brown fox jumps over the lazy dog again"
    val docs = spark.range(100000).select(col("id").as("doc_id"),
      concat(lit(boiler + " u"), col("id"), lit("a u"), col("id"), lit("b"))
        .as("text"))
    val t0 = System.nanoTime()
    val out = Dedup.trimDuplicateSpans(docs, n = 3).cache()
    val kept = out.agg(sum("n_kept"), sum("n_tokens"))
      .as[(Long, Long)].collect().head
    val sec = (System.nanoTime() - t0) / 1e9
    // doc 0 keeps all 12 tokens; every other doc loses the 10 boilerplate
    // tokens (its unique "uNa uNb" tail survives — too short to gram)
    assert(kept._2 == 100000L * 12)
    assert(kept._1 == 12L + 99999L * 2,
      s"expected one canonical boilerplate copy, got kept=${kept._1}")
    assert(sec < 120, s"hot-gram trim took ${sec}s — straggler task?")
    // plan pin: the first/later split must be agg+join, never a window
    // (row_number over a mega-hot gh partition is the straggler shape)
    val plan = Dedup.trimDuplicateSpans(docs, n = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RunningWindowFunction") &&
      !plan.contains("row_number"),
      s"per-gram window crept back into trimDuplicateSpans:\n$plan")
    out.unpersist()
  }

  test("paragraphDedup survives a planted 1e5-occurrence boilerplate block") {
    import spark.implicits._
    // every doc opens with the SAME 8-token paragraph (100k occurrences
    // of one block hash) followed by a unique 2-token tail block. The
    // first-occurrence split must stay the count+min agg shape: map-side
    // partials bound per-hash reduce input by task count, and the
    // join-back's one hot build row can't serialize a task.
    val boiler = "terms of service apply to this document here"
    val docs = spark.range(100000).select(col("id").as("doc_id"),
      concat(lit(boiler + " u"), col("id"), lit("a u"), col("id"), lit("b"))
        .as("text"))
    val t0 = System.nanoTime()
    val out = Dedup.paragraphDedup(docs, blockWords = 8).cache()
    val sums = out.agg(sum("n_blocks"), sum("n_kept"))
      .as[(Long, Long)].collect().head
    val sec = (System.nanoTime() - t0) / 1e9
    // every doc has 2 blocks; doc 0 keeps both, the rest keep their tail
    assert(sums._1 == 200000L)
    assert(sums._2 == 2L + 99999L,
      s"expected one canonical boilerplate copy, got kept=${sums._2}")
    assert(sec < 120, s"hot-block dedup took ${sec}s — straggler task?")
    // plan pin: first-occurrence must be agg+join, never a per-hash window
    val plan = Dedup.paragraphDedup(docs, blockWords = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RunningWindowFunction") &&
      !plan.contains("row_number"),
      s"per-hash window crept into paragraphDedup:\n$plan")
    out.unpersist()
  }

  test("exactGroups report stays bounded under a 1e5x duplicate group") {
    import spark.implicits._
    // 95k copies of ONE document + 5k uniques: the duplicate-groups
    // report must cost a k-slot buffer for the hot group, not a
    // 95k-element array cell. Pins (VERDICT r10 #3): bounded sample,
    // flat wall-clock, and NO collect_list anywhere in the plan.
    val boiler = "all work and no play makes jack a dull boy"
    val docs = spark.range(100000).select(col("id").as("doc_id"),
      when(col("id") < 95000, boiler)
        .otherwise(concat(lit("unique "), col("id"))).as("text"))
    val t0 = System.nanoTime()
    val rep = Dedup.exactGroups(docs)
    val rows = rep.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 5001)
    val hot = rows.filter(_.getAs[Long]("n_docs") == 95000L)
    assert(hot.length == 1)
    assert(hot.head.getAs[Long]("canonical_id") == 0L)
    assert(hot.head.getAs[scala.collection.Seq[Long]]("sample_ids") ==
      Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(rows.forall(
      _.getAs[scala.collection.Seq[Long]]("sample_ids").length <= 8))
    assert(sec < 60, s"hot-group report took ${sec}s — unbounded buffer?")
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"unbounded collect_list crept back into exactGroups:\n$plan")
  }

  test("bloomSemiJoin is byte-identical to the exact semi join") {
    import graft.pipeline.Membership
    val o = Tables.load(spark, sf("0.01"), "orders")
    val l = Tables.load(spark, sf("0.01"), "lineitem")
      .where(col("l_returnflag") === "R")
    val exact = o.join(l.select(col("l_orderkey").as("o_orderkey")).distinct(),
      Seq("o_orderkey"), "left_semi")
      .select("o_orderkey").orderBy("o_orderkey").collect()
    // tiny filter (high fpp) to force real false positives into the
    // pre-filter — the confirm join must still remove every one of them
    val bloomed = Membership.bloomSemiJoin(o, l, "o_orderkey", "l_orderkey",
      expectedItems = 100L, fpp = 0.5)
      .select("o_orderkey").orderBy("o_orderkey").collect()
    assert(bloomed.toSeq == exact.toSeq)
  }

  test("salted join matches the plain join on a hot-keyed fact") {
    import graft.pipeline.SkewJoin
    import spark.implicits._
    // 50k-row hot key 7 + uniform tail; dim has one row per key
    val fact = spark.range(50000).select(lit(7L).as("k"), col("id").as("v"))
      .unionByName(spark.range(1000).select(
        (col("id") % 100).as("k"), (col("id") + 1000000L).as("v")))
    val dim = spark.range(100).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name"))
    val plain = fact.join(dim, Seq("k"))
    val salted = SkewJoin.salted(fact, dim, "k", salt = 8)
    assert(salted.count() == plain.count())
    val pAgg = plain.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    val sAgg = salted.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    assert(sAgg == pAgg)
  }

  test("default notClusterNegatives stays pre-sampled on a replicated corpus") {
    import graft.pipeline.NegativeSampling
    val docs = replicatedVecs(8).repartition(16).cache()
    assert(docs.count() == 4000)
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val assignments = CodeAssigner.assign(docs, cb).cache()
    val pairs = docs.where(col("doc_id") < 10)
      .select(concat(lit("q"), col("doc_id")).as("query"), col("doc_id"))
    val t0 = System.nanoTime()
    val negs = NegativeSampling.notClusterNegatives(pairs, assignments,
      docs.select("doc_id"), n = 8) // default auto pre-sampling
    negs.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val plan = negs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"default notclus produced a cartesian product at 4k docs:\n$plan")
    assert(sec < 60, s"notclus default took ${sec}s on 4k docs")
    // every (query, doc) pair keeps its full quota: the auto sample must
    // leave enough survivors after cluster rejection
    val sizes = negs.select(size(col("neg_ids"))).collect().map(_.getInt(0))
    assert(sizes.length == 10 && sizes.forall(_ == 8),
      s"a pair lost negatives under the default pre-sample: ${sizes.toSeq}")
  }

  test("all-pairs jaccard refuses above the size guard (no cartesian planned)") {
    val docs = replicatedVecs(1).selectExpr("doc_id",
      "CAST(doc_id AS STRING) AS text")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, maxAllPairsDocs = 100L)
    }
    assert(e.getMessage.contains("lshCandidatePairs"))
    // under the guard the all-pairs default still works
    val small = docs.limit(50)
    assert(Dedup.jaccardPairs(small, maxAllPairsDocs = 100L).count() ==
      50L * 49 / 2)
  }

  test("ivfpq search takes a corpus-sized query set (no driver collect)") {
    import graft.search.IVFPQ
    val docs = replicatedVecs(16).repartition(16).cache()
    assert(docs.count() == 8000)
    val index = IVFPQ.build(docs, coarseK = 16, numSub = 8, k = 16, seed = 42L)
    // every doc plays a query — the shape negative mining runs; the old
    // collect+broadcast query batch would ship the whole corpus through
    // the driver here
    val queries = docs.select(col("doc_id").as("query_id"),
      col("vec").as("qvec"))
    val out = IVFPQ.search(queries, index, nprobe = 2, k = 5)
    assert(out.count() == 8000L * 5)
    // replicas of one base vector are byte-identical queries → their
    // result lists must agree: 16 replicas × 500 base queries collapse
    // to exactly 500 distinct (base, rank, doc-set, dist) profiles
    val profiles = out
      .select((col("query_id") % 1000000L).as("base"), col("rank"),
        (col("doc_id") % 1000000L).as("doc"), col("dist"))
      .distinct().count()
    assert(profiles == 500L * 5,
      s"replica queries diverged: $profiles distinct profiles, want 2500")
  }

  test("graph walk takes a corpus-sized query set (no broadcast hint)") {
    import graft.search.KnnGraph
    val docs = replicatedVecs(4).repartition(16).cache()
    assert(docs.count() == 2000)
    val cb = RQTrainer.fit(docs, "vec", numLevels = 1, k = 16, seed = 42L,
      maxIter = 10)
    val cells = CodeAssigner.assign(docs, cb)
      .select(col("doc_id"), col("codes").getItem(0).as("cell")).cache()
    val graph = KnnGraph.build(docs, cells, k = 4, rounds = 1)
      .select("src", "dst").cache()
    // every doc plays a query — insert() does exactly this with a large
    // arrival batch; a broadcast(queries) hint would pin a corpus-sized
    // broadcast into every scoring round
    val queries = docs.select(col("doc_id").as("query_id"),
      col("vec").as("qvec"))
    val entries = KnnGraph.probeEntries(queries, cells, cb, nprobe = 1,
      perCell = 2)
    val out = KnnGraph.walk(queries, graph, docs, k = 5, beam = 8,
      rounds = 1, entries = entries)
    assert(!out.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "walk must not pin a broadcast hint on the query batch")
    // closure can be < k for a few queries (beam 8, 1 round); every query
    // must answer, near-full lists overall
    assert(out.select("query_id").distinct().count() == 2000L)
    assert(out.count() >= 2000L * 4)
  }

  test("hkm fit job count grows with depth, not node count") {
    import graft.index.HierarchicalKMeans
    import spark.implicits._

    val rng = new scala.util.Random(11)
    val df = (0 until 4000).map(i =>
      (i.toLong, Array.fill(6)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").cache()
    df.count()

    // same depth, 4x the fan-out (k=2 → 3 nodes max vs k=8 → 9 nodes):
    // job count must be identical — per-LEVEL scheduling
    val jK2 = countJobs(HierarchicalKMeans.fitLevels(df, "vec", k = 2,
      depth = 2, seed = 1L, maxIter = 5))
    val jK8 = countJobs(HierarchicalKMeans.fitLevels(df, "vec", k = 8,
      depth = 2, seed = 1L, maxIter = 5))
    assert(jK8 == jK2,
      s"fit jobs changed with fan-out: k=2 → $jK2 jobs, k=8 → $jK8 jobs")

    // deeper tree → more jobs, but bounded by a per-level constant
    val jD3 = countJobs(HierarchicalKMeans.fitLevels(df, "vec", k = 2,
      depth = 3, seed = 1L, maxIter = 5))
    assert(jD3 > jK2, s"depth 3 ($jD3 jobs) should schedule more than depth 2 ($jK2)")
    // one extra level costs the level's fit count + the prefix-join
    // descent count; AQE splits each shuffle into its own job, so
    // "constant" is a handful, never node-count
    assert(jD3 - jK2 <= 9,
      s"per-level job cost should be a small constant: depth2=$jK2 depth3=$jD3")
  }

  test("hkm distributed path matches the tree at k=32 (no driver codebooks)") {
    import graft.index.HierarchicalKMeans
    import spark.implicits._
    // the reference geometry direction: K=32 fan-out — the regime where
    // driver-resident codebooks stop scaling (33k nodes × 32 × 768 floats
    // ≈ 3 GB at depth 4); the join descent must agree with the plain
    // per-node argmin walk bit-for-bit while keeping codebooks distributed
    val rng = new scala.util.Random(29)
    val df = (0 until 16000).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").repartition(16).cache()
    df.count()
    val t0 = System.nanoTime()
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 32, depth = 2,
      seed = 2L, maxIter = 10)
    val paths = HierarchicalKMeans.assignByLevels(df, levels, depth = 2)
    val byLevels = paths.as[(Long, Seq[Int])].collect().toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120, s"k=32 distributed fit+assign took ${sec}s on 16k vecs")
    // no broadcast hint pinned anywhere in the descent plan
    assert(!paths.queryExecution.analyzed.toString.contains("ResolvedHint"))
    val nodes = graft.index.HkmReference.nodes(levels)
    val byWalk = df.as[(Long, Array[Float])].collect().map { case (id, v) =>
      id -> graft.index.HkmReference.assign(nodes, v)
    }.toMap
    assert(byLevels == byWalk, "distributed descent diverged from the walk")
  }

  test("hkm distributed beam matches the tree beam at k=32 (no tree broadcast)") {
    import graft.index.HierarchicalKMeans
    import spark.implicits._
    // the serving-side twin of the assign parity above: at the
    // reference geometry a broadcast of every codebook is ~3 GB, so
    // beamSearchByLevels must reproduce the sequential beam bit-for-bit
    // off the per-level codebook frames alone
    val rng = new scala.util.Random(31)
    val df = (0 until 8000).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").repartition(16).cache()
    df.count()
    val batch = (0 until 64).map(i =>
      (java.lang.Long.valueOf(i.toLong), Array.fill(8)(rng.nextGaussian().toFloat)))
    val queries = localQueries(batch).repartition(3) // the distributed plan

    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 32, depth = 2,
      seed = 2L, maxIter = 10)
    val dist = HierarchicalKMeans.beamSearchByLevels(
      queries, levels, depth = 2, beams = 6)
    // the plan must not pin any broadcast hint and must never go cartesian
    val analyzed = dist.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      "distributed beam should leave join strategy to AQE")
    assert(!dist.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    // both plans equal the reference beam (bit compare)
    assert(beamBothPlans(batch, levels, depth = 2, beams = 6).length == 64 * 6)
  }

  test("hkm distributed beam: leaf beams carry and compete (variable-depth trie)") {
    import graft.index.HierarchicalKMeans
    import spark.implicits._
    // the uniform corpora above split every node, so the carried-leaf
    // branch (a beam whose node stopped splitting keeps its shorter path
    // and competes on its shorter-path score) never engages there. Skew
    // the corpus: 4 dense clusters + a thin scatter, k=32 → most root
    // cells hold < 2k=64 members and become leaves at level 1.
    val rng = new scala.util.Random(37)
    val dense = (0 until 4000).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8)(j =>
        (math.sin(c * 8 + j) + 0.02 * rng.nextGaussian()).toFloat))
    }
    val scatter = (4000 until 4100).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
    val df = (dense ++ scatter).toDF("doc_id", "vec").repartition(16).cache()
    df.count()
    val batch = (0 until 48).map(i =>
      (java.lang.Long.valueOf(i.toLong), Array.fill(8)(rng.nextGaussian().toFloat)))

    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 32, depth = 2,
      seed = 5L, maxIter = 10)
    // precondition: the trie really is variable-depth (some root cells
    // trained no child codebook)
    val trained = levels.where(col("level") === 1).count()
    assert(trained < 32 && trained >= 1,
      s"fixture should leave SOME root cells leaves, got $trained/32 trained")

    // both plans equal the reference beam on a variable-depth trie
    val rows = beamBothPlans(batch, levels, depth = 2, beams = 8)
    // the carried branch must actually appear in results
    assert(rows.exists(_._3.length == 1),
      "no length-1 path survived — the leaf-carry branch never engaged")
    assert(rows.exists(_._3.length == 2))
  }

  test("hkm distributed beam: plan grows linearly in depth, parity holds at depth 4") {
    import graft.index.HierarchicalKMeans
    import spark.implicits._
    // the expanded/carried two-branch union referenced each level's plan
    // twice → ~2^depth logical nodes; the single conditional expand must
    // keep the per-level increment CONSTANT. Depth 4 at k=32 also drives
    // the carry branch hard (level-2+ cells are mostly leaves here).
    val rng = new scala.util.Random(41)
    val df = (0 until 8000).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").repartition(16).cache()
    df.count()
    val batch = (0 until 48).map(i =>
      (java.lang.Long.valueOf(i.toLong), Array.fill(8)(rng.nextGaussian().toFloat)))
    val queries = localQueries(batch).repartition(3) // the distributed plan

    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 32, depth = 4,
      seed = 7L, maxIter = 5).cache()
    levels.count()

    def planNodes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + p.children.map(planNodes).sum
    val counts = (1 to 4).map { d =>
      planNodes(HierarchicalKMeans.beamSearchByLevels(
        queries, levels, depth = d, beams = 6).queryExecution.analyzed)
    }
    val increments = counts.sliding(2).map(w => w(1) - w(0)).toSeq
    assert(increments.distinct.size == 1,
      s"plan growth must be linear in depth, got node counts $counts")

    // depth-4 parity on both plans (bit compare)
    assert(beamBothPlans(batch, levels, depth = 4, beams = 6).nonEmpty)
  }

  test("hkm fit handles the reference's fan-out (k=32) in seconds") {
    import graft.index.HierarchicalKMeans
    import spark.implicits._
    // the reference's id geometry is K=32 (subvector_bits 5,
    // marco_generate_embedding_n_rq.sh); depth 2 at 32k vectors gives
    // ~33 potential nodes in ONE level — the shape that used to cost one
    // MLlib fit + two counts each. Level-sync must clear it in seconds.
    val rng = new scala.util.Random(3)
    val df = (0 until 32000).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("doc_id", "vec").repartition(16).cache()
    df.count()
    val t0 = System.nanoTime()
    val levels = HierarchicalKMeans.fitLevels(df, "vec", k = 32, depth = 2,
      seed = 2L, maxIter = 10)
    val sec = (System.nanoTime() - t0) / 1e9
    val nodes = graft.index.HkmReference.nodes(levels)
    assert(nodes("").length == 32)
    assert(nodes.size - 1 >= 16,
      "most root cells should be big enough to split at 32k docs")
    assert(sec < 90, s"k=32 depth-2 fit took ${sec}s on 32k vectors")
  }

  test("skewed cluster (30% of 50k docs in one code tuple): chunked index + budget prune keep task input bounded") {
    // VERDICT r8 #9: the SURVEY §7.4.3 chunking claim gets its adversarial
    // probe — one code tuple owning ~30% of a 100×-sized corpus (50k docs,
    // the same count as the sf0.01×100 replica fixture). The pins:
    //   (a) ClusterIndexBuilder fans the hot cluster into ~csize/maxChunk
    //       hash-balanced rows (no giant doc_ids array),
    //   (b) the budgeted retrieve's candidate join broadcasts the tiny
    //       kept-clusters side, so hot-cluster chunks stream map-side,
    //   (c) task-metrics witness: no single task shuffle-reads the whole
    //       hot cluster (the skew bomb the chunking exists to defuse).
    val nDocs = 50000
    val dim = 16
    val hotFrac = 0.3
    val gen = udf { (id: Long) =>
      val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
      val v =
        if (id < nDocs * hotFrac)
          // one tight blob: RQ puts all of these in the same code tuple
          Array.tabulate(dim)(j =>
            (math.sin(j.toDouble) + 0.01 * rng.nextGaussian()).toFloat)
        else
          Array.fill(dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), gen(col("id")).as("vec"))
      .repartition(16).cache()
    docs.count()

    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L,
      maxIter = 5)
    val assignments = CodeAssigner.assign(docs, cb).cache()
    val maxChunk = 1024
    val index = ClusterIndexBuilder.build(assignments, maxChunk = maxChunk)
      .cache()

    // (a) hot cluster exists and is chunked, arrays hash-bounded
    val hot = index.orderBy(col("csize").desc).select("csize").head.getLong(0)
    assert(hot >= (nDocs * hotFrac * 0.8).toLong,
      s"blob didn't land in one tuple (max csize $hot)")
    val hotRows = index.where(col("csize") === hot)
    val nChunks = hotRows.count()
    assert(nChunks >= hot / maxChunk / 2,
      s"hot cluster in $nChunks chunk rows — not fanned out")
    val maxArr = hotRows.select(max(size(col("doc_ids")))).head.getInt(0)
    assert(maxArr <= 4 * maxChunk,
      s"a chunk row holds $maxArr members — hash balance broken")

    // queries aimed at the blob: budget prune keeps the hot cluster first
    val queries = docs.where(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"), col("vec").as("qvec"))

    // (c) record the largest per-task shuffle read
    val ((out, sec), maxTask) = withMaxTaskShuffleRead {
      val t0 = System.nanoTime()
      val df = CoarseFineRetriever.retrieveBudgeted(
        queries, index, docs, cb, beams = 4, k = 10, budget = 500)
      val rows = df.collect()
      ((df, rows), (System.nanoTime() - t0) / 1e9)
    }

    assert(out._2.length === 20 * 10)
    // every query sits inside the blob → all top hits must be blob members
    val top1 = out._2.filter(_.getAs[Int]("rank") == 1)
    assert(top1.forall(_.getAs[Long]("doc_id") < (nDocs * hotFrac).toLong),
      "top-1 hits escaped the planted blob")
    assert(sec < 120, s"skewed budgeted retrieve took ${sec}s")

    // (b) the kept→index candidate join broadcasts the kept side
    val plan = out._1.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"candidate join did not broadcast the kept-clusters side:\n${plan.take(2000)}")
    // (c) no task read the whole hot cluster through one shuffle: the
    // chunk fan-out caps any single shuffle partition far below csize
    assert(maxTask < hot,
      s"a task shuffle-read $maxTask records >= hot csize $hot — skew bomb")
    info(f"skew probe: hot=$hot chunks=$nChunks maxChunkRow=$maxArr " +
      f"maxTaskShuffleRecords=$maxTask sec=$sec%.1f")
  }

  test("semDeDup caps a 30%-hot cell: fail-open + accounting, no quadratic task") {
    import spark.implicits._
    // VERDICT r10 #2's adversary: 30% of 20k embeddings in one tight
    // blob → one k-means cell with 6k members against maxCell=1024.
    // Uncapped, that cell alone is 36M pair evaluations in ONE join
    // block; capped, it must (a) keep every member (fail open),
    // (b) surface in semDeDupSkippedCells, (c) never shuffle the hot
    // cell into the pair join — witnessed by per-task shuffle reads —
    // while the remaining cells still dedup normally.
    val nDocs = 20000
    val dim = 16
    val hotN = (nDocs * 0.3).toInt
    val gen = udf { (id: Long) =>
      val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
      val v =
        if (id < hotN)
          Array.tabulate(dim)(j =>
            (math.cos(j.toDouble) + 0.01 * rng.nextGaussian()).toFloat)
        else Array.fill(dim)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val emb = spark.range(nDocs)
      .select(col("id").as("vec_id"), gen(col("id")).as("embedding"))
      .repartition(16).cache()
    emb.count()
    val ivf = graft.search.IVFIndex.build(
      emb.select(col("vec_id").as("doc_id"), col("embedding").as("vec")),
      k = 16, seed = 42L)
    val cells = ivf.cells.cache()
    val hotCell = cells.groupBy("cell").count()
      .orderBy(col("count").desc).head
    val hotId = hotCell.getInt(0)
    val hotSize = hotCell.getLong(1)
    assert(hotSize >= hotN * 0.9, s"blob did not land in one cell ($hotSize)")

    val maxCell = 1024
    val skipped = Dedup.semDeDupSkippedCells(cells, maxCell).collect()
    assert(skipped.exists(r => r.getLong(1) == hotSize),
      s"hot cell missing from the skip accounting: ${skipped.toSeq}")

    // AQE partition coalescing merges many small shuffle partitions
    // into one task, which makes per-task shuffle reads meaningless as
    // a skew witness — disable it HERE so a task's read maps 1:1 to a
    // key partition (the hot cell, if it leaked, would be one task
    // reading >= 2x its membership)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey, "true")
    spark.conf.set(coalesceKey, "false")
    val t0 = System.nanoTime()
    val ((keptByCell, sec), maxTask) = withMaxTaskShuffleRead {
      try {
        val out0 = Dedup.semDeDup(emb, cells, ivf.codebook, tau = 0.95,
          maxCell = maxCell)
        val k0 = out0.groupBy("cell", "kept").count().collect()
        (k0, (System.nanoTime() - t0) / 1e9)
      } finally spark.conf.set(coalesceKey, prevCoalesce)
    }
    val out = Dedup.semDeDup(emb, cells, ivf.codebook, tau = 0.95,
      maxCell = maxCell).cache()

    // (a) capped cell fails OPEN: every member kept
    val hotKeptFalse = keptByCell.exists(r =>
      r.getInt(0) == hotId && !r.getBoolean(1))
    assert(!hotKeptFalse, "capped cell dropped members — cap not fail-open")
    val hotKept = keptByCell.filter(r => r.getInt(0) == hotId)
      .map(_.getLong(2)).sum
    assert(hotKept == hotSize, s"hot cell kept $hotKept of $hotSize")
    // small cells still dedup: the near-duplicate blob is capped, but
    // random vectors at τ=0.95 rarely collide — plant nothing there;
    // just require the pair join actually RAN on small cells (output
    // covers all rows)
    assert(out.count() == nDocs)
    // (c) hot cell never entered the pair join: no task shuffle-read
    // anywhere near the hot cell's membership, let alone its square
    assert(maxTask < hotSize,
      s"a task shuffle-read $maxTask records >= hot cell $hotSize — " +
        "the capped cell leaked into the pair join")
    assert(sec < 120, s"capped semDeDup took ${sec}s")
    info(f"semDeDup skew probe: hot=$hotSize maxTaskShuffleRecords=$maxTask sec=$sec%.1f")
    out.unpersist(); emb.unpersist(); cells.unpersist()
  }

  test("semDeDupRefined one-level bound: degenerate mass trips the SUB cap, " +
      "fail-open accounting names every survivor") {
    import spark.implicits._
    // VERDICT r13 #6's adversary, with the REAL sub-trainer: 200
    // IDENTICAL embeddings (an exact-dup blob — the densest possible
    // mass) plus 60 spread vectors land in one original cell (260 >
    // maxCell=50 → pass-1 fail-open → refinement pools them). k-means
    // puts the identical 200 in ONE sub-cell no matter how many
    // sub-cells autoCells derives, so the SUB pass trips the same cap —
    // the one-level design bound. The pin: every degenerate doc comes
    // back kept=true/refined=true (fail-open, never silently dropped
    // OR vetted), and semDeDupSkippedCells over the refined rows'
    // (doc, sub-cell) assignment names exactly the un-vetted survivors.
    val dim = 8
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val e1 = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    val e2 = Array.tabulate(dim)(i => if (i == 1) 1f else 0f)
    val rng = new scala.util.Random(7L)
    val blob = unit(Array.tabulate(dim)(i =>
      (if (i == 0) 1f else 0f) + 0.05f * (i % 3)))
    val rows: Seq[(Long, Array[Float])] =
      (0L until 200L).map(id => id -> blob) ++
      (200L until 260L).map { id =>
        id -> unit(Array.tabulate(dim)(i =>
          (if (i == 0) 1f else 0f) + 0.3f * rng.nextFloat()))
      } ++
      (300L until 330L).map { id =>
        id -> unit(Array.tabulate(dim)(i =>
          (if (i == 1) 1f else 0f) + 0.05f * rng.nextFloat()))
      }
    val emb = rows.toDF("vec_id", "embedding")
    val cb = graft.index.Codebook(Array(Array(e1, e2)))
    val cells = graft.index.CodeAssigner.assign(
        emb.selectExpr("vec_id as doc_id", "embedding as vec"), cb)
      .select(col("doc_id"), col("codes").getItem(0).as("cell"))
      .localCheckpoint()
    val out = Dedup.semDeDupRefined(emb, cells, cb, tau = 0.9,
        maxCell = 50, targetCell = 16).localCheckpoint()
    val byId = out.select("vec_id", "cell", "kept", "refined")
      .as[(Long, Int, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(byId.size == 290)
    // the degenerate blob: refined, and fail-open KEPT every member
    (0L until 200L).foreach { id =>
      assert(byId(id)._4, s"doc $id not refined")
      assert(byId(id)._3, s"doc $id dropped — over-cap sub-cell was vetted")
    }
    // the accounting closes the loop: over-cap SUB-cells (from the
    // refined rows' own assignment) name every un-vetted survivor,
    // including the whole blob
    val subCells = out.where(col("refined"))
      .select(col("vec_id").as("doc_id"), col("cell"))
    val overIds = subCells.join(
        Dedup.semDeDupSkippedCells(subCells, maxCell = 50).select("cell"),
        Seq("cell"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert((0L until 200L).forall(overIds.contains),
      s"accounting missed blob members: ${overIds.size} named")
    assert(overIds.forall(id => byId(id)._3),
      "an over-cap sub-cell member was not kept — accounting lies")
    // under-cap original cell still dedups normally (non-vacuous base):
    // 30 near-identical vectors keep exactly one
    val keptCell1 = (300L until 330L).count(id => byId(id)._3)
    assert(keptCell1 == 1, s"base pass kept $keptCell1 of the tight cell")
    out.unpersist()
  }

  test("semDeDupScaled derives k from corpus size (autoCells keeps cells near target)") {
    import spark.implicits._
    // the autoBits discipline for k-means k: 4k embeddings at
    // targetCell=128 → k=32 (vs the fixture's fixed 16) — expected
    // cell size stays ~flat as n grows, so the quadratic cell term is
    // bounded by design and maxCell only fires on genuine skew
    assert(Dedup.autoCells(500, 256) == 16)       // floor
    assert(Dedup.autoCells(1000000, 256) == 3907) // n/target
    val gen = udf { (id: Long) =>
      val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
      val v = Array.fill(8)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val emb = spark.range(4000)
      .select(col("id").as("vec_id"), gen(col("id")).as("embedding"))
    val out = Dedup.semDeDupScaled(emb, tau = 0.95, targetCell = 128)
    assert(out.count() == 4000)
    val nCells = out.select("cell").distinct().count()
    assert(nCells >= 20,
      s"expected ~32 derived cells for 4000/128, got $nCells")
  }

  test("temperatureMix + tokenBudget survive a 190k-row hot group (no full-group sort)") {
    import spark.implicits._
    import graft.pipeline.Sampling
    // UniMax group keys are power-law by construction: one language
    // owns 95% of this 200k corpus. At a 4096-value grid (≪ group
    // size — the regime a 100 TB corpus is ALWAYS in, where n_g ≫ 1e6)
    // the histogram selection must never materialize the hot group in
    // one task: the only structures a task sees are ≤ grid-sized
    // histograms and ~n_g/grid tie sets. Witness: with AQE coalescing
    // off, max per-task shuffle read stays an order of magnitude under
    // the hot group's membership for BOTH selection operators.
    val n = 200000L
    val hotN = 190000L
    val d = spark.range(n).select(col("id").as("doc_id"),
      when(col("id") < hotN, "en").otherwise(
        concat(lit("g"), pmod(col("id"), lit(5)))).as("grp"),
      (pmod(col("id"), lit(37)) + 1).cast("long").as("n_tokens"))
      .repartition(32).cache()
    d.count()
    val gridM = 4096L

    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey, "true")
    spark.conf.set(coalesceKey, "false")
    val t0 = System.nanoTime()
    val ((nMix, tokSums), maxTask) = withMaxTaskShuffleRead {
      try {
        val mix = Sampling.temperatureMixGrid(d, "grp", total = 20000L,
          alpha = 0.3, idCol = "doc_id", seed = 42L, gridM = gridM)
        val mixCounts = mix.groupBy("grp").count()
          .as[(String, Long)].collect().toMap
        val bud = Sampling.tokenBudgetGrid(d, "grp", budget = 100000L,
          nTokCol = "n_tokens", idCol = "doc_id", seed = 42L, gridM = gridM)
        val budSums = bud.groupBy("grp").agg(sum("n_tokens").as("s"))
          .as[(String, Long)].collect().toMap
        (mixCounts, budSums)
      } finally spark.conf.set(coalesceKey, prevCoalesce)
    }
    val sec = (System.nanoTime() - t0) / 1e9

    // selection correctness on the hot group: quota met exactly /
    // budget never exceeded (the boundary trim did its job)
    assert(nMix("en") > 0 && nMix.values.sum <= 20000L,
      s"quota overshoot: $nMix")
    assert(tokSums("en") <= 100000L && tokSums("en") > 99000L,
      s"en budget fill ${tokSums("en")} not within (99k, 100k]")
    // the witness: nothing saw the hot group whole
    assert(maxTask < hotN / 10,
      s"a task shuffle-read $maxTask records — the hot group leaked " +
        s"into a single-task structure (hot=$hotN)")
    assert(sec < 120, s"hot-group selection took ${sec}s")
    info(f"selection skew probe: hot=$hotN maxTaskShuffleRecords=$maxTask sec=$sec%.1f")
    d.unpersist()
  }

  test("composed curation pipeline survives a duplicate-heavy single-source corpus") {
    import spark.implicits._
    import graft.pipeline.{TextAnalysis, NgramLM, Dedup, Sampling}
    // VERDICT r10 #6: the catalog's pipeline_curate_corpus composition
    // (Gopher gate → CCNet tail drop → exact dedup → per-source token
    // budget) under its worst key shape: ONE source owns every doc and
    // 90% of the corpus is 10 boilerplate texts duplicated 4.5k× each.
    // Every stage must stay agg/filter/broadcast-shaped: the dedup
    // min-struct agg absorbs the 4.5k× groups map-side, and the token
    // budget's histogram selection never sorts the single source's
    // survivors in one task.
    val nDocs = 50000L
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    // 60 words/doc (Gopher-passable), unique tail keyed by doc where
    // not boilerplate
    val body = (0 until 58).map(i => words(i % words.size)).mkString(" ")
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      lit("web").as("source"),
      when(pmod(col("id"), lit(10)) < 9,
        concat(lit(body + " copy "), pmod(col("id"), lit(10))))
        .otherwise(concat(lit(body + " unique "), col("id")))
        .as("text"))
      .repartition(32).cache()
    docs.count()
    val t0 = System.nanoTime()
    val lm = NgramLM.train(docs)
    val gate = TextAnalysis.gopherRules(docs)
      .where(col("pass_words") && col("pass_mwl") &&
        col("pass_alpha") && col("pass_symbol"))
      .select(col("doc_id"), col("n_words"))
    val buckets = NgramLM.ccnetBuckets(NgramLM.score(docs, lm),
        sampleK = 300)
      .where(col("bucket") =!= "tail")
      .select(col("doc_id"), col("bucket"))
    val kept = docs.join(gate, Seq("doc_id")).join(buckets, Seq("doc_id"))
      .cache()
    val keptN = kept.count()
    // the gates must keep the DUPLICATE-HEAVY mass (the boilerplate
    // texts are the corpus's own dominant register, so CCNet's
    // head/middle holds them) — that is the adversarial part: dedup
    // then faces ~4.5k-member hot groups
    assert(keptN > 20000, s"gates kept only $keptN — adversary defused")
    val canon = Dedup.exactDedup(kept).drop("text")
    val canonN = canon.count()
    // dedup collapsed every duplicate group to one canonical
    assert(canonN == kept.select("text").distinct().count(),
      s"dedup canonical count $canonN != distinct text count")
    val out = Sampling.tokenBudget(canon, "source", budget = 200000L,
      nTokCol = "n_words")
    val n = out.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val toks = out.agg(coalesce(sum("n_words"), lit(0L))).as[Long].head()
    val canonToks = canon.agg(sum("n_words")).as[Long].head()
    assert(toks <= 200000L, s"token budget exceeded: $toks")
    if (canonToks > 200000L) assert(toks > 200000L - 61,
      s"budget underfilled: $toks of 200000 (canon total $canonToks)")
    else assert(n == canonN, s"budget dropped rows under un-hit budget")
    assert(sec < 180, s"hot-key curation took ${sec}s")
    // plan pin on the composed query: dedup stayed agg-shaped (no
    // per-hash window) and no cumulative window runs over the corpus
    // (the only windows left are ccnet's ≤300-row sample rank and the
    // budget's ~n/1e6-row boundary tie walk)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("min(struct(doc_id"),
      s"curation dedup lost the min-struct agg shape:\n${plan.take(3000)}")
    assert(!plan.contains("windowspecdefinition(md5("),
      s"per-hash window crept into the curation dedup:\n${plan.take(3000)}")
    info(f"curation skew probe: gated=$keptN canon=$canonN kept=$n toks=$toks sec=$sec%.1f")
    kept.unpersist(); docs.unpersist()
  }

  test("FULL curation recipe survives duplicate-heavy + near-dup-heavy + contaminated corpus") {
    import spark.implicits._
    import graft.pipeline.{TextAnalysis, Dedup, Sampling, Contamination}
    // VERDICT r12 #1: pipeline_curate_corpus_full's composition under its
    // worst shapes AT ONCE — the test above pins gate→ccnet→exact-dedup→
    // budget hot keys; this one pins the three NEW stages (fuzzy near-dup,
    // quality survivor, decontamination) composed behind them:
    //  - 10 boilerplate texts duplicated 2000× each (exact-dedup hot
    //    groups — min-struct agg absorbs them map-side),
    //  - ONE 2500-member near-dup family (same body, unique suffix):
    //    its shared band key exceeds lshCandidatePairs' maxBucket, so the
    //    bucket is DROPPED (fail-open) and the family must pass through
    //    un-vetted instead of planting a 2500²/2-pair join task,
    //  - 200 honest near-dup families of 10 (family-prefixed vocab, so
    //    cross-family jaccard ≈ 0): each must collapse to its components
    //    and keep ONE quality-canonical survivor,
    //  - a benchmark excerpted from 3 small families AND the mega family:
    //    decontamination must drop every τ-overlapping survivor,
    //    including the 2500-doc hot hit (map-side-combinable screen).
    val nBoiler = 20000L; val nMega = 2500L; val nFam = 200; val famSz = 10
    val nDocs = nBoiler + nMega + nFam * famSz
    def body(f: Int): String = {
      val rng = new scala.util.Random(f * 0x9E3779B97F4A7C15L)
      (0 until 58).map(_ => s"f${f}w${rng.nextInt(500)}").mkString(" ")
    }
    val gen = udf { (id: Long) =>
      if (id < nBoiler) body((id % 10).toInt)
      else if (id < nBoiler + nMega) body(10) + s" u$id"
      else body(11 + ((id - nBoiler - nMega) % nFam).toInt) + s" u$id"
    }
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        lit("web").as("source"), gen(col("id")).as("text"))
      .repartition(32).cache()
    docs.count()
    val t0 = System.nanoTime()
    val gate = TextAnalysis.gopherRules(docs)
      .where(col("pass_words") && col("pass_mwl") &&
        col("pass_alpha") && col("pass_symbol"))
      .select(col("doc_id"), col("n_words"))
    val kept = docs.join(gate, Seq("doc_id"))
    val canon = Dedup.exactDedup(kept)
    val canonN = canon.count()
    assert(canonN == 10 + nMega + nFam * famSz,
      s"exact dedup canon $canonN != ${10 + nMega + nFam * famSz}")
    // fuzzy near-dup, the catalog query's exact stage chain
    val sigs = Dedup.minhashSignatures(canon, numPerms = 8)
    val cands = Dedup.lshCandidatePairs(sigs, rowsPerBand = 4)
      .localCheckpoint()
    val nCands = cands.count()
    // the cap witness: the mega family alone would be ~3.1M pairs in one
    // join task; the honest families are ≤ C(10,2)·2 bands each
    assert(nCands < 100000L,
      s"candidate pairs $nCands — the mega family's bucket leaked past maxBucket")
    val confirmed = Dedup.jaccardPairsByHash(canon, cands)
      .where(col("jaccard") >= 0.5).select("a", "b").localCheckpoint()
    val comp = Dedup.connectedComponentsAuto(confirmed)
      .select(col("v").as("doc_id"), col("comp").as("component"))
    val withComp = canon.select("doc_id").join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val q = TextAnalysis.qualityScore(canon).select(col("doc_id"),
      floor(col("quality_score") * 1000000 + lit(0.5)).cast("long").as("score"))
    val surv = Dedup.canonicalByScore(withComp, q)
      .where(col("kept")).select("doc_id").localCheckpoint()
    val nSurv = surv.count()
    // every mega-family doc passed through fail-open (un-vetted singletons)
    val megaSurv = surv.where(col("doc_id") >= nBoiler &&
      col("doc_id") < nBoiler + nMega).count()
    assert(megaSurv == nMega,
      s"mega family lost $megaSurv/$nMega — capped bucket was not fail-open")
    // the 200 honest families collapsed to ~1 survivor each (a doc whose
    // BOTH band keys drew a unique-suffix min-hash stays an honest
    // singleton — rare, bounded)
    val famSurv = nSurv - megaSurv - 10
    assert(famSurv >= nFam && famSurv < nFam * 3,
      s"family survivors $famSurv not in [${nFam}, ${nFam * 3}) — components broke")
    // decontamination: excerpts of 3 honest families + the mega body
    val benchIds = Seq(nBoiler + nMega, nBoiler + nMega + 1,
      nBoiler + nMega + 2, nBoiler)
    val bench = docs.where(col("doc_id").isin(benchIds: _*))
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), 21, 120).as("text"))
    val canonSurv = canon.join(surv, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // r16 chain stage: variable-length exact-substring trim WITHIN the
    // survivors. The fail-open mega family is EXACTLY the shape the
    // trim exists for — 2500 un-vetted near-identical docs sharing a
    // 58-token body slipped past the capped fuzzy stage; the trim must
    // keep ONE canonical copy of the body (the globally-first
    // occurrence) and cut the other 2499 down to their unique
    // suffixes, with the doc count FLAT (the funnel's span_trimmed
    // signature) and no per-content window anywhere.
    val trimRes = Dedup.suffixDupTrim(canonSurv, minLen = 5, cap = 24)
    val trimmed = canonSurv.select("doc_id", "source")
      .join(trimRes.select(col("doc_id"),
        col("n_kept").cast("long").as("n_words"), col("text")),
        Seq("doc_id"))
      .localCheckpoint()
    assert(trimmed.count() == nSurv, "trim changed the doc count")
    val fullBodyMega = trimmed.where(col("doc_id") >= nBoiler &&
      col("doc_id") < nBoiler + nMega && col("n_words") > 50).count()
    assert(fullBodyMega == 1L,
      s"trim kept $fullBodyMega full-body mega copies — want exactly the canonical")
    val survMass = canonSurv.agg(sum(size(split(col("text"), "\\s+")))
      .cast("long")).as[Long].head()
    val trimMass = trimmed.agg(coalesce(sum("n_words"), lit(0L)))
      .as[Long].head()
    assert(trimMass < survMass / 3,
      s"trim cut too little: $trimMass of $survMass — the mega body mass survived")
    // decontamination screens the TRIMMED text (the r16 chain order):
    // the mega excerpt now hits only the canonical body-keeper — the
    // other 2499 no longer CONTAIN the benchmark text, which is the
    // point of running the trim first
    val contaminated = Contamination.screen(trimmed, bench,
        n = 5, minShared = 3)
      .select("doc_id").distinct().localCheckpoint()
    val nContam = contaminated.count()
    assert(nContam >= 4 && nContam < 50,
      s"contamination flagged $nContam — want the mega canonical + the 3 honest family body-keepers")
    val clean = trimmed.join(contaminated, Seq("doc_id"), "left_anti")
    // the flagship's r14 form: per-group budgets (single-group frame —
    // identical selection to the scalar for that group, pinned by
    // SamplingSpec's per-group ≡ scalar test — so the hot-key
    // assertions below are unchanged while the composition exercises
    // the production call shape)
    val out = Sampling.tokenBudgetPerGroup(clean.drop("text"), "source",
      spark.createDataFrame(Seq(("web", 5000L))).toDF("source", "budget"),
      nTokCol = "n_words")
    val toks = out.agg(coalesce(sum("n_words"), lit(0L))).as[Long].head()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(toks <= 5000L && toks > 5000L - 61,
      s"token budget fill $toks not within (4939, 5000]")
    assert(sec < 240, s"full curation recipe took ${sec}s")
    // plan pin: the dedup stage stayed agg-shaped through the composition
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(md5("),
      s"per-hash window crept into the full-recipe dedup:\n${plan.take(3000)}")
    info(f"full recipe: canon=$canonN cands=$nCands surv=$nSurv " +
      f"(mega=$megaSurv fam=$famSurv) contam=$nContam toks=$toks sec=$sec%.1f")
    docs.unpersist()
  }

  test("autoBits keeps LSH bucket occupancy flat from 125k to 1M docs") {
    // VERDICT r9 #2's deeper ask: the fixed-bits catalog lsh_neardup is
    // pattern-space-bound by design (2^bits·tables patterns; occupancy
    // grows with n — its 100× exponent ~0.9 reflects that); the
    // growing-corpus path is seededNearDupPairsScaled, whose autoBits
    // sizes 2^bits ≈ n/targetBucket. The flatness claim pinned here: the
    // MAX bucket occupancy stays bounded by the SAME n-independent
    // constant as the corpus grows 8× past the 5M-replica scale's
    // per-table geometry (1M docs, 14 planes — the same plane count
    // autoBits picks for the 100× sweep's 600k-embedding replica dir).
    import graft.search.LSHSearch
    val dim = 16
    val gen = udf { (id: Long) =>
      val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
      Array.fill(dim)(rng.nextGaussian().toFloat)
    }
    def occStats(n: Long): (Int, Long, Double) = {
      val bits = LSHSearch.autoBits(n, targetBucket = 64)
      val planes = LSHSearch.seededPlanes(1, bits, dim, 42L)
      val signUdf = udf { (v: Seq[Float]) =>
        planes(0).map(p =>
          if (p.zip(v.map(_.toDouble)).map { case (a, b) => a * b }.sum >= 0)
            '1' else '0').mkString
      }
      val r = spark.range(n)
        .select(signUdf(gen(col("id"))).as("bkey"))
        .groupBy("bkey").count()
        .agg(max("count").as("mx"),
          sum(col("count") * (col("count") - 1) / 2).as("pairs"))
        .head()
      // candidate PAIRS per doc — the join cost the banding actually
      // pays is Σ occ·(occ−1)/2; per-doc it must stay ~constant as n
      // grows for the candidate machinery to be linear
      (bits, r.getLong(0), r.getDouble(1) / n)
    }
    val (bitsSmall, maxSmall, cpdSmall) = occStats(125000L)
    val (bitsBig, maxBig, cpdBig) = occStats(1000000L)
    assert(bitsSmall == 11 && bitsBig == 14) // ceil(log2(n/64))
    // random hyperplane sign patterns at dim 16 are heavy-tailed
    // (realizable patterns live on a dim-16 manifold), so the MAX bucket
    // is a skewed statistic — what the engine bounds it with is the
    // maxBucket cap (default 4096: over-cap buckets are dropped, keeping
    // the join ≤ n·maxBucket·tables). Pin: the max stays under the cap
    // at the 1M scale — zero candidates are sacrificed to the cap here —
    // and candidate PAIRS PER DOC (the real per-doc join cost) grows by
    // at most ~3× across an 8× corpus growth (fixed bits would grow it
    // 8×; measured: ~2.4× from tail skew, mean occupancy exactly flat)
    assert(maxBig < 4096, s"1M: max occupancy $maxBig reached the cap")
    assert(cpdBig <= 3.0 * cpdSmall,
      f"candidates/doc grew $cpdSmall%.1f -> $cpdBig%.1f across 8x corpus")
    info(f"autoBits occupancy: 125k/b$bitsSmall max=$maxSmall cpd=$cpdSmall%.1f, " +
      f"1M/b$bitsBig max=$maxBig cpd=$cpdBig%.1f")
  }
  test("suffixDupLengths: a 3000-deep equal-suffix run splits across tasks") {
    import spark.implicits._
    // adversary for the suffix-LCP sort: 3000 IDENTICAL 24-token docs
    // make every suffix position a 3000-row run of EQUAL sort keys.
    // The range partitioner keys on (sfx, doc_id, pos), so the runs
    // must SPLIT across partitions (no hot-key single task), and the
    // boundary stitch then has to compute full-cap LCPs across the
    // split points — both the skew posture and the stitch correctness
    // in one fixture.
    val hot = 3000; val L = 24; val cap = 16; val minLen = 8
    val hotText = (0 until L).map(i => s"tok$i").mkString(" ")
    val docs = ((0 until hot).map(i => (i.toLong, hotText)) ++
      (0 until 500).map(i =>
        ((hot + i).toLong, (0 until 12).map(j => s"u${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")

    // the fixture's suffix shuffle COMPRESSES to a few KB (3000
    // identical docs — lz4 eats the repetition), so AQE's partition
    // coalescing correctly folds it into ONE post-shuffle partition at
    // any sane advisory size (right-sizing, not skew; the first run of
    // this test caught exactly that). A 100 TB run's partitions dwarf
    // the advisory and never coalesce — so pin THAT regime by disabling
    // coalescing here, which exposes what this test is really about:
    // the range partitioner keys on (sfx, doc_id, pos) and must SPLIT
    // the 3000-deep equal-sfx runs across tasks, and the boundary
    // stitch must then compute full-cap LCPs across the split points.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    var out: org.apache.spark.sql.DataFrame = null
    val ((total, sec), maxTask) = withMaxTaskShuffleRead {
      try {
        val t0 = System.nanoTime()
        out = Dedup.suffixDupLengths(docs, minLen = minLen, cap = cap)
          .localCheckpoint()
        (out.count(), (System.nanoTime() - t0) / 1e9)
      } finally prevCoalesce match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
    }

    // exact expected output: every copy flags positions p <= L - minLen
    // with dup_len = min(cap, L - p); the unique docs flag nothing
    assert(total == hot.toLong * (L - minLen + 1))
    assert(out.where(col("doc_id") >= hot).count() == 0)
    val one = out.where(col("doc_id") === 7).orderBy("pos")
      .as[(Long, Int, Int)].collect().toSeq
    assert(one == (0 to L - minLen).map(p => (7L, p, math.min(cap, L - p))))

    // skew witness: the suffix table is hot×L + 500×12 rows; a plan that
    // serialized the equal runs through one task (a global-order window,
    // or a range partitioner keyed on sfx alone) would shuffle-read the
    // whole table there. The 8-partition sort must keep every task well
    // under half of it.
    val suffixRows = hot.toLong * L + 500L * 12
    assert(maxTask < suffixRows / 2,
      s"a task shuffle-read $maxTask of $suffixRows suffix rows — equal-run skew")
    assert(sec < 120, s"hot-suffix probe took $sec s")
    info(f"hot-suffix probe: rows=$total maxTaskShuffleRecords=$maxTask sec=$sec%.1f")
  }

  test("suffixDupTrim: a 3000-copy hot content reduces through the min-struct agg") {
    import spark.implicits._
    // adversary for the trim's first/later split: 3000 identical docs
    // put 3000 flagged occurrences into EVERY content group. The
    // canonical pick must be one map-side-combinable min-struct agg —
    // a per-content window sort would serialize each 3000-row group —
    // and the outcome must be exactly one intact survivor (the global
    // min doc) with every other copy fully cut.
    val hot = 3000; val L = 24; val cap = 16; val minLen = 8
    val hotText = (0 until L).map(i => s"tok$i").mkString(" ")
    val docs = ((0 until hot).map(i => (i.toLong, hotText)) ++
      (0 until 500).map(i =>
        ((hot + i).toLong, (0 until 12).map(j => s"u${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    // NOT checkpointed here: the plan assertion below must see the
    // agg/join/window pipeline, not a checkpoint scan (the internal
    // flagged checkpoint keeps the repeat actions cheap anyway)
    val t0 = System.nanoTime()
    val out = Dedup.suffixDupTrim(docs, minLen = minLen, cap = cap)
    val sec = ((System.nanoTime() - t0) / 1e9) + {
      val t1 = System.nanoTime(); out.count(); (System.nanoTime() - t1) / 1e9
    }
    // doc 0 owns every content's first occurrence -> untouched; docs
    // 1..2999: positions 0..L-minLen are cut-flagged and their spans
    // reach L, so everything goes; unique docs untouched
    assert(out.where(col("doc_id") === 0)
      .select("n_kept").as[Int].head() == L)
    assert(out.where(col("doc_id").between(1, hot - 1) && col("n_kept") === 0)
      .count() == (hot - 1).toLong)
    assert(out.where(col("doc_id") >= hot && col("n_kept") =!= 12).count() == 0)
    // plan shape: the only windows are mergeVarSpans' per-doc interval
    // pass — nothing partitions (or sorts) by content
    val windows = out.queryExecution.executedPlan.toString
    assert(!windows.contains("windowspecdefinition(content"),
      s"a per-content window crept into the trim:\n${windows.take(3000)}")
    assert(sec < 120, s"hot-content trim took $sec s")
    info(f"hot-content trim: sec=$sec%.1f")
  }
}
