package graft

import graft.io.Tables
import graft.search.BruteForceKNN
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan shape assertions: scale behavior is part of correctness.
  * These pin the properties the 100 TB posture depends on — filters reach
  * the parquet scan, small dims broadcast, aggregates partial-aggregate
  * map-side, and the KNN scorer stays inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6 filter is pushed down to the parquet scan") {
    val df = SparkEntry.queries("q6_filter_sum")(spark, sf("0.01"))
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") &&
      (scan.contains("GreaterThanOrEqual(l_discount") ||
        scan.contains("LessThan(l_quantity")),
      s"no pushed filters in scan: $scan")
  }

  test("scan prunes columns: q6 reads only the 3 needed lineitem columns") {
    val df = SparkEntry.queries("q6_filter_sum")(spark, sf("0.01"))
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("l_shipdate"), "unused column not pruned from scan")
    assert(!scan.contains("l_returnflag"), "unused column not pruned from scan")
  }

  test("q5 star join broadcasts the small dimension tables") {
    val df = SparkEntry.queries("q5_region_revenue")(spark, sf("0.01"))
    val p = planString(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("grouped top-k aggregates partially (map-side) before the shuffle") {
    val queries = Tables.load(spark, sf("0.01"), "embeddings")
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val docs = Tables.load(spark, sf("0.01"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    val df = BruteForceKNN.topK(queries, docs, k = 10)
    val p = planString(df)
    // ObjectHashAggregate with Partial + Final around one shuffle
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_bounded_topk|Partial".r.findFirstIn(p.toLowerCase.replace("\n", " ")).isDefined ||
      p.contains("partial"), s"no partial aggregation phase:\n$p")
  }

  test("KNN scoring runs inside whole-stage codegen") {
    val queries = Tables.load(spark, sf("0.01"), "embeddings")
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val docs = Tables.load(spark, sf("0.01"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    val scored = docs.crossJoin(broadcast(queries))
      .select(graft.functions.VectorFunctions.float_dot(col("qvec"), col("vec")).as("s"))
    scored.collect() // finalize this DataFrame's own AQE stages
    val p = planString(scored)
    // `*(n)` prefixes mark WholeStageCodegen spans; the scoring Project
    // must carry one
    assert(p.contains("*(") && p.contains("Project [float_vector_dot"),
      s"scorer fell out of codegen:\n$p")
    assert("\\*\\(\\d+\\) Project \\[float_vector_dot".r.findFirstIn(p).isDefined,
      s"scoring Project not inside a codegen span:\n$p")
  }

  test("q1 aggregation is partial before the exchange") {
    val df = SparkEntry.queries("q1_agg")(spark, sf("0.01"))
    val p = planString(df)
    assert(p.contains("HashAggregate"), p)
    assert(p.toLowerCase.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("budgeted retrieval plan: no cartesian product, queries broadcast") {
    import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
    import graft.search.CoarseFineRetriever
    val docs = Tables.load(spark, sf("0.001"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    val queries = Tables.load(spark, sf("0.001"), "embeddings")
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val idx = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb))
    val out = CoarseFineRetriever.retrieveBudgeted(queries, idx, docs, cb,
      beams = 4, k = 5, budget = 100)
    out.collect() // finalize AQE
    val p = planString(out)
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "queries side not broadcast")
  }

  test("default notClusterNegatives plan has no cartesian product") {
    import graft.index.{RQTrainer, CodeAssigner}
    import graft.pipeline.NegativeSampling
    val emb = Tables.load(spark, sf("0.001"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    val cb = RQTrainer.fit(emb, "vec", numLevels = 2, k = 8, seed = 42L)
    val assignments = CodeAssigner.assign(emb, cb)
    val pairs = emb.where(col("doc_id") < 3)
      .select(concat(lit("q"), col("doc_id")).as("query"), col("doc_id"))
    val negs = NegativeSampling.notClusterNegatives(pairs, assignments,
      emb.select("doc_id"), n = 5) // default pre-sampling
    negs.collect() // finalize AQE
    val p = planString(negs)
    assert(!p.contains("CartesianProduct"),
      s"default notclus plan contains a cartesian product:\n$p")
  }

  test("bucketed tables join without any exchange (co-located J4 layout)") {
    import graft.io.Bucketing
    val emb = Tables.load(spark, sf("0.001"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    val asg = emb.select(col("doc_id"), col("doc_id").%(8).as("cell"))
    Bucketing.writeBucketed(emb, "b_emb", "target/tmp/bucketed/emb",
      "doc_id", buckets = 8)
    Bucketing.writeBucketed(asg, "b_asg", "target/tmp/bucketed/asg",
      "doc_id", buckets = 8)
    // force the sort-merge path: at fixture size broadcast wins and the
    // planner disables bucketing — at 100 TB neither side broadcasts and
    // the bucketed SMJ is exactly what runs
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readBucketed(spark, "b_emb")
        .join(Bucketing.readBucketed(spark, "b_asg"), Seq("doc_id"))
      assert(joined.count() == emb.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed adjacency store: walk-round join shuffles only the frontier") {
    import graft.io.Bucketing
    // the KnnGraph.walk inner loop is `frontier ⋈ edges on doc_id=src`
    // once per round. At serving scale the edge table is corpus×k rows;
    // persisting it bucketed by src means every round's SMJ reads the
    // graph in place and only the frontier (queries×beam rows) moves.
    // (For small query batches AQE broadcasts the frontier instead —
    // also shuffle-free on the graph side; insert()'s corpus-sized
    // arrival batches are the case that needs the bucketed SMJ.)
    val edges = spark.range(4000).select(
      (col("id") % 500).as("src"), ((col("id") * 7 + 3) % 500).as("dst"))
    Bucketing.writeBucketed(edges, "b_graph", "target/tmp/bucketed/graph",
      "src", buckets = 8)
    val frontier = spark.range(200).select(
      (col("id") % 40).as("query_id"), (col("id") % 500).as("doc_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val nbrs = frontier.join(
        Bucketing.readBucketed(spark, "b_graph")
          .select(col("src").as("doc_id"), col("dst")), Seq("doc_id"))
      assert(nbrs.count() > 0)
      val plan = nbrs.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // exactly ONE exchange: the frontier (which has no useful incoming
      // partitioning) must shuffle to the bucket layout; a second would
      // mean the graph side shuffled too and bucketing bought nothing
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly one Exchange (frontier side), got $exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("c0-partitioned cluster index prunes partitions on probe") {
    import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
    val docs = Tables.load(spark, sf("0.001"), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    val cb = RQTrainer.fit(docs, "vec", numLevels = 2, k = 8, seed = 42L)
    val idx = ClusterIndexBuilder.build(CodeAssigner.assign(docs, cb))
    val path = "target/tmp/cluster_index_part"
    ClusterIndexBuilder.save(idx, path)
    val probe = ClusterIndexBuilder.load(spark, path).where(col("c0") === 3)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("PartitionFilters") && scan.contains("c0"),
      s"no partition filter in probe scan:\n$scan")
    // pruned scan must not read all 8 partition dirs
    val filesRead = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(filesRead.exists(_ <= 1), s"read $filesRead partitions, expected 1")
  }

  test("bernoulli/stratified sampling plans have no exchange (zero shuffle)") {
    import graft.pipeline.Sampling
    val docs = Tables.load(spark, sf("0.01"), "documents")
    for (df <- Seq(Sampling.bernoulli(docs, 0.3),
        Sampling.stratified(docs, "lang", Map("en" -> 0.5)))) {
      val p = planString(df)
      assert(!p.contains("Exchange"), s"sampling shuffled:\n$p")
    }
  }

  test("BM25 scoring broadcasts query terms; postings aggregate partially") {
    import spark.implicits._
    val docs = Tables.load(spark, sf("0.01"), "documents")
    val qs = Seq((0L, "spark fast query join")).toDF("query_id", "qtext")
    val df = graft.search.BM25.score(docs, qs)
    df.collect() // finalize AQE
    val p = planString(df)
    assert(p.contains("BroadcastHashJoin"), s"query terms not broadcast:\n$p")
    assert(p.toLowerCase.contains("partial_"), s"postings not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("SQL registration: float_dot usable from SQL") {
    GraftExtensions.register(spark)
    Tables.load(spark, sf("0.001"), "embeddings").limit(3)
      .createOrReplaceTempView("emb_sql_test")
    val r = spark.sql(
      "SELECT float_dot(embedding, embedding) AS d FROM emb_sql_test").collect()
    assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-3))
  }

  test("SQL registration: md5_prefix and nfd_normalize usable from SQL") {
    GraftExtensions.register(spark)
    // md5_prefix must agree with its own spelled-out SQL contract
    // (conv(substring(md5(s),1,n),16,10)) — the portability every
    // DuckDB oracle relies on
    val h = spark.sql(
      """SELECT md5_prefix('abc', 15) AS native,
        |  CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT) AS spelled
        |""".stripMargin).collect().head
    assert(h.getLong(0) == h.getLong(1), s"md5_prefix mismatch: $h")
    val n = spark.sql("SELECT nfd_normalize('caf\u00e9') AS s").collect().head
    assert(n.getString(0) == "cafe\u0301", "NFD should decompose the accent")
    // nibble width is part of the function identity: a foldable width
    // (length('ab') folds to 2) is fine, a per-row width is refused
    val folded = spark.sql(
      "SELECT md5_prefix('a', length('ab')) AS x").collect().head
    assert(folded.getLong(0) >= 0L)
    val err = intercept[Exception] {
      spark.sql(
        "SELECT md5_prefix('a', CAST(rand() * 4 + 1 AS INT)) AS x").collect()
    }
    assert(err.getMessage.contains("literal"), s"got: ${err.getMessage}")
  }

  test("GraftExtensions injects functions via withExtensions builder") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // newSession shares the context but gets its own state; the
      // extensions-applied session must resolve the injected function
      Tables.load(s2, sf("0.001"), "embeddings").limit(2)
        .createOrReplaceTempView("emb_ext_test")
      val r = s2.sql(
        "SELECT float_neg_l2sq(embedding, embedding) AS d FROM emb_ext_test")
        .collect()
      assert(r.forall(row => row.getDouble(0) == 0.0))
    } finally {
      // do not stop s2 — it shares the SparkContext with the suite session
    }
  }

  test("hdr quantile plan: windows run on the post-agg histogram, never the rows") {
    val p = planString(SparkEntry.queries("sketch_quantiles")(spark, sf("0.001")))
    // the item scan partial-aggregates map-side before any window
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    // the only sorts feeding Windows partition by flag over bucket — and
    // no item-level ranking exists anywhere in the plan
    assert(!p.contains("row_number"), s"item-level ranking crept in:\n$p")
  }

  test("triangle census plans joins + aggregates only — no windows, no iteration") {
    val p = planString(SparkEntry.queries("graph_triangles")(spark, sf("0.001")))
    assert(!p.contains("Window"), s"window crept into the wedge pipeline:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine on counts:\n$p")
    // the DOULION coin is a per-row filter, evaluated before the joins
    assert(p.contains("md5"), s"edge-sampling coin missing from plan:\n$p")
  }

  test("grouped rank-limit windows get the WindowGroupLimit rescue") {
    // VERDICT r10 #4: capPerGroup / grouped hashReservoir survive
    // mega-groups ONLY because Spark 4.1's InferWindowGroupLimit fires
    // on their literal rank limits (map-side per-group pruning before
    // the window sort). Nothing pinned that — so a second window
    // column over the same spec, or a non-literal limit, would
    // silently revert them to single-task full-group sorts. These
    // assertions make that refactor loud.
    import graft.pipeline.Sampling
    val d = spark.range(2000).select(col("id").as("doc_id"),
      (col("id") % 7).cast("string").as("g"))
    val cap = planString(Sampling.capPerGroup(d, "g", cap = 5))
    assert(cap.contains("WindowGroupLimit"),
      s"capPerGroup lost the WindowGroupLimit rescue:\n$cap")
    val res = planString(Sampling.hashReservoir(d, 5, Seq("g")))
    assert(res.contains("WindowGroupLimit"),
      s"grouped hashReservoir lost the WindowGroupLimit rescue:\n$res")
  }

  test("exact dedup is aggregate-shaped end to end — no per-hash window anywhere") {
    // The min-struct agg needs no optimizer rescue at all; pin that
    // neither the library op nor the curate pipeline's dedup stage
    // reintroduces a row_number window (the shape VERDICT r10 #4
    // flagged as one refactor away from a single-task group sort).
    val d = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("t"), (col("id") % 50).cast("string")).as("text"),
      (col("id") % 3).cast("string").as("source"))
    val p1 = planString(graft.pipeline.Dedup.exactDedup(d))
    assert(!p1.contains("row_number") && !p1.contains("WindowExec"),
      s"window crept into exactDedup:\n$p1")
    assert(p1.toLowerCase.contains("partial_min"),
      s"min-struct agg lost its map-side partial:\n$p1")
    // the witness's SUBMITTED plan is checkpoint-truncated since r16
    // (the trim made its staged write measured-load-bearing), so the
    // shape pins read the pre-stage frame — the same composition the
    // budget consumes
    val p2 = planString(SparkEntry.curateWitnessTrimmed(spark, sf("0.001")))
    // the dedup stage runs through the shared min-struct agg (not a
    // per-hash window); ccnetBuckets' bounded 300-doc sample rank is
    // the only ranking allowed to remain
    assert(p2.contains("min(struct(doc_id"),
      s"curate pipeline lost the shared min-struct dedup shape:\n$p2")
    assert(!p2.contains("windowspecdefinition(md5("),
      s"per-hash window crept back into the curate dedup stage:\n$p2")
  }

  test("unimax allocation windows run on the group-count table, never the corpus") {
    // the water-level sort/prefix-sum spans #groups rows (the counts
    // agg output), and the corpus only ever flows through map-side
    // partial aggregation + broadcast joins + the shared grid-bounded
    // selection — pin that the counts aggregate is partial BEFORE any
    // window sees data, mirroring the hdr-quantile pin
    val d = spark.range(5000).select(col("id").as("doc_id"),
      (col("id") % 7).cast("string").as("g"))
    val p = planString(
      graft.pipeline.Sampling.unimaxEpochs(d, "g", budget = 600L,
        epochCap = 2))
    assert(p.contains("partial_count"), s"counts agg not map-side:\n$p")
    // broadcast allocation joins — the corpus side never shuffles for
    // the quota attach
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
  }

  test("no query in the catalog plans an unbroadcast cartesian product") {
    // full-catalog sweep: every SparkEntry query's pre-AQE physical plan
    // at sf0.001 — the deliberate small-side crossJoins (BruteForceKNN's
    // query batch, BM25's single-row stats, the containment theta join)
    // must all land as BroadcastNestedLoopJoin, never CartesianProduct
    CatalogSweep(spark, sf("0.001")).foreach { q =>
      assert(!q.plan.toString.contains("CartesianProduct"),
        s"query ${q.name} plans a cartesian product:\n${q.plan}")
    }
  }

  test("no catalog query plans a partition-less window beyond the documented bounded set") {
    // every "No Partition Defined for Window operation" in a Verify log
    // must trace to one of the bounded, few-row frames below; queries
    // whose final submitted plan reaches one are whitelisted BY NAME. Any
    // other partition-less WindowExec is a single-task global sort waiting
    // to happen at scale. (Composed pipelines whose ccnetBuckets sample
    // window runs in an INTERNAL staged-write action — the funnel,
    // pipeline_curate_corpus(_full) — are checkpoint-truncated and do not
    // appear; the witness's shapes are pinned on curateWitnessTrimmed
    // above.)
    val boundedWindowQueries = Set(
      "sample_unimax_epochs",     // UniMax cap table (≤ maxGroups, fail-fast)
      "text_ccnet_buckets",       // NgramLM 300-row md5-rank cutoff sample
      "sketch_topk_merge")        // MG count-of-counts histogram (distinct
                                  // count VALUES per group, Zipf-bounded)
    CatalogSweep(spark, sf("0.001")).foreach { q =>
      val noPart = q.plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
      }
      if (boundedWindowQueries(q.name))
        assert(noPart.nonEmpty,
          s"whitelist entry ${q.name} no longer plans a partition-less window — prune it")
      else
        assert(noPart.isEmpty,
          s"query ${q.name} plans ${noPart.size} partition-less window(s) — " +
            s"a single-task global sort at scale:\n${noPart.headOption.getOrElse("")}")
    }
  }
}
