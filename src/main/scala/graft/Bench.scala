package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Driver-run benchmark: times every `SparkEntry.queries` entry (noop sink
  * = true materialization), then reports the engine metrics BASELINE.md
  * asks for — index-build time, brute-force-KNN and coarse→fine throughput,
  * Recall/MRR vs the label ground truth, and ndoc@cluster-R.
  * Output on stdout: the full JSON record, then a compact one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine, not a fixed 4 — an unset env var must not
    // benchmark the engine at 1/8th of the available cores
    val cpus = LocalSession.envCpus()
    val spark = LocalSession(cpus)
    // machine-load fingerprint: BENCH_r06's 163 s record was a loaded-box
    // artifact (18× single-query outliers) that read as a 3× regression —
    // the record must carry enough context to self-identify as noise.
    // Read before Bench's own warm-up: the 1-minute average would
    // otherwise count that all-core work as foreign load.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val nCpus = Runtime.getRuntime.availableProcessors

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // best-of-2 like the query loop — single shots jitter round-over-round
    def bestOf2(f: => Unit): Double = {
      val (_, s1) = timed(f); val (_, s2) = timed(f); math.min(s1, s2)
    }
    // one run of a catalog query into the noop sink, which materializes
    // every output column (count() would let Catalyst prune the
    // projection and understate the real work): its seconds, or None
    // (named on stderr) when it threw
    val catalog = SparkEntry.queries
    def runQuery(name: String, what: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        catalog(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name $what failed: ${e.getMessage}")
        None
      }
    }

    // session warmup: pay JIT/codegen/scheduler spin-up before timing
    // (cold-start otherwise lands on whichever query runs first)
    spark.range(1000).select(avg(col("id"))).write
      .format("noop").mode("overwrite").save()
    // RQ artifact warmup: the one-time KMeans fit + index build otherwise
    // lands on the first RQ query and poisons round-over-round diffs; the
    // build cost is reported separately as index_build_sec below
    val (_, warmSec) = timed(SparkEntry.warmArtifacts(spark, sfDir))
    System.err.println(f"[bench] artifact warmup ${warmSec}%.1f s")
    // the curation stage chain is session-memoized (r15): pay its
    // one-time build here and REPORT it (curate_chain_build_sec below)
    // — otherwise best-of-N would take the post-memo iteration and the
    // build cost would silently vanish from the record
    val (_, curateChainSec) = timed(SparkEntry.warmCurateChain(spark, sfDir))
    System.err.println(f"[bench] curate chain build ${curateChainSec}%.1f s")

    // best-of-N per query (default 2): single-shot timings at this scale
    // carry multi-second GC/scheduler noise, which round-over-round diffs
    // would misread as regressions; min-of-iters is the stable statistic
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=<anchored regex> times just
    // the matching catalog queries and skips the engine/clustered blocks.
    // A filtered record is for local iteration only — never commit one.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    if (only.isDefined)
      System.err.println(s"[bench] PARTIAL run (filter ${only.get}) — not a committable record")
    // (best, worst) per query — the spread across iterations is the
    // per-query noise witness the suspect flag below reads. A query
    // fails (-1) only when NO iteration succeeded: a later flake must
    // not discard a valid earlier measurement
    val results = catalog
      .filter { case (name, _) => only.forall(name.matches) }
      .map { case (name, _) =>
        val secs = (0 until iters).flatMap(i => runQuery(name, s"iter $i"))
        name -> (if (secs.isEmpty) (-1.0, -1.0) else (secs.min, secs.max))
      }
    val failed = results.collect { case (name, (best, _)) if best < 0 => name }
    // a >3× iteration spread that costs real time means something other
    // than this query had the machine. Don't just name it — SELF-HEAL:
    // run one extra iteration and judge the spread on the best two of
    // three samples (one polluted run among three is the load signature;
    // two agreeing runs are the query). The record flags a query only
    // when even the healed spread stays >3× — i.e. the timing genuinely
    // bimodal, not a one-off neighbor.
    val healed = results.map { case (name, (best, worst)) =>
      if (!isSuspect(best, worst)) name -> (best, worst)
      else {
        System.err.println(s"[bench] re-timing load-suspect $name (spread ${d(worst / best, 1)}x)")
        runQuery(name, "heal iter") match {
          case None => name -> (best, worst)
          case Some(sec) =>
            val two = Seq(best, worst, sec).sorted.take(2)
            name -> (two(0), two(1))
        }
      }
    }
    val suspects = healed.collect {
      case (name, (best, worst)) if isSuspect(best, worst) => name
    }.toSeq
    if (suspects.nonEmpty)
      System.err.println(s"[bench] WARNING load-suspect queries (spread >3x after re-time): ${suspects.mkString(", ")}")

    // the committed record is the baseline of both drift checks (per
    // query below, serve latency in the engine block): BENCH_FULL.json in
    // the work tree is the PREVIOUS committed record when this runs (the
    // bench overwrites it afterwards). It is a baseline only when it was
    // measured like this run — a run at another local[N] (the driver's
    // scaling pass) or another sf is legitimately slower or faster, and
    // every drift gate would fire on phantom "regressions".
    val committed: Option[Record] = {
      val path = Paths.get(sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json")
      if (!Files.exists(path)) None
      else try {
        val rec = Record.parse(Files.readString(path))
        if (rec.comparable(cpus, sfDir)) Some(rec)
        else {
          System.err.println(s"[bench] drift checks skipped: committed record is " +
            s"local[${rec.cpus.getOrElse("?")}] at ${rec.sf.getOrElse("?")}, " +
            s"this run local[$cpus] at $sfDir")
          None
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] drift checks skipped: committed record unreadable: ${e.getMessage}")
        None
      }
    }
    // per-query drift vs the committed record (VERDICT r10 #5): the
    // within-run spread check above is blind to SYSTEMATIC load — r10's
    // driver record ran both iterations under sustained contention and
    // carried 3-10x outliers with an EMPTY suspect list. A query in the
    // gate tier gets ONE re-time; a survivor is listed, so a tainted
    // record names its own casualties and a genuine regression surfaces
    // as a named diff to adjudicate instead of silent drift.
    val prevTimes = committed.fold(Map.empty[String, Double])(_.queries)
    def tierOf(name: String, best: Double): Option[String] =
      prevTimes.get(name).flatMap(driftTier(best, _))
    val driftHealed = healed.map { case (name, (best, worst)) =>
      if (!tierOf(name, best).contains(DriftGate)) name -> (best, worst)
      else {
        System.err.println(f"[bench] re-timing drift suspect $name " +
          f"($best%.3f s vs committed ${prevTimes(name)}%.3f s)")
        name -> (runQuery(name, "drift re-time").fold(best)(math.min(best, _)), worst)
      }
    }
    // (current, committed) per query, grouped by drift tier
    val tiers = driftHealed.toSeq.flatMap { case (name, (best, _)) =>
      tierOf(name, best).map(_ -> (name, (best, prevTimes(name))))
    }.groupMap(_._1)(_._2)
    def listed(tier: String): String = tiers(tier)
      .map { case (n, (c, p)) => f"$n $c%.3f/$p%.3f" }.mkString(", ")
    if (tiers.contains(DriftGate))
      System.err.println("[bench] WARNING drift vs committed record " +
        "(>2x after re-time): " + listed(DriftGate))
    if (tiers.contains(DriftNote))
      System.err.println("[bench] note: sub-gate drift (>1.5x, >0.3s) — " +
        "check loadavg before reading as regression: " + listed(DriftNote))
    if (tiers.contains(Inflated))
      System.err.println("[bench] note: committed baseline looks INFLATED " +
        "(>2x slower than this run): " + listed(Inflated) +
        " — re-cut BENCH_FULL.json on a quiet box")

    // ---- engine metrics (BASELINE.md protocol) ----
    // drop every cached plan the catalog loop left behind (ArtifactCache
    // values, memoized HKM levels, bucketed stores): the engine block's
    // qps lines must measure a clean state, not compete for executor
    // memory with whatever the newest catalog queries happened to pin —
    // r6's knn_qps drop tracked exactly that growing residue
    spark.catalog.clearCache()
    val engine = if (only.isDefined) "{}" else try {
      import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
      import graft.search.{BruteForceKNN, CoarseFineRetriever}
      // the SAME doc/query projections the catalog queries use (shared
      // helpers — the vec_id < 20 query-slice contract lives in one place)
      val docs = SparkEntry.docVecs(spark, sfDir).cache()
      val nVec = docs.count()
      val queries = SparkEntry.queryVecs(spark, sfDir)

      val (artifacts, buildSec) = timed {
        // library-default maxIter (20): the engine-metric codebook must
        // stay identical round-over-round so recall/ndoc lines are
        // comparable (a shorter fit changes the trained clustering)
        val cb = RQTrainer.fit(docs.select("doc_id", "vec"), "vec",
          numLevels = 2, k = 8, seed = 42L)
        val assignments = CodeAssigner.assign(docs, cb).cache()
        val index = ClusterIndexBuilder.build(assignments).cache()
        index.count()
        (cb, index)
      }
      val (cb, index) = artifacts

      val k = math.min(1000, nVec.toInt)
      // excludeSelf: labelGroundTruth excludes the query's own doc, so
      // the preds must too — a self-hit at rank 1 would deflate every
      // rr/recall line (the catalog's knn_ip/knn_cos do the same)
      val knnRanked = BruteForceKNN.topK(queries.select("query_id", "qvec"),
        docs.select("doc_id", "vec"), k = k, excludeSelf = true).cache()
      // candidate pool per query (BASELINE.md ndoc@cluster-R): measured on
      // an UNCAPPED retrieval — the rank-k output would silently clamp the
      // metric at k once beams cover more than k docs/query; the same
      // uncapped ranking feeds the quality lines (slicing happens per k)
      val cfFull = CoarseFineRetriever.retrieve(
        queries.select("query_id", "qvec"), index,
        docs.select("doc_id", "vec"), cb, beams = 4, k = nVec.toInt)
        .where(col("doc_id") =!= col("query_id")) // self-hit, as above
        .cache()
      // quality vs label ground truth — exact KNN is the upper bound the
      // labels admit (label clusters ≠ embedding geometry), coarse→fine is
      // judged against it
      val gt = graft.eval.Metrics.labelGroundTruth(docs, queries).cache()
      def qual(ranked: org.apache.spark.sql.DataFrame) =
        graft.eval.Metrics.ranking(
          graft.eval.Metrics.rankedToPreds(ranked), gt,
          ks = Seq(1, 10, 100, 1000))
          .collect().map(r => r.getAs[Int]("k") ->
            (r.getAs[Double]("recall"), r.getAs[Double]("mrr"))).toMap
      val m = qual(cfFull)
      val mKnn = qual(knnRanked)
      val ndoc = graft.eval.Metrics.ndoc(
        cfFull.select("query_id", "doc_id"),
        queries = Some(queries.select("query_id")))
        .head.getAs[Double]("ndoc_per_query")

      // ---- regression-grade serving block (VERDICT r8 #4) ----
      // The 20-query fixture slice is planning-latency-bound (~0.4 s
      // absolute) — same-code reruns spread ±45% and cannot catch a
      // real 30% serving regression.
      // This block serves a 2000-query batch (distinct query_ids, doc
      // vectors deterministically perturbed + renormalized so top-k
      // per-query cardinalities are realistic), so the ~0.4 s planning
      // cost amortizes to ~0.2 ms/query and the number measures the
      // data path. Per-query latency inside one batch job is not
      // observable (the batch IS one job), so the median/max are taken
      // across 5 whole-batch runs — the spread IS the stability
      // witness the round-over-round diff reads.
      val nServe = 2000
      val serveQ = serveBatch(docs, nVec, nServe)
      def serveRuns(f: => Unit): (Double, Double) = {
        val runs = (1 to 5).map(_ => timed(f)._2).sorted
        (runs(runs.size / 2), runs.last)
      }
      val (knnMed, knnMax) = serveRuns {
        BruteForceKNN.topK(serveQ, docs.select("doc_id", "vec"), k = 10,
          excludeSelf = true)
          .write.format("noop").mode("overwrite").save()
      }
      val (cfMed, cfMax) = serveRuns {
        CoarseFineRetriever.retrieve(serveQ, index,
          docs.select("doc_id", "vec"), cb, beams = 4, k = 10)
          .write.format("noop").mode("overwrite").save()
      }
      val (cfbMed, cfbMax) = serveRuns {
        CoarseFineRetriever.retrieveBudgeted(serveQ, index,
          docs.select("doc_id", "vec"), cb, beams = 4, k = 10, budget = 100)
          .write.format("noop").mode("overwrite").save()
      }
      // V7's serving shape (VERDICT r9 #5): the distributed trie-masked
      // beam over per-level codebook frames — the path that survives the
      // reference's K=32/depth-4 codebook geometry — gets the same
      // 2000-query regression number as KNN/coarse-fine. It serves from
      // the hkm_* catalog queries' cached trie (k=4, depth=2, seed 42,
      // fitted on this same docVecs frame), which warmArtifacts built.
      val hkmLevels = SparkEntry.hkmLevels(spark, sfDir)
      val (hkmMed, hkmMax) = serveRuns {
        graft.index.HierarchicalKMeans.beamSearchByLevels(
          serveQ, hkmLevels, depth = 2, beams = 4)
          .write.format("noop").mode("overwrite").save()
      }
      serveQ.unpersist()
      def msq(sec: Double): String = d(sec * 1000.0 / nServe, 3)
      val serveJson =
        s""""serve_batch_n":$nServe,""" +
          s""""serve_knn_ms_per_query_med":${msq(knnMed)},""" +
          s""""serve_knn_ms_per_query_max":${msq(knnMax)},""" +
          s""""serve_coarse_fine_ms_per_query_med":${msq(cfMed)},""" +
          s""""serve_coarse_fine_ms_per_query_max":${msq(cfMax)},""" +
          s""""serve_budgeted_ms_per_query_med":${msq(cfbMed)},""" +
          s""""serve_budgeted_ms_per_query_max":${msq(cfbMax)},""" +
          s""""serve_hkm_beam_ms_per_query_med":${msq(hkmMed)},""" +
          s""""serve_hkm_beam_ms_per_query_max":${msq(hkmMax)},"""
      // drift pin vs the committed record: >15% drift on a median-of-5
      // 2000-query batch is signal, not noise — flag it on stderr so the
      // round diff starts from a named suspect. ms/query is amortized
      // over the batch, so a committed record measured under a DIFFERENT
      // batch size is skipped (loudly) rather than compared.
      committed.foreach { rec =>
        val prevN = rec.engine.get("serve_batch_n").map(_.toInt)
        if (prevN.exists(_ != nServe))
          System.err.println(s"[bench] serve drift check skipped: " +
            s"committed serve_batch_n ${prevN.get} != $nServe")
        else Seq(("serve_knn_ms_per_query_med", knnMed),
          ("serve_coarse_fine_ms_per_query_med", cfMed),
          ("serve_budgeted_ms_per_query_med", cfbMed),
          ("serve_hkm_beam_ms_per_query_med", hkmMed)).foreach {
          case (key, cur) => rec.engine.get(key).foreach { p =>
            val msPerQ = cur * 1000.0 / nServe
            if (serveDrift(msPerQ, p))
              System.err.println(f"[bench] WARNING serve drift $key: " +
                f"$msPerQ%.3f ms/q vs committed $p%.3f (x${msPerQ / p}%.2f)")
          }
        }
      }

      s"""{$serveJson"index_build_sec":${d(buildSec, 3)},""" +
        s""""recall_at_1":${d(m(1)._1, 4)},""" +
        s""""recall_at_10":${d(m(10)._1, 4)},""" +
        s""""mrr_at_10":${d(m(10)._2, 4)},""" +
        s""""recall_at_100":${d(m(100)._1, 4)},""" +
        s""""recall_at_1000":${d(m(1000)._1, 4)},""" +
        s""""knn_recall_at_10":${d(mKnn(10)._1, 4)},""" +
        s""""knn_mrr_at_10":${d(mKnn(10)._2, 4)},""" +
        s""""knn_recall_at_100":${d(mKnn(100)._1, 4)},""" +
        s""""knn_recall_at_1000":${d(mKnn(1000)._1, 4)},""" +
        s""""ndoc_per_query":${d(ndoc, 1)},"n_docs":$nVec,"topk":$k}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] engine metrics failed: ${e.getMessage}")
        "{}"
    }

    // ---- clustered-corpus quality block ----
    // The fixture embeddings are near-random unit vectors: label-recall
    // numbers there sit at chance and CANNOT detect an ANN quality
    // regression. This block plants 80 Gaussian clusters (the KnnGraphSpec
    // generator, distributed) and measures every approximate retriever
    // against the exact KNN on the same corpus — recall floors live in
    // the specs; here a drop below them flags on stderr and in the
    // round-over-round diff.
    val clustered = if (only.isDefined) "{}" else try {
      import graft.search.{BruteForceKNN, CoarseFineRetriever, IVFIndex, KnnGraph}
      import graft.index.{RQTrainer, CodeAssigner, ClusterIndexBuilder}
      val nClusters = 80; val perCluster = 50; val dim = 16; val nCq = 200
      val nDocs = nClusters * perCluster
      val gen = udf { (id: Long) =>
        val c = (id % nClusters).toInt
        val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
        val v = Array.tabulate(dim)(j =>
          (math.sin((c * dim + j).toDouble) + 0.08 * rng.nextGaussian()).toFloat)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        v.map(_ / n)
      }
      val cdocs = spark.range(nDocs)
        .select(col("id").as("doc_id"), gen(col("id")).as("vec")).cache()
      cdocs.count()
      val cq = cdocs.where(col("doc_id") < nCq)
        .select(col("doc_id").as("query_id"), col("vec").as("qvec")).cache()
      // exact truth, self included — queries are corpus members, matching
      // the graph-walk convention
      val exact = BruteForceKNN.topK(cq, cdocs, k = 10).cache()
      val exactSec = bestOf2 {
        BruteForceKNN.topK(cq, cdocs, k = 10)
          .write.format("noop").mode("overwrite").save()
      }
      def recallVs(approx: org.apache.spark.sql.DataFrame): Double =
        approx.select("query_id", "doc_id")
          .join(exact.select("query_id", "doc_id"),
            Seq("query_id", "doc_id"), "left_semi")
          .count().toDouble / (nCq.toDouble * 10)

      // √n-scaled cell count: 16 cells over 4000 docs (250 docs/cell,
      // ~5 planted clusters each) seeds NN-descent so poorly the graph
      // lands at 0.38 edge recall and the walk at 0.76 — with 64 cells
      // the same build/walk reach 0.69 / 0.96+
      val ivf = IVFIndex.build(cdocs, k = 64)
      ivf.cells.cache().count()
      val ivfRecall = recallVs(IVFIndex.search(cq, ivf, cdocs, nprobe = 4, k = 10))

      val ccb = RQTrainer.fit(cdocs, "vec", numLevels = 2, k = 8, seed = 42L,
        maxIter = 10)
      val cidx = ClusterIndexBuilder.build(CodeAssigner.assign(cdocs, ccb)).cache()
      val cfRecall = recallVs(
        CoarseFineRetriever.retrieve(cq, cidx, cdocs, ccb, beams = 4, k = 10))

      val (graph, gBuildSec) = timed {
        val g = KnnGraph.build(cdocs, ivf.cells, k = 8, rounds = 3)
          .select("src", "dst").cache()
        g.count(); g
      }
      val entries = KnnGraph.probeEntries(cq, ivf.cells, ivf.codebook,
        nprobe = 4, perCell = 8)
      val gwalk = KnnGraph.walk(cq, graph, cdocs, k = 10, beam = 16,
        rounds = 3, entries = entries)
      val gSec = bestOf2 {
        gwalk.write.format("noop").mode("overwrite").save()
      }
      val gRecall = recallVs(gwalk)

      // bucketed serving, measured (PlanSpec pins the plan shape; this
      // times it): the same walk over the adjacency store persisted (a)
      // as plain parquet and (b) src-bucketed via io.Bucketing — the
      // apples-to-apples pair for "does the bucketed layout pay", both
      // sides reading from disk. The cached-graph walk above stays the
      // in-memory headline.
      val (plainWalkSec, bucketedWalkSec) = {
        // measured with auto-broadcast OFF (the PlanSpec setting): at
        // this fixture size AQE broadcasts the 4k-doc corpus and the
        // bucketed layout never gets to elide its Exchange — at corpus
        // scale nothing broadcasts and SMJ is what runs, so that is the
        // regime worth timing. Stock AQE below the threshold is the
        // other regime, and there it is right to broadcast: walk and
        // coarse-fine layout pairs at 30x this corpus (120k docs, 60k-
        // 180k queries) measured the bucketed store as a tie or pure
        // overhead, because its side still broadcast. A bucketed store
        // pays only once its side outgrows the broadcast threshold.
        val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val pDir = "target/tmp/bench_graph_plain"
          graph.write.mode("overwrite").parquet(pDir)
          val pGraph = spark.read.parquet(pDir)
          val pSec = bestOf2 {
            KnnGraph.walk(cq, pGraph, cdocs, k = 10, beam = 16,
              rounds = 3, entries = entries)
              .write.format("noop").mode("overwrite").save()
          }
          graft.io.Bucketing.writeBucketed(graph, "bench_graph_bucketed",
            "target/tmp/bench_graph_bucketed", "src", buckets = 8)
          val bGraph = graft.io.Bucketing.readBucketed(spark, "bench_graph_bucketed")
          val bSec = bestOf2 {
            KnnGraph.walk(cq, bGraph, cdocs, k = 10, beam = 16,
              rounds = 3, entries = entries)
              .write.format("noop").mode("overwrite").save()
          }
          (pSec, bSec)
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }

      // spec-level floors (KnnGraphSpec pins the graph path; IVF/coarse
      // probe the same planted structure) — a breach is a red flag even
      // though only the specs hard-fail
      Seq(("graph", gRecall, 0.9), ("ivf", ivfRecall, 0.9),
        ("coarse_fine", cfRecall, 0.7)).foreach { case (nm, r, floor) =>
        if (r < floor)
          System.err.println(f"[bench] WARNING clustered $nm recall $r%.3f below floor $floor")
      }
      s"""{"n_docs":$nDocs,"n_queries":$nCq,""" +
        s""""exact_knn_qps":${d(nCq / exactSec, 2)},""" +
        s""""ivf_recall_at_10":${d(ivfRecall, 4)},""" +
        s""""coarse_fine_recall_at_10":${d(cfRecall, 4)},""" +
        s""""graph_build_sec":${d(gBuildSec, 3)},""" +
        s""""graph_ann_qps":${d(nCq / gSec, 2)},""" +
        s""""walk_parquet_qps":${d(nCq / plainWalkSec, 2)},""" +
        s""""bucketed_walk_qps":${d(nCq / bucketedWalkSec, 2)},""" +
        s""""graph_recall_at_10":${d(gRecall, 4)}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] clustered metrics failed: ${e.getMessage}")
        "{}"
    }

    val qs = driftHealed.map { case (k, (best, _)) => "\"" + k + "\":" + sec3(best) }
      .mkString("{", ",", "}")
    // spreads only for the flagged queries — the full map would double
    // the record for numbers that only matter when they're anomalous
    val spreadJson = pairsJson(suspects.map(name => name -> driftHealed(name)))
    val loadEnd = osBean.getSystemLoadAverage
    // taint flag (VERDICT r8 #7): a record captured on a box already
    // working (loadavg_start > cpus/4) embeds contention in its
    // timings — r8's driver record carried 11-s readings for queries
    // that measure 3.8/5.5 s clean. The flag doesn't refuse (the
    // driver needs SOME record every round); it marks the record so
    // cross-round comparisons skip tainted baselines.
    val tainted = loadStart > nCpus / 4.0
    if (tainted)
      System.err.println(f"[bench] WARNING record tainted: loadavg_start " +
        f"$loadStart%.2f > ${nCpus / 4.0}%.1f (cpus/4) — timings embed " +
        "foreign load; do not use as a cross-round baseline")
    // cpus = the EFFECTIVE local[N] the session ran with (VERDICT r17:
    // load.cpus used to report availableProcessors, so the driver's
    // 8-core scaling record said "cpus":32); host_cpus keeps the
    // machine size for the taint threshold's context
    val loadJson =
      s"""{"cpus":$cpus,"host_cpus":$nCpus,"loadavg_start":${d(loadStart, 2)},""" +
        s""""loadavg_end":${d(loadEnd, 2)},"iters":$iters,""" +
        s""""curate_chain_build_sec":${d(curateChainSec, 3)},""" +
        s""""tainted":$tainted,""" +
        s""""suspect_spread":$spreadJson,""" +
        Seq(DriftGate, DriftNote, Inflated).map(t =>
          s""""$t":${pairsJson(tiers.getOrElse(t, Nil))}""").mkString(",") + "}"
    val total = driftHealed.values.map(_._1).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"load":$loadJson,"engine":$engine,"clustered":$clustered,"sf":"$sfDir"}"""
    println(line)
    // The full line is ~3 KB — longer than a 2000-char tail capture — so
    // (a) persist it as a file, suffixed _c<N> when the run is at a
    // non-default core count so a scaling pass can't clobber the main
    // record, and (b) END stdout with a compact line (<1 KB: totals,
    // slowest-12 map, health flags) that fits any tail capture. A
    // filtered (SPARK_GRAFT_BENCH_ONLY) run must never clobber the
    // committed full record — it is the drift checks' baseline.
    val scalingRun = cpus != LocalSession.defaultCpus
    if (only.isEmpty) try {
      val fname = if (scalingRun) s"BENCH_FULL_c$cpus.json" else "BENCH_FULL.json"
      val out = Paths.get(sys.props.getOrElse("user.dir", "."), fname)
      Files.write(out, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full record -> $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }
    val slow = driftHealed.toSeq.filter(_._2._1 >= 0).sortBy(-_._2._1).take(12)
      .map { case (k, (best, _)) => "\"" + k + "\":" + sec3(best) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","n_queries":${driftHealed.size},"queries":$slow,"queries_note":"slowest 12 of ${driftHealed.size}; full map in BENCH_FULL${if (scalingRun) s"_c$cpus" else ""}.json","failed":$failedJson,"cpus":$cpus,"iters":$iters,"loadavg_start":${d(loadStart, 2)},"tainted":$tainted,"curate_chain_build_sec":${d(curateChainSec, 3)},"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }

  // Locale.ROOT formatting: the f"" interpolator is locale-sensitive
  // and a comma-decimal default locale would emit invalid JSON
  private def d(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
  // 3-decimal seconds: a full Double repr per query made the record
  // ~2.5 KB and the driver's tail-capture truncated its head
  // (BENCH_r03 "parsed: null"); ms resolution is all the diff needs
  private def sec3(v: Double): String = d(v, 3)

  /** `{"name":[a,b],...}` in 3-decimal seconds. */
  private[graft] def pairsJson(pairs: Iterable[(String, (Double, Double))]): String =
    pairs.map { case (name, (a, b)) =>
      "\"" + name + "\":[" + sec3(a) + "," + sec3(b) + "]"
    }.mkString("{", ",", "}")

  /** A (best, worst) iteration spread over 3x that costs over 0.5 s. */
  private[graft] def isSuspect(best: Double, worst: Double): Boolean =
    best > 0.0 && worst - best > 0.5 && worst / best > 3.0

  private[graft] val DriftGate = "drift_vs_committed"
  private[graft] val DriftNote = "drift_note"
  private[graft] val Inflated = "baseline_inflated"

  /** The drift tier of a query's best time `cur` against its committed
    * time `prev` (seconds), named by the record field that lists it; a
    * failed side (<= 0) has none.
    *  - [[DriftGate]]: over 2x and 0.5 s slower. Re-timed once, and a
    *    survivor is flagged.
    *  - [[DriftNote]]: under the gate but over 1.5x and 0.3 s slower —
    *    where sub-gate creep hides (r12's sample_dsir tracked loadavg
    *    across five records). Noted, not re-timed.
    *  - [[Inflated]]: the committed time is over 2x and 0.5 s SLOWER. The
    *    gate is asymmetric, so a baseline cut under load would otherwise
    *    weaken it silently; re-cut the record on a quiet box instead. */
  private[graft] def driftTier(cur: Double, prev: Double): Option[String] =
    if (cur <= 0 || prev <= 0) None
    else if (cur > 2.0 * prev && cur - prev > 0.5) Some(DriftGate)
    else if (cur > 1.5 * prev && cur - prev > 0.3) Some(DriftNote)
    else if (prev > 2.0 * cur && prev - cur > 0.5) Some(Inflated)
    else None

  /** A serve median drifts from its committed value (both ms/query) when
    * they differ by more than 15% either way. */
  private[graft] def serveDrift(cur: Double, prev: Double): Boolean = {
    val ratio = cur / prev
    ratio > 1.15 || ratio < 1.0 / 1.15
  }

  /** The parts of a bench record the drift checks read: `load.cpus`,
    * `sf`, and the numeric fields of `queries` and `engine`. */
  private[graft] final case class Record(cpus: Option[Int], sf: Option[String],
      queries: Map[String, Double], engine: Map[String, Double]) {
    /** Measured like a run at local[`runCpus`] over `runSf`. */
    def comparable(runCpus: Int, runSf: String): Boolean =
      cpus.contains(runCpus) && sf.contains(runSf)
  }

  private[graft] object Record {
    private implicit val formats: Formats = DefaultFormats

    def parse(text: String): Record = {
      val j = JsonMethods.parse(text)
      def numbers(v: JValue): Map[String, Double] = v match {
        case JObject(fields) =>
          fields.flatMap { case (k, x) => x.extractOpt[Double].map(k -> _) }.toMap
        case _ => Map.empty
      }
      Record((j \ "load" \ "cpus").extractOpt[Int], (j \ "sf").extractOpt[String],
        numbers(j \ "queries"), numbers(j \ "engine"))
    }
  }

  /** The serve block's query batch: `n` distinct query ids over the
    * corpus vectors (`nVec` of them, cycled), each perturbed
    * deterministically and renormalized so the per-query top-k
    * cardinalities are realistic. Cached and counted. */
  private[graft] def serveBatch(docs: DataFrame, nVec: Long, n: Int): DataFrame = {
    val batch = docs.sparkSession.range(n)
      .select(col("id").as("query_id"), (col("id") % nVec).as("doc_id"))
      .join(docs.select("doc_id", "vec"), Seq("doc_id"))
      .select(col("query_id"),
        transform(col("vec"), (x, i) =>
          x + lit(1e-3f) * sin(col("query_id") * lit(31) + i)).as("__p"))
      .select(col("query_id"),
        transform(col("__p"), x => x / sqrt(aggregate(col("__p"),
          lit(0.0d), (acc, v) => acc + v * v))).as("qvec"))
      .select(col("query_id"),
        transform(col("qvec"), x => x.cast("float")).as("qvec"))
      .cache()
    batch.count()
    batch
  }
}
