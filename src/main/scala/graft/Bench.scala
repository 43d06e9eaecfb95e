package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-run benchmark: times every `SparkEntry.queries` entry (noop sink
  * = true materialization), then reports the engine metrics BASELINE.md
  * asks for — index-build time, brute-force-KNN and coarse→fine throughput,
  * Recall/MRR vs the label ground truth, and ndoc@cluster-R.
  * Output: ONE JSON line on stdout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine, not a fixed 4 — an unset env var must not
    // benchmark the engine at 1/8th of the available cores
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // best-of-2 like the query loop — single shots jitter round-over-round
    def bestOf2(f: => Unit): Double = {
      val (_, s1) = timed(f); val (_, s2) = timed(f); math.min(s1, s2)
    }
    // interleaved A/B(/C) layout arms (VERDICT r14 #4): one loop, `iters`
    // rounds, each arm timed once per round — a contention window hits
    // all arms of a round alike instead of landing wholly on whichever
    // arm happened to run in it (the r14 driver record measured the
    // cf-serve pair INVERTED for exactly that reason). Returns (best-of
    // per arm, winner-stable, per-arm round wins): stable = the
    // overall-best arm won a strict MAJORITY of rounds (r16 — the r15
    // form required unanimity, which at the 5-round record-cut setting
    // is a strictly harder bar than the 3 rounds it was designed for:
    // one GC-jitter round flips it even when 4/5 rounds agree; the vote
    // is recorded so a 3–2 squeaker reads differently from 5–0). A
    // false flag still means the ordering is a noise sample, not a
    // conclusion; the arm-spread field disambiguates tie vs noise.
    def interleaved(arms: Seq[() => Unit],
        iters: Int): (Seq[Double], Boolean, Seq[Int]) = {
      val best = Array.fill(arms.size)(Double.MaxValue)
      val winners = (1 to iters).map { _ =>
        val ts = arms.map(a => timed(a())._2)
        ts.zipWithIndex.foreach { case (t, i) => best(i) = math.min(best(i), t) }
        ts.indexOf(ts.min)
      }
      val wins = arms.indices.map(i => winners.count(_ == i))
      val bestArm = best.indexOf(best.min)
      (best.toSeq, 2 * wins(bestArm) > iters, wins)
    }
    // Locale.ROOT formatting: the f"" interpolator is locale-sensitive
    // and a comma-decimal default locale would emit invalid JSON
    def d(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

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

    // machine-load fingerprint: BENCH_r06's 163 s record was a loaded-box
    // artifact (18× single-query outliers) that read as a 3× regression —
    // the record must carry enough context to self-identify as noise
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val nCpus = Runtime.getRuntime.availableProcessors

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // best-of-N per query (default 2): single-shot timings at this scale
    // carry multi-second GC/scheduler noise, which round-over-round diffs
    // would misread as regressions; min-of-iters is the stable statistic
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    // interleave rounds for the layout A/B blocks (ADVICE r15: the fast
    // ITERS=1 pass used to still run 3 interleaved rounds per arm).
    // Tracks the bench iters setting, floored at 2 so the winner-
    // stability check stays meaningful; a record cut overrides with
    // SPARK_GRAFT_BENCH_LAYOUT_ITERS=5 (VERDICT r15 #4) so the
    // stability flags get five chances to catch a flipping winner.
    val layoutIters = sys.env.get("SPARK_GRAFT_BENCH_LAYOUT_ITERS")
      .map(_.toInt).getOrElse(iters.min(3)).max(2)
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=<anchored regex> times just
    // the matching catalog queries and skips the engine/clustered blocks.
    // A filtered record is for local iteration only — never commit one.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    if (only.isDefined)
      System.err.println(s"[bench] PARTIAL run (filter ${only.get}) — not a committable record")
    // (best, worst) per query — the spread across iterations is the
    // per-query noise witness the suspect flag below reads
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(name.matches) }
      .map { case (name, fn) =>
      var best = Double.MaxValue
      var worst = 0.0
      var i = 0
      while (i < iters) {
        val (okRun, sec) = timed {
          // noop sink: materializes every output column (count() would let
          // Catalyst prune the projection and understate the real work)
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name iter $i failed: ${e.getMessage}")
            false
          }
        }
        if (okRun) { best = math.min(best, sec); worst = math.max(worst, sec) }
        i += 1
      }
      // a query only counts as failed when NO iteration succeeded — a
      // transient flake on a later iteration must not discard a valid
      // earlier measurement
      if (best == Double.MaxValue) failed += name
      name -> (if (best == Double.MaxValue) (-1.0, -1.0) else (best, worst))
    }
    // a >3× iteration spread that costs real time means something other
    // than this query had the machine. Don't just name it — SELF-HEAL:
    // run one extra iteration and judge the spread on the best two of
    // three samples (one polluted run among three is the load signature;
    // two agreeing runs are the query). The record flags a query only
    // when even the healed spread stays >3× — i.e. the timing genuinely
    // bimodal, not a one-off neighbor.
    def isSuspect(best: Double, worst: Double): Boolean =
      best > 0.0 && worst - best > 0.5 && worst / best > 3.0
    val healed = results.map { case (name, (best, worst)) =>
      if (!isSuspect(best, worst)) name -> (best, worst)
      else {
        System.err.println(s"[bench] re-timing load-suspect $name (spread ${d(worst / best, 1)}x)")
        val (okRun, sec) = timed {
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save(); true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name heal iter failed: ${e.getMessage}")
            false
          }
        }
        if (!okRun) name -> (best, worst)
        else {
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

    // per-query drift flag vs the COMMITTED record (VERDICT r10 #5):
    // the within-run spread check above is blind to SYSTEMATIC load —
    // r10's driver record ran both iterations under sustained
    // contention and carried 3-10x outliers (hkm_beam_dist 3.90 s vs
    // 0.34 s clean) with an EMPTY suspect list. So: compare every
    // healed best against the committed BENCH_FULL map (the same
    // baseline the serve-drift pin reads); >2x AND >0.5 s absolute
    // gets ONE re-time, and a survivor lands in drift_vs_committed —
    // a tainted record now names its own casualties, and a genuine
    // regression (or a deliberate trade, like r11's temperatureMix
    // histogram form) surfaces as a named diff to adjudicate instead
    // of silent drift.
    // a run at a non-default core count (the driver's scaling pass) is
    // not comparable to the committed 32-core record: its times are
    // legitimately ~2x slower, so every drift gate would fire and burn
    // re-time iterations on phantom "regressions" (r17: the 8-core run
    // re-timed drift pairs against the 32-core baseline). Skip the
    // drift machinery entirely for those runs — the scaling comparison
    // is the DRIVER's job, across its two records.
    val defaultCpus = math.min(32, Runtime.getRuntime.availableProcessors)
    val scalingRun = cpus.toInt != defaultCpus
    val prevQueryTimes: Map[String, Double] = if (scalingRun) {
      System.err.println(s"[bench] drift check skipped: local[$cpus] run, " +
        s"committed record is local[$defaultCpus]")
      Map.empty
    } else try {
      val prevPath = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json")
      if (java.nio.file.Files.exists(prevPath)) {
        val prev = new String(
          java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
        // a record measured at a different scale factor is not a
        // baseline — skip (loudly) rather than flag cross-sf "drift"
        val prevSf = """"sf":"([^"]+)"""".r
          .findFirstMatchIn(prev).map(_.group(1))
        if (prevSf.exists(_ != sfDir)) {
          System.err.println(s"[bench] drift check skipped: committed " +
            s"record sf ${prevSf.get} != $sfDir")
          Map.empty
        } else {
          val body = """"queries":\{([^}]*)\}""".r
            .findFirstMatchIn(prev).map(_.group(1)).getOrElse("")
          val parsed = """"([A-Za-z0-9_]+)":([0-9.]+)""".r
            .findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          // a committed record that parses to ZERO query times means the
          // format evolved past this regex — the drift check would
          // silently disappear; say so instead (ADVICE r12)
          if (parsed.isEmpty)
            System.err.println("[bench] WARNING committed BENCH_FULL.json " +
              "exists but no query times parsed — drift check is DEAD; " +
              "fix the \"queries\":{...} extraction regex")
          parsed
        }
      } else Map.empty
    } catch { case _: Throwable => Map.empty }
    def isDrift(cur: Double, prev: Double): Boolean =
      cur > 0.0 && prev > 0.0 && cur > 2.0 * prev && cur - prev > 0.5
    val driftHealed = healed.map { case (name, (best, worst)) =>
      if (!prevQueryTimes.get(name).exists(p => isDrift(best, p)))
        name -> (best, worst)
      else {
        System.err.println(f"[bench] re-timing drift suspect $name " +
          f"($best%.3f s vs committed ${prevQueryTimes(name)}%.3f s)")
        val (okRun, sec) = timed {
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save(); true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name drift re-time failed: ${e.getMessage}")
            false
          }
        }
        if (okRun) name -> (math.min(best, sec), worst)
        else name -> (best, worst)
      }
    }
    val driftFlags = driftHealed.collect {
      case (name, (best, _))
          if prevQueryTimes.get(name).exists(p => isDrift(best, p)) =>
        name -> (best, prevQueryTimes(name))
    }
    if (driftFlags.nonEmpty)
      System.err.println("[bench] WARNING drift vs committed record " +
        "(>2x after re-time): " + driftFlags.map { case (n, (c, p)) =>
          f"$n $c%.3f/$p%.3f" }.mkString(", "))
    // second, tighter tier (VERDICT r12 #3): >1.5x AND >0.3 s moves sit
    // under the hard gate but are exactly where sub-gate creep hides —
    // r12's sample_dsir 0.68→0.90 spread turned out to be residual-load
    // sensitivity (time correlates monotonically with loadavg_start
    // across five records: 0.68@1.3, 0.74@2.2, 0.82@3.5, 0.90@4.1,
    // 1.19@~5), but it went unlisted for a round. Note, don't re-time;
    // recorded as drift_note in the JSON so the round diff starts named.
    val driftNotes = driftHealed.collect {
      case (name, (best, _))
          if prevQueryTimes.get(name).exists(p =>
            best > 0 && p > 0 && !isDrift(best, p) &&
              best > 1.5 * p && best - p > 0.3) =>
        name -> (best, prevQueryTimes(name))
    }
    if (driftNotes.nonEmpty)
      System.err.println("[bench] note: sub-gate drift (>1.5x, >0.3s) — " +
        "check loadavg before reading as regression: " +
        driftNotes.map { case (n, (c, p)) =>
          f"$n $c%.3f/$p%.3f" }.mkString(", "))
    // inverse tier (VERDICT r13 "what's wrong"): the gate above is
    // asymmetric — a committed entry cut under load can never flag
    // again, because current < committed always passes, so an inflated
    // baseline silently weakens the gate up to its own noise level
    // (r13's text_gopher_rules sat at 2.87 s committed vs 1.5 s
    // honest). Surface the inversion: a committed time >2x SLOWER than
    // this run's best means the BASELINE is the outlier — re-cut the
    // record on a quiet box instead of banking the free headroom.
    val inflatedBaseline = driftHealed.collect {
      case (name, (best, _))
          if prevQueryTimes.get(name).exists(p =>
            best > 0 && p > 0 && p > 2.0 * best && p - best > 0.5) =>
        name -> (best, prevQueryTimes(name))
    }
    if (inflatedBaseline.nonEmpty)
      System.err.println("[bench] note: committed baseline looks INFLATED " +
        "(>2x slower than this run): " +
        inflatedBaseline.map { case (n, (c, p)) =>
          f"$n $c%.3f/$p%.3f" }.mkString(", ") +
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
      // drift pin vs the committed record: BENCH_FULL.json in the work
      // tree is the PREVIOUS round's committed record at the time the
      // driver runs this (the bench overwrites it afterwards). >15%
      // drift on a median-of-5 2000-query batch is signal, not noise —
      // flag it on stderr so the round diff starts from a named suspect.
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
      try {
        val prevPath = java.nio.file.Paths.get(
          sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json")
        if (scalingRun)
          System.err.println(s"[bench] serve drift check skipped: " +
            s"local[$cpus] run is not comparable to the committed record")
        else if (java.nio.file.Files.exists(prevPath)) {
          val prev = new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
          def prevVal(key: String): Option[Double] =
            s""""$key":([0-9.]+)""".r.findFirstMatchIn(prev)
              .map(_.group(1).toDouble)
          // ms/query is amortized over the batch: a committed record
          // measured under a DIFFERENT batch size is not comparable —
          // skip (loudly) rather than flag spurious drift or mask real
          // drift against numbers with different amortization
          val prevN = prevVal("serve_batch_n")
          if (prevN.exists(_.toInt != nServe))
            System.err.println(s"[bench] serve drift check skipped: " +
              s"committed serve_batch_n ${prevN.get.toInt} != $nServe")
          else Seq(("serve_knn_ms_per_query_med", knnMed),
            ("serve_coarse_fine_ms_per_query_med", cfMed),
            ("serve_budgeted_ms_per_query_med", cfbMed),
            ("serve_hkm_beam_ms_per_query_med", hkmMed)).foreach {
            case (key, cur) => prevVal(key).foreach { p =>
              val ratio = (cur * 1000.0 / nServe) / p
              if (ratio > 1.15 || ratio < 1.0 / 1.15)
                System.err.println(f"[bench] WARNING serve drift $key: " +
                  f"${cur * 1000.0 / nServe}%.3f ms/q vs committed $p%.3f (x$ratio%.2f)")
            }
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] serve drift check failed: ${e.getMessage}")
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
        // regime worth timing
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

      // ---- stock-AQE layout pair at 30x the corpus (VERDICT r12 #6) ----
      // The pair above runs with auto-broadcast DISABLED to simulate
      // corpus scale (at 4k docs AQE otherwise broadcasts everything and
      // the bucketed layout never gets to elide its Exchange). This pair
      // re-measures the same layout question WITHOUT the override, at
      // 120k docs x dim 48 / 960k ring edges / 60k queries. Measured
      // finding (r13 probe, this geometry): stock AQE still broadcasts —
      // the walk's frontier/entry sides are (long, long) rows that stay
      // under the 10 MB threshold even at a 250k-query batch — and that
      // choice is RIGHT (forcing SMJ costs 2.0x: 4.2 -> 8.5 s at 60k
      // queries, 4.9 -> 9.7 s at 250k), while the bucketed scan is pure
      // overhead when nothing shuffles on the graph side (+25%). So the
      // committed pair documents the honest boundary: the bucketed
      // adjacency store pays exactly when the probe side outgrows the
      // broadcast threshold (the forced-SMJ pair above, i.e. multi-M-row
      // frontiers), and stock AQE should be left to broadcast below it.
      // Structure is synthetic (ring edges inside planted 60-doc
      // clusters; entries 30 ring-hops from the answer) because only
      // the LAYOUT is under test — graph quality is the block above.
      val (bigPlainSec, bigBucketedSec, bigNDocs, bigNQ,
          cfServePlainSec, cfServeBucketedIndexSec, cfServeBucketedDocsSec,
          bigwalkStable, cfServeStable, cfServeNQ,
          bigwalkWins, cfServeWins) = {
        val bDocs = 120000L; val bDim = 48; val clusterSz = 60L
        val bQ = 60000L
        val bgen = udf { (id: Long) =>
          val c = id / clusterSz
          val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
          val v = Array.tabulate(bDim)(j =>
            (math.sin((c * bDim + j).toDouble) + 0.08 * rng.nextGaussian()).toFloat)
          val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
          v.map(_ / n)
        }
        val bdocs = spark.range(bDocs)
          .select(col("id").as("doc_id"), bgen(col("id")).as("vec"))
          .localCheckpoint()
        // ring edges within each cluster: i -> start + (i±1..4 mod 60)
        val base60 = (col("doc_id") / clusterSz).cast("long") * clusterSz
        val bedges = bdocs.select(col("doc_id"),
            explode(array((1 to 4).flatMap(d => Seq(lit(d.toLong), lit(60L - d))): _*)).as("__d"))
          .select(col("doc_id").as("src"),
            ((col("doc_id") - base60 + col("__d")) % clusterSz + base60).as("dst"))
        val bq = spark.range(bQ)
          .select(col("id").as("query_id"),
            ((col("id") * 2L) % bDocs).as("__src"))
          .join(bdocs.select(col("doc_id").as("__src"), col("vec")), Seq("__src"))
          .select(col("query_id"),
            transform(col("vec"), (x, i) =>
              (x + lit(1e-3f) * sin(col("query_id") * lit(31) + i)).cast("float"))
              .as("qvec"), col("__src"))
          .localCheckpoint()
        // entries: 30 ring-hops away in the same cluster — the walk has
        // to traverse, not just confirm
        val bcluster = (col("__src") / clusterSz).cast("long")
        val bentries = bq.select(col("query_id"),
          ((col("__src") - bcluster * clusterSz + 30L) %
            clusterSz + bcluster * clusterSz).as("doc_id"))
        val bqv = bq.select("query_id", "qvec")
        val pDir = "target/tmp/bench_biggraph_plain"
        bedges.write.mode("overwrite").parquet(pDir)
        val pGraph = spark.read.parquet(pDir)
        graft.io.Bucketing.writeBucketed(bedges, "bench_biggraph_bucketed",
          "target/tmp/bench_biggraph_bucketed", "src", buckets = 32)
        val bGraph = graft.io.Bucketing.readBucketed(spark, "bench_biggraph_bucketed")
        // both layouts written BEFORE any timing, arms interleaved
        // (VERDICT r14 #4 — see the helper's comment)
        def walkArm(g: org.apache.spark.sql.DataFrame): Unit =
          KnnGraph.walk(bqv, g, bdocs, k = 10, beam = 8,
            rounds = 2, entries = bentries)
            .write.format("noop").mode("overwrite").save()
        val (bwTimes, bwStable, bwWins) = interleaved(Seq(
          () => walkArm(pGraph), () => walkArm(bGraph)), layoutIters)
        val (pSec, bSec) = (bwTimes(0), bwTimes(1))
        // ---- coarse-fine serving twin of the layout pair (r14,
        // VERDICT r13 #7): same planted corpus, stock AQE, serving
        // shape = J3 (probe → cluster index) + J4 (candidates →
        // embedding fetch) + exact re-rank + bounded top-k. Layout
        // variables, one at a time: (a) the cluster-index store, J3's
        // static side, bucketed on the cluster key; (b) the embedding
        // store, J4's static side, bucketed on doc_id. Probe side:
        // each query probes its own cluster and the next (nprobe=2) →
        // 120 candidates/query, 7.2M scored rows at 60k queries. The
        // index here is keyed by a LONG cluster id (the 1-level/IVF
        // J3 form; the RQ form's ARRAY<INT> codes key hashes the same
        // way once serialized). Only the LAYOUT is under test — the
        // retrieval quality of the real operator chain is the
        // coarse_fine recall block above. Measured history: the r14
        // record showed bucketed-index ~2x ahead at 60k queries, but
        // the r15 driver and judge runs both measured the OTHER
        // ordering inside contention noise — at 180k queries (r16, 3x
        // probe side so absolute deltas clear the noise floor) the
        // three arms land within ~6% of each other: the ~1 MB cluster
        // index BROADCASTS under stock AQE, so there is no index-side
        // exchange for bucketing to elide, and the r14 "2x win" was a
        // noise sample (the same boundary as the bigwalk pair: a
        // bucketed static store pays exactly when its side outgrows
        // the broadcast threshold). The cf_serve_arm_spread_pct field
        // disambiguates the stability flag: small spread = genuine
        // tie, large spread + flipped winner = noise.
        val nClusters = bDocs / clusterSz
        val cIdx = bdocs
          .select((col("doc_id") / clusterSz).cast("long").as("cluster"),
            col("doc_id"))
          .groupBy("cluster").agg(collect_list(col("doc_id")).as("doc_ids"))
        // probe side scaled 3x past the walk's query batch (VERDICT r15
        // #5): at 60k queries the three cf-serve arms ran ~2.5 s each and
        // three independent records disagreed inside contention noise —
        // 180k queries / ~21.6M scored rows puts the layout effect's
        // absolute delta above the neighbor-noise floor
        val cfQ = 3L * bQ
        val cfq = (0 until 3).map(r => bq.select(
            (col("query_id") + lit(r * bQ)).as("query_id"),
            col("qvec"), col("__src")))
          .reduce(_.unionByName(_)).localCheckpoint()
        val cfqv = cfq.select("query_id", "qvec")
        val probes = cfq.select(col("query_id"),
          explode(array(
            (col("__src") / clusterSz).cast("long"),
            pmod((col("__src") / clusterSz).cast("long") + 1L,
              lit(nClusters)))).as("cluster"))
          .localCheckpoint()
        val dot = graft.functions.VectorFunctions.float_dot(
          col("qvec"), col("vec"))
        def cfServeOnce(index: org.apache.spark.sql.DataFrame,
            docsT: org.apache.spark.sql.DataFrame): Unit = {
          val cand = probes.join(index, Seq("cluster"))
            .select(col("query_id"), explode(col("doc_ids")).as("doc_id"))
          val scored = cand.join(docsT, Seq("doc_id"))
            .join(cfqv, Seq("query_id"))
            .select(col("query_id"), col("doc_id"),
              dot.cast("double").as("score"))
          graft.search.TopK.ranked(scored, 10)
            .write.format("noop").mode("overwrite").save()
        }
        val ciDir = "target/tmp/bench_cf_index_plain"
        cIdx.write.mode("overwrite").parquet(ciDir)
        val dDir = "target/tmp/bench_cf_docs_plain"
        bdocs.write.mode("overwrite").parquet(dDir)
        val pIdx = spark.read.parquet(ciDir)
        val pD = spark.read.parquet(dDir)
        graft.io.Bucketing.writeBucketed(cIdx, "bench_cf_index_bucketed",
          "target/tmp/bench_cf_index_bucketed", "cluster", buckets = 32)
        val bIdx = graft.io.Bucketing.readBucketed(spark, "bench_cf_index_bucketed")
        graft.io.Bucketing.writeBucketed(bdocs, "bench_cf_docs_bucketed",
          "target/tmp/bench_cf_docs_bucketed", "doc_id", buckets = 32)
        val bD = graft.io.Bucketing.readBucketed(spark, "bench_cf_docs_bucketed")
        // all three layouts on disk, arms interleaved (VERDICT r14 #4)
        val (cfTimes, cfStable, cfWins) = interleaved(Seq(
          () => cfServeOnce(pIdx, pD),
          () => cfServeOnce(bIdx, pD),
          () => cfServeOnce(pIdx, bD)), layoutIters)
        val (cfPlainSec, cfBIdxSec, cfBDocsSec) =
          (cfTimes(0), cfTimes(1), cfTimes(2))
        bdocs.unpersist(); bq.unpersist()
        (pSec, bSec, bDocs, bQ, cfPlainSec, cfBIdxSec, cfBDocsSec,
          bwStable, cfStable, cfQ, bwWins, cfWins)
      }

      // arm spread (max/min − 1): disambiguates a FALSE stability flag —
      // a few-% spread means the arms genuinely TIE at this geometry (no
      // ordering conclusion exists and the flag is honestly false), a
      // large spread with a flipping winner means the sample is noise
      def spreadPct(ts: Double*): Double =
        if (ts.exists(_ <= 0)) -1.0 else (ts.max / ts.min - 1.0) * 100.0
      val bigwalkSpread = spreadPct(bigPlainSec, bigBucketedSec)
      val cfServeSpread = spreadPct(cfServePlainSec,
        cfServeBucketedIndexSec, cfServeBucketedDocsSec)
      if (!bigwalkStable)
        System.err.println(f"[bench] WARNING bigwalk layout winner flipped " +
          f"across interleaved rounds (arm spread $bigwalkSpread%.1f%%) — " +
          "a small spread is a tie, a large one a noise sample")
      if (!cfServeStable)
        System.err.println(f"[bench] WARNING cf-serve layout winner flipped " +
          f"across interleaved rounds (arm spread $cfServeSpread%.1f%%) — " +
          "a small spread is a tie, a large one a noise sample")
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
        s""""bigwalk_n_docs":$bigNDocs,"bigwalk_n_queries":$bigNQ,""" +
        s""""bigwalk_parquet_sec":${d(bigPlainSec, 3)},""" +
        s""""bigwalk_bucketed_sec":${d(bigBucketedSec, 3)},""" +
        s""""bigwalk_conclusion_stable":$bigwalkStable,""" +
        s""""bigwalk_arm_spread_pct":${d(bigwalkSpread, 1)},""" +
        s""""bigwalk_round_wins":${bigwalkWins.mkString("[", ",", "]")},""" +
        s""""cf_serve_n_queries":$cfServeNQ,""" +
        s""""cf_serve_parquet_sec":${d(cfServePlainSec, 3)},""" +
        s""""cf_serve_bucketed_index_sec":${d(cfServeBucketedIndexSec, 3)},""" +
        s""""cf_serve_bucketed_docs_sec":${d(cfServeBucketedDocsSec, 3)},""" +
        s""""cf_serve_conclusion_stable":$cfServeStable,""" +
        s""""cf_serve_arm_spread_pct":${d(cfServeSpread, 1)},""" +
        s""""cf_serve_round_wins":${cfServeWins.mkString("[", ",", "]")},""" +
        s""""graph_recall_at_10":${d(gRecall, 4)}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] clustered metrics failed: ${e.getMessage}")
        "{}"
    }

    // 3-decimal seconds: a full Double repr per query made the record
    // ~2.5 KB and the driver's tail-capture truncated its head
    // (BENCH_r03 "parsed: null"); ms resolution is all the diff needs
    def sec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = driftHealed.map { case (k, (best, _)) => "\"" + k + "\":" + sec3(best) }
      .mkString("{", ",", "}")
    // spreads only for the flagged queries — the full map would double
    // the record for numbers that only matter when they're anomalous
    val spreadJson = suspects.map { name =>
      val (best, worst) = driftHealed(name)
      "\"" + name + "\":[" + sec3(best) + "," + sec3(worst) + "]"
    }.mkString("{", ",", "}")
    // [current, committed] per surviving drift flag — empty when the
    // run is consistent with the committed record
    val driftJson = driftFlags.map { case (name, (cur, prev)) =>
      "\"" + name + "\":[" + sec3(cur) + "," + sec3(prev) + "]"
    }.mkString("{", ",", "}")
    val driftNoteJson = driftNotes.map { case (name, (cur, prev)) =>
      "\"" + name + "\":[" + sec3(cur) + "," + sec3(prev) + "]"
    }.mkString("{", ",", "}")
    // [current, committed] per inflated-baseline flag (see above)
    val inflatedJson = inflatedBaseline.map { case (name, (cur, prev)) =>
      "\"" + name + "\":[" + sec3(cur) + "," + sec3(prev) + "]"
    }.mkString("{", ",", "}")
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
        s""""drift_vs_committed":$driftJson,""" +
        s""""drift_note":$driftNoteJson,""" +
        s""""baseline_inflated":$inflatedJson}"""
    val total = driftHealed.values.map(_._1).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"load":$loadJson,"engine":$engine,"clustered":$clustered,"sf":"$sfDir"}"""
    println(line)
    // duplicate on stderr: survives even if a stdout tail-capture clips
    System.err.println(line)
    // The full line is ~3 KB — longer than the driver's 2000-char tail
    // window, so every BENCH_r01-r17 record has "parsed": null (the old
    // "compact" line still carried the full load/engine/clustered
    // blocks). Fixes (VERDICT r17 #1/#2): (a) persist the full record as
    // a file the judge reads directly — suffixed _c<N> when the run is
    // at a non-default core count, so the driver's scaling pass can't
    // clobber the main record (r17's 8-core run overwrote the 32-core
    // per-query map); (b) END stdout with a genuinely compact line
    // (<1 KB: totals, slowest-12 map, health flags) that fits any tail
    // capture. A filtered (SPARK_GRAFT_BENCH_ONLY) run must never
    // clobber the committed full record — it is the drift pin's baseline.
    if (only.isEmpty) try {
      val fname = if (scalingRun) s"BENCH_FULL_c$cpus.json" else "BENCH_FULL.json"
      val out = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", "."), fname)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
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
    System.err.println(compact)
    spark.stop()
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
