package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: times every catalog query at a base fixture dir AND at a
  * 10×-replicated copy, and reports the per-query scaling exponent
  * log10(t_10x / t_base) — direct evidence for the "survives 100×" design
  * claim that plan-reading can only argue (VERDICT r4 next-round #7).
  *
  * The replica shifts every table's primary/foreign keys consistently
  * (join graphs stay intact; replica i's orders reference replica i's
  * customers), while the tiny dims (region, nation) and the fixed
  * query-id slices (vec_id < 20, doc_id < 10 answers) stay shared — so
  * CORPUS sides grow 10× while serving batches stay constant, exactly
  * the shape a production scale-up has.
  *
  * Interpretation: exponent ≈ 1 → linear in corpus (expected for scans,
  * hash aggs, bucketed joins); < 1 → overhead-bound at this size (short
  * queries: Spark's ~0.1-0.3 s per-job floor dominates); sensibly > 1 →
  * super-linear — a candidate-blowup or skew bug worth a look. Queries
  * whose base time is under 0.3 s are flagged overhead-bound rather than
  * read as scaling signal.
  *
  * Output: one JSON line (stdout) + SCALING.md at the repo root.
  */
object ScaleProbe {

  private val Shift = 10000000L

  /** `perturb = false`: exact replicas (keys shifted). With it TRUE each
    * replica is made DISSIMILAR to every other: every whitespace token
    * gains a per-replica suffix (an injective token remap — shingle/
    * minhash/simhash similarity WITHIN a replica is preserved exactly,
    * across replicas it drops to ~0) and embeddings get a per-replica
    * cyclic coordinate shift + sign flip — an L2 ISOMETRY (intra-replica
    * distances exact) whose images of random vectors are again random
    * vectors, so hyperplane-LSH bucket distributions stay healthy.
    * (A translation along one axis is also an isometry but saturates
    * every hyperplane sign at large offsets — each replica collapses
    * into ONE bucket and the candidate join goes quadratic; tried,
    * produced a 35-minute single-reducer task, rejected.) Exact
    * replication makes near-dup PAIR outputs grow C(times,2)-fold — a
    * fixture artifact that swamps the timing at 100×; perturbed
    * replication keeps outputs ~linear so the exponent measures the
    * candidate-generation machinery, which is the actual 100 TB
    * question. */
  /** `hubSkew`: lineitem replicas keep `l_suppkey` UNSHIFTED, so every
    * supplier becomes a `times`-degree hub in the graph queries (the
    * part side still shifts → `times`× sinks): the adversarial shape
    * for iterative graph ops — a few src keys own `times`× the edges
    * of everything else. Only the graph family reads lineitem without
    * joining the (shifted) supplier dim, so use hub dirs ONLY for
    * graph_pagerank* probes. */
  def replicate(spark: SparkSession, srcDir: String, outDir: String,
      times: Int, perturb: Boolean = false, hubSkew: Boolean = false): Unit = {
    def rep(name: String, shiftCols: Seq[String],
        also: Int => DataFrame => DataFrame = _ => identity): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until times).map { i =>
        also(i)(shiftCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * Shift))))
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    rep("embeddings", Seq("vec_id"), i => df =>
      if (perturb && i > 0) {
        val dim = size(col("embedding"))
        val sign = lit(if (i >= 64) -1.0f else 1.0f)
        df.withColumn("embedding", transform(col("embedding"),
          (_, idx) => element_at(col("embedding"),
            ((idx + lit(i % 64)) % dim) + 1) * sign))
      } else df)
    rep("documents", Seq("doc_id"), i => df =>
      if (perturb && i > 0)
        df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1" + s"zq$i"))
      else df)
    rep("events", Seq("event_id", "user_id"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem",
      if (hubSkew) Seq("l_orderkey", "l_partkey")
      else Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("region", Seq.empty)
    rep("nation", Seq.empty)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val times = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIMES", "10").toInt
    // chunked full-catalog protocol (VERDICT r8 #1): long runs don't fit
    // one harness invocation, so each chunk measures a query subset and
    // APPENDS "name\tbase\tbig" to the results TSV; a final
    // SPARK_GRAFT_SCALE_ASSEMBLE=1 run (no Spark session) folds the TSV
    // into SCALING.md + the JSON line and applies the super-linear gate.
    val resultsPath = sys.env.get("SPARK_GRAFT_SCALE_RESULTS")
    if (sys.env.get("SPARK_GRAFT_SCALE_ASSEMBLE").contains("1")) {
      assemble(resultsPath.getOrElse(sys.error(
        "SPARK_GRAFT_SCALE_ASSEMBLE needs SPARK_GRAFT_SCALE_RESULTS")),
        baseDir, times,
        perturb = sys.env.get("SPARK_GRAFT_SCALE_PERTURB").contains("1"),
        hubSkew = sys.env.get("SPARK_GRAFT_SCALE_HUB").contains("1"),
        appendMd = sys.env.get("SPARK_GRAFT_SCALE_APPEND").contains("1"))
      return
    }
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"target/tmp/scale_x$times")
    val spark = LocalSession(LocalSession.envCpus())

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val perturb = sys.env.get("SPARK_GRAFT_SCALE_PERTURB").contains("1")
    val hubSkew = sys.env.get("SPARK_GRAFT_SCALE_HUB").contains("1")
    // comma-separated full-match REGEXES (same contract as Verify's
    // query filter): "graph_.*" selects the family, bare names select
    // themselves
    val subset: Option[String => Boolean] =
      sys.env.get("SPARK_GRAFT_SCALE_QUERIES").map { spec =>
        val res = spec.split(",").map(_.trim).filter(_.nonEmpty).map(_.r)
        (n: String) => res.exists(_.pattern.matcher(n).matches())
      }
    val appendMd = sys.env.get("SPARK_GRAFT_SCALE_APPEND").contains("1")

    val marker = new java.io.File(s"$bigDir/_REPLICATED")
    if (!marker.exists()) {
      System.err.println(
        s"[scale] replicating $baseDir ×$times (perturb=$perturb hub=$hubSkew) → $bigDir")
      val sec = timed(replicate(spark, baseDir, bigDir, times, perturb, hubSkew))
      marker.getParentFile.mkdirs(); marker.createNewFile()
      System.err.println(f"[scale] replication took $sec%.1f s")
    }

    spark.range(1000).select(avg(col("id"))).write
      .format("noop").mode("overwrite").save()

    def measure(dir: String): Map[String, Double] = {
      // subset runs time self-contained families (the dedup/pair queries
      // train nothing) — skip the full-artifact warm; iteration 1 of the
      // best-of-2 loop is the warm pass
      if (subset.isEmpty) {
        System.err.println(s"[scale] warming artifacts for $dir")
        val warmSec = timed(SparkEntry.warmArtifacts(spark, dir))
        System.err.println(f"[scale] warm $warmSec%.1f s; timing catalog")
      } else System.err.println(
        s"[scale] subset ${sys.env.getOrElse("SPARK_GRAFT_SCALE_QUERIES", "")} at $dir")
      SparkEntry.queries
        .filter { case (name, _) => subset.forall(_(name)) }
        .map { case (name, fn) =>
        var best = Double.MaxValue
        var i = 0
        while (i < 2) {
          val ok = try {
            val s = timed(fn(spark, dir).write.format("noop")
              .mode("overwrite").save())
            best = math.min(best, s); true
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] $name failed at $dir: ${e.getMessage.take(120)}")
              false
          }
          i += 1
        }
        name -> (if (best == Double.MaxValue) -1.0 else best)
      }
    }

    val base = measure(baseDir)
    val big = measure(bigDir)
    spark.stop()

    val measured = base.keys.toSeq.sorted.map { name =>
      (name, base(name), big(name))
    }
    resultsPath match {
      case Some(path) =>
        val lines = measured.map { case (n, t1, t10) => s"$n\t$t1\t$t10\n" }
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          lines.mkString.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        System.err.println(
          s"[scale] appended ${measured.size} rows -> $path (assemble later)")
      case None =>
        report(measured, baseDir, times, perturb, hubSkew, appendMd)
    }
  }

  private def assemble(path: String, baseDir: String, times: Int,
      perturb: Boolean, hubSkew: Boolean, appendMd: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    // last-wins per query name, so a crashed chunk can simply be re-run.
    // Torn lines (a chunk JVM killed mid-append leaves a partial final
    // line that a re-run does NOT overwrite — append-only) are skipped
    // with a warning rather than crashing the whole assembly pass.
    val rows = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path)).asScala
      .filter(_.trim.nonEmpty)
      .flatMap { l =>
        val p = l.split("\t")
        val parsed =
          if (p.length == 3)
            try Some(p(0) -> ((p(1).toDouble, p(2).toDouble)))
            catch { case _: NumberFormatException => None }
          else None
        if (parsed.isEmpty)
          System.err.println(s"[scale] WARNING skipping torn TSV line: ${l.take(80)}")
        parsed
      }
      .foldLeft(scala.collection.immutable.ListMap.empty[String, (Double, Double)])(
        _ + _)
      .toSeq.sortBy(_._1).map { case (n, (t1, t10)) => (n, t1, t10) }
    // Coverage gate (ADVICE r9 medium): the sweep's chunk regexes are
    // hand-maintained — a catalog entry matching none of them would
    // silently never reach the TSV, and folding only present rows would
    // re-create the subset-choice failure mode this probe exists to kill.
    // Diff TSV names against the FULL catalog (minus an explicit
    // regex exclusion list) and fail on any missing name.
    val excluded: String => Boolean =
      sys.env.get("SPARK_GRAFT_SCALE_EXCLUDE") match {
        case Some(spec) =>
          val res = spec.split(",").map(_.trim).filter(_.nonEmpty).map(_.r)
          n => res.exists(_.pattern.matcher(n).matches())
        case None => _ => false
      }
    val have = rows.map(_._1).toSet
    val missing = SparkEntry.queries.keys.toSeq
      .filterNot(have).filterNot(excluded).sorted
    if (missing.nonEmpty) {
      System.err.println(
        s"[scale] ASSEMBLE FAILED — ${missing.size} catalog queries have no " +
          s"sweep row (chunk regexes miss them?): ${missing.mkString(",")}")
      sys.exit(1)
    }
    report(rows, baseDir, times, perturb, hubSkew, appendMd)
  }

  private def report(measured: Seq[(String, Double, Double)], baseDir: String,
      times: Int, perturb: Boolean, hubSkew: Boolean, appendMd: Boolean): Unit = {
    def d(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val logT = math.log(times.toDouble)
    val rows = measured.map { case (name, t1, t10) =>
      val exp =
        if (t1 <= 0 || t10 <= 0) Double.NaN
        else math.log(t10 / t1) / logT
      (name, t1, t10, exp)
    }
    // The machine-checked "survives 100×" gate (VERDICT r8 #1): any
    // non-overhead query whose exponent exceeds the super-linear
    // threshold without an output-growth explanation FAILS the probe
    // (exit 1) — this is how the r6 LSH bucket collapse would have been
    // caught mechanically instead of by choosing the right subset.
    // 1.1 leaves noise margin over linear (=1.0, the correct shape for
    // scans/aggs); under perturbed replicas outputs stay ~linear so
    // NOTHING is excused; under exact replicas the pair reporters'
    // C(times,2) output growth is legitimate.
    val outputDriven: Set[String] =
      if (perturb) Set.empty
      else Set("dedup_simhash_pairs", "dedup_minhash_pairs",
        "lsh_neardup", "dedup_components", "dedup_embedding",
        "multimodal_phash_pairs", "dedup_jaccard_topk_banded")
    val superlinear = rows.collect {
      case (n, t1, t10, e)
        if t1 >= 0.3 && t10 > 0 && !e.isNaN && e > 1.1 &&
          !outputDriven(n) => n
    }
    val failed = rows.collect { case (n, t1, t10, _) if t1 < 0 || t10 < 0 => n }
    val json = rows.map { case (n, t1, t10, e) =>
      val es = if (e.isNaN) "null" else d(e, 3)
      s""""$n":{"base_sec":${d(t1, 3)},"x${times}_sec":${d(t10, 3)},"exponent":$es}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"scale_probe","times":$times,"base":"$baseDir",""" +
      s""""superlinear":${superlinear.sorted.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")},""" +
      s""""probe_failed":${failed.sorted.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")},""" +
      s""""queries":$json}"""
    println(line)
    System.err.println(line)

    val md = new StringBuilder
    val flavor =
      if (hubSkew) "HUB-SKEWED replicas"
      else if (perturb) "PERTURBED replicas" else "exact replicas"
    if (appendMd)
      md ++= s"\n## ${times}× probe — $flavor at $baseDir\n\n"
    else {
      md ++= s"# SCALING — catalog at $baseDir vs ${times}× replicated corpus ($flavor)\n\n"
      md ++= s"Per-query scaling exponent `log$times(t_x$times/t_base)`: ~1.0 = linear\n"
      md ++= "in corpus size, < 1 = overhead-bound at this scale, sensibly > 1 =\n"
      md ++= "super-linear (candidate blowup / skew — investigate; the probe\n"
      md ++= "EXITS NONZERO on any non-overhead exponent > 1.1 without an\n"
      md ++= "output-growth explanation). Queries with\n"
      md ++= "base time < 0.3 s are marked `ovh` (Spark's per-job floor dominates\n"
      md ++= "— their exponents are not scaling signal). Serving batches\n"
      md ++= "(vec_id < 20 query slices) stay constant while corpora grow, so\n"
      md ++= "retrieval queries scale with the CORPUS side only.\n\n"
    }
    if (hubSkew) {
      md ++= "Replicas keep `l_suppkey` UNSHIFTED: every supplier is a\n"
      md ++= s"$times-degree hub emitter while the part side fans out into\n"
      md ++= s"$times× sinks — the adversarial skew shape for iterative graph\n"
      md ++= "ops (a few src keys own everything).\n\n"
    }
    if (perturb) {
      md ++= "Replicas here are made mutually DISSIMILAR (per-replica token\n"
      md ++= "suffix on every word; embeddings cyclically coordinate-shifted +\n"
      md ++= "sign-flipped — an L2 isometry that keeps LSH hash distributions\n"
      md ++= "healthy), so near-dup pair outputs stay ~linear and the exponent\n"
      md ++= "measures the banded/bucketed candidate machinery itself —\n"
      md ++= "exact-replica runs conflate it with C(times,2) output\n"
      md ++= s"growth, which at 100× would be ~4950 pairs per base doc.\n\n"
    }
    if (!appendMd && !perturb && !hubSkew) {
      md ++= s"Replication caveat: every base doc gains ${times - 1} exact replicas, so\n"
      md ++= s"near-dup PAIR queries legitimately emit ~C($times,2)× more rows\n"
      md ++= "per base doc — their exponents measure output growth, not\n"
      md ++= "a candidate blowup; the banded/bucketed candidate generation is\n"
      md ++= "what keeps them off the quadratic cliff.\n\n"
    }
    md ++= "| query | base s | x" + times + " s | exponent | note |\n"
    md ++= "|---|---|---|---|---|\n"
    // near-dup PAIR reporters: replicas make their OUTPUT grow ~C(times,2)
    // per base doc (see caveat above) — exponent is output-driven there
    val pairOutput = Set("dedup_simhash_pairs", "dedup_minhash_pairs",
      "lsh_neardup", "dedup_components", "dedup_embedding",
      "multimodal_phash_pairs", "dedup_jaccard_topk_banded")
    // stable per-query context the raw exponent can't carry (design
    // facts, not measurements)
    val curateMemoNote = "session-memoized chain (r15): best-of-2 takes " +
      "the post-build staged-read path, so this row measures accounting " +
      "reads; the chain's own scaling witnesses are pipeline_curate_corpus " +
      "(gate/LM/dedup/trim spine, un-memoized) and pipeline_curate_pack " +
      "(r16: + tokenize->pack, covering the tokenizer-true export's " +
      "compute path), and the build is reported per bench run as " +
      "curate_chain_build_sec"
    val explain = Map(
      "dedup_semdedup" -> ("k derived from n (autoCells) — expected cell " +
        "size stays flat as the corpus grows"),
      "dedup_semdedup_fixedk" -> ("fixed k=16 oracle fixture: cell size " +
        "grows with n BY DESIGN; the production shapes are " +
        "dedup_semdedup (derived k) and _refined (+cap recovery)"),
      "pipeline_curate_corpus_full" -> curateMemoNote,
      "pipeline_curate_funnel" -> curateMemoNote,
      "pipeline_curate_export" -> curateMemoNote)
    rows.sortBy { case (_, _, _, e) => -(if (e.isNaN) -99 else e) }
      .foreach { case (n, t1, t10, e) =>
        // design-fact notes print ALONGSIDE the mechanical flag — an
        // "ovh" row can still need its context (the memoized curate
        // reads are sub-0.3 s by design, and saying only "ovh" would
        // hide where the chain's real scaling signal lives)
        val flag =
          if (t1 < 0 || t10 < 0) "FAILED (see stderr)"
          else if (pairOutput(n) && !perturb) s"pair output ×C($times,2)"
          else if (t1 < 0.3) "ovh"
          else if (e > 1.15) "SUPER-LINEAR"
          else ""
        val note = Seq(flag, explain.getOrElse(n, ""))
          .filter(_.nonEmpty).mkString("; ")
        val es = if (e.isNaN) "—" else d(e, 2)
        md ++= s"| $n | ${d(t1, 3)} | ${d(t10, 3)} | $es | $note |\n"
      }
    val valid = rows.filter { case (_, t1, t10, e) => t1 >= 0.3 && t10 > 0 && !e.isNaN }
    if (valid.nonEmpty) {
      val med = valid.map(_._4).sorted.apply(valid.size / 2)
      md ++= f"\nMedian exponent over ${valid.size} non-overhead queries: $med%.2f\n"
    }
    val mdPath = java.nio.file.Paths.get("SCALING.md")
    if (appendMd)
      java.nio.file.Files.write(mdPath, md.toString.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    else
      java.nio.file.Files.write(mdPath, md.toString.getBytes("UTF-8"))
    if (superlinear.nonEmpty || failed.nonEmpty) {
      System.err.println(
        s"[scale] PROBE FAILED — super-linear: ${superlinear.mkString(",")}" +
          s" errored: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
