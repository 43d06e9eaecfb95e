package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PerfbenchPack
import graft.index.ArtifactCache
import graft.pipeline.{Contamination, Dedup, NgramLM, Sampling, TextAnalysis, Unigram}

/** Document counts and redundancy shares of the `curate` input. */
final case class CurateSize(base: Int, spanShare: Double, spanPool: Int,
    exactCopies: Double, nearCopies: Double)

/** `curate`: the LLM curation chain — gate, LM buckets, exact and fuzzy
  * dedup, span trim, decontamination, per-source budget, tokenize, pack —
  * in the stage order of the engine's curated export, composed from the
  * pipeline objects' public functions and the export's own pack. Each stage is a staged write
  * (localCheckpoint), as in the engine's chain. */
final class Curate(spark: SparkSession, seed: Long, sz: CurateSize, dir: String)
    extends Workload {
  import spark.implicits._
  private val SeqLen = 128

  private var docs: DataFrame = _
  private var generated = Map.empty[String, Double]

  // the last round's stage frames
  private var stages = Seq.empty[(String, DataFrame)]
  private var candidatePairs: DataFrame = _
  private var confirmedPairs: DataFrame = _
  private var tokenIds: DataFrame = _
  private var packed: DataFrame = _

  def setup(t: Tracer, req: String): Map[String, Double] = {
    val (rows, shares) = Gen.Documents(seed, sz.base, sz.spanShare, sz.spanPool,
      sz.exactCopies, sz.nearCopies).rows()
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents")
    docs = spark.read.parquet(s"$dir/documents")
    generated = shares
    Map.empty
  }

  def release(): Unit = ArtifactCache.clear()

  private def microUnits(x: Column): Column =
    floor(x.cast("double") * 1e6 + lit(0.5)).cast("long")

  def round(t: Tracer, req: String): RoundOut = {
    def staged(layer: String)(df: => DataFrame): DataFrame =
      t.span(layer, req)(df.localCheckpoint())

    val (_, secs) = Workload.seconds {
      val gate = staged("pipeline.gate") {
        TextAnalysis.gopherRules(docs)
          .where(col("pass_words") && col("pass_mwl") &&
            col("pass_alpha") && col("pass_symbol"))
          .select(col("doc_id"), col("n_words"))
      }
      val kept = t.span("pipeline.lm", req) {
        val pairs = ArtifactCache.frame(spark, s"$req/lm/pairs")(
          NgramLM.pairCounts(docs))
        val bigrams = NgramLM.bigramsFrom(pairs)
        val model = NgramLM.Model(bigrams,
          ArtifactCache.frame(spark, s"$req/lm/unigrams")(
            NgramLM.unigramsFrom(bigrams)),
          NgramLM.vocabCountFrom(pairs))
        val buckets = NgramLM.ccnetBucketsOf(docs, model, sampleK = 300)
          .where(col("bucket") =!= "tail").select(col("doc_id"), col("bucket"))
        docs.select("doc_id", "source", "text").join(gate, Seq("doc_id"))
          .join(buckets, Seq("doc_id")).localCheckpoint()
      }
      val canon = staged("pipeline.exact_dedup")(Dedup.exactDedup(kept))
      val cands = staged("pipeline.lsh") {
        Dedup.lshCandidatePairs(Dedup.minhashSignatures(canon, numPerms = 8),
          rowsPerBand = 4)
      }
      val confirmed = staged("pipeline.jaccard") {
        Dedup.jaccardPairsByHash(canon, cands)
          .where(col("jaccard") >= 0.5).select("a", "b")
      }
      val comp = t.span("pipeline.components", req) {
        Dedup.connectedComponentsAuto(confirmed)
      }.select(col("v").as("doc_id"), col("comp").as("component"))
      val canonSurv = staged("pipeline.canonical") {
        val withComp = canon.select("doc_id").join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
        val q = TextAnalysis.qualityScore(canon)
          .select(col("doc_id"), microUnits(col("quality_score")).as("score"))
        val surv = Dedup.canonicalByScore(withComp, q).where(col("kept"))
          .select("doc_id")
        canon.join(surv, Seq("doc_id"), "left_semi")
      }
      val trimmed = staged("pipeline.suffix_trim") {
        val trim = Dedup.suffixDupTrim(canonSurv, minLen = 5, cap = 24)
        canonSurv.select("doc_id", "source", "bucket")
          .join(trim.select(col("doc_id"),
            col("n_kept").cast("long").as("n_words"), col("text")),
            Seq("doc_id"))
      }
      val clean = staged("pipeline.decontam") {
        val bench = docs.where(col("doc_id") < 10)
          .select(col("doc_id").as("bench_id"),
            substring(col("text"), 21, 80).as("text"))
        val hit = Contamination.screen(trimmed, bench, n = 5, minShared = 3)
          .select("doc_id").distinct()
        trimmed.join(hit, Seq("doc_id"), "left_anti")
      }
      val admitted = staged("pipeline.budget") {
        val srcNum = substring(col("source"), 4, 10).cast("long")
        val budgets = clean.select("source").distinct()
          .where(pmod(srcNum, lit(5L)) =!= 4L)
          .withColumn("budget", lit(400L) + pmod(srcNum, lit(5L)) * 200L)
        Sampling.tokenBudgetPerGroup(clean.drop("text"), "source", budgets,
          nTokCol = "n_words")
      }
      val ids = staged("pipeline.tokenize") {
        val model = Unigram.train(docs, vocabSize = 48, maxPieceLen = 4,
          seedSize = 200, nIters = 4)
        Unigram.tokenizeIds(trimmed.select("doc_id", "text")
          .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi"), model)
      }
      packed = staged("pipeline.pack")(PerfbenchPack.pack(ids))

      stages = Seq("raw" -> docs, "gopher_gate" -> gate, "lm_headmid" -> kept,
        "exact_dedup" -> canon, "fuzzy_canonical" -> canonSurv,
        "span_trimmed" -> trimmed, "decontaminated" -> clean,
        "budget_admitted" -> admitted)
      candidatePairs = cands
      confirmedPairs = confirmed
      tokenIds = ids
    }
    ArtifactCache.clear()
    RoundOut(Map("curate_s" -> secs), Nil, 12)
  }

  private var funnel = Seq.empty[(String, Long)]
  private var confirmRatio = 0.0

  def check(c: Checks): Unit = {
    funnel = stages.map { case (n, df) => n -> df.count() } :+
      ("tokenized" -> tokenIds.count())
    confirmRatio = confirmedPairs.count().toDouble /
      math.max(1L, candidatePairs.count())
    c("survivor counts never increase from stage to stage") {
      funnel.map(_._2).sliding(2).forall { case Seq(a, b) => b <= a }
    }
    c("every packed sequence holds at most 128 tokens") {
      packed.agg(max("n_tokens")).head().getLong(0) <= SeqLen
    }
    c("packed token sum equals tokenized token sum") {
      packed.agg(sum("n_tokens")).head().getLong(0) ==
        tokenIds.agg(sum("n_tokens")).head().getLong(0)
    }
  }

  def facts: Map[String, Any] = generated ++ Map(
    "funnel" -> funnel.toMap,
    "pipeline.jaccard.confirm_ratio" -> confirmRatio)
}
