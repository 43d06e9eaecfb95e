package graft.pipeline

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet/Wenzek-style LM
  * fluency gate (docs scored by a corpus-trained LM; low mean log-prob =
  * boilerplate/gibberish, the classic pretraining-data filter). The
  * production form is a KenLM 5-gram; this self-contained bigram form has
  * the same dataflow (count tables + a per-token join + a per-doc fold)
  * and is exactly oracle-replayable.
  *
  * Model: p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)  (add-one smoothing;
  * c(w1) sums over the bigram table so the conditional normalizes; V =
  * distinct vocabulary size). Score(doc) = mean log p over the doc's
  * bigrams, folded in POSITION order (unordered float sums are banned by
  * the library's determinism contract).
  *
  * Scale: the model is two hash-aggregated count tables (distinct-bigram
  * and distinct-token sized, ≪ corpus tokens); scoring is one join of the
  * doc bigram stream against them (broadcast when the vocab fits, shuffle
  * hash join otherwise) and a per-doc window/fold — no driver state.
  */
object NgramLM {

  /** (bigrams(w1, w2, c), unigrams(w1, cw), V). */
  case class Model(bigrams: DataFrame, unigrams: DataFrame, vocabSize: Long)

  private def tokenStream(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol),
        posexplode(filter(TextAnalysis.tokens(col(textCol)),
          t => length(t) > 0)).as(Seq("pos", "w")))

  /** The per-doc bigram stream (idCol, pos, w1, w2): adjacent token
    * pairs built per ROW from the doc's own token array and exploded —
    * a narrow map, NO shuffle. (r16: this replaced a
    * `lead().over(partitionBy(doc))` form — the window shuffled the
    * entire corpus token stream once per consumer pass, three times
    * inside `train`+model materialization alone, for adjacency that
    * the token array already holds.) `__t` is materialized in its own
    * projection first (the HOF no-CSE discipline — `transform` gets no
    * codegen subexpression elimination, so building pairs directly on
    * `split(text)` would re-run the split per element). */
  private def bigramStream(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol),
        filter(TextAnalysis.tokens(col(textCol)),
          t => length(t) > 0).as("__t"))
      .select(col(idCol), posexplode(expr(
        """CASE WHEN size(__t) >= 2 THEN
          |  transform(sequence(0, size(__t) - 2),
          |    i -> struct(__t[i] AS w1, __t[i + 1] AS w2))
          |ELSE CAST(array() AS array<struct<w1:string,w2:string>>)
          |END""".stripMargin)).as(Seq("pos", "__bg")))
      .select(col(idCol), col("pos"), col("__bg.w1"), col("__bg.w2"))

  /** ONE-corpus-pass model source (r18, VERDICT r17 #2): the
    * (w1, w2, c) count table where w2 is NULLABLE — every token
    * occurrence t[i] emits exactly one row (w1 = t[i], w2 = t[i+1], or
    * NULL when t[i] is the doc's last token), then one hash
    * aggregation. From this single table:
    *   · [[bigramsFrom]] (drop the w2-null rows) is byte-identical to
    *     the old two-pass `bigramCounts` — for docs with ≥ 2 tokens the
    *     emitted (t[i], t[i+1]) pairs are the same, and w2-null rows
    *     only exist for last tokens;
    *   · distinct w1 is exactly the distinct vocabulary (every token
    *     occurrence appears as w1 once), so [[vocabCountFrom]] equals
    *     the old `vocabCount`'s second full tokenize+distinct pass.
    * The corpus is tokenized ONCE per model build instead of twice —
    * at 100 TB the removed pass is corpus-sized. Table size: distinct
    * bigrams + distinct last-tokens, same magnitude as the bigram
    * table. */
  def pairCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        filter(TextAnalysis.tokens(col(textCol)),
          t => length(t) > 0).as("__t"))
      .select(explode(expr(
        """CASE WHEN size(__t) >= 1 THEN
          |  transform(sequence(0, size(__t) - 1),
          |    i -> struct(__t[i] AS w1,
          |      CASE WHEN i < size(__t) - 1 THEN __t[i + 1] END AS w2))
          |ELSE CAST(array() AS array<struct<w1:string,w2:string>>)
          |END""".stripMargin)).as("__bg"))
      .select(col("__bg.w1"), col("__bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))

  /** The (w1, w2, c) bigram table from a (possibly materialized)
    * [[pairCounts]] table — drop the last-token marker rows. */
  def bigramsFrom(pairs: DataFrame): DataFrame =
    pairs.where(col("w2").isNotNull)

  /** Distinct-vocabulary size off a (possibly materialized)
    * [[pairCounts]] table — table-sized, no corpus pass. */
  def vocabCountFrom(pairs: DataFrame): Long =
    pairs.select("w1").distinct().count()

  /** Distinct-bigram count table (w1, w2, c) — [[train]]'s first half,
    * kept for callers that only need bigrams (one pass either way). */
  def bigramCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramStream(docs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))

  /** (w1, cw) from a (possibly materialized) bigram count table. */
  def unigramsFrom(bigrams: DataFrame): DataFrame =
    bigrams.groupBy("w1").agg(sum("c").as("cw"))

  /** Distinct-vocabulary size — one narrow explode + partial-agg
    * distinct count. Prefer [[vocabCountFrom]] over a materialized
    * [[pairCounts]] when a model is being built: this form re-scans
    * the corpus. */
  def vocabCount(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Long =
    tokenStream(docs, idCol, textCol).select("w").distinct().count()

  /** Build the model in ONE corpus pass: the nullable-next pair table
    * is staged (localCheckpoint — within-run, session-lifetime), vocab
    * and both count tables derive from it. Value-identical to the old
    * bigramCounts + vocabCount two-pass form (see [[pairCounts]]). */
  def train(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Model = {
    val pairs = pairCounts(docs, idCol, textCol).localCheckpoint()
    val big = bigramsFrom(pairs)
    Model(big, unigramsFrom(big), vocabCountFrom(pairs))
  }

  /** (idCol, n_bigrams, avg_logp): mean log p(w2|w1) per document, the
    * position-ordered sequential fold. Docs with fewer than two tokens
    * have no bigrams and are absent (a length gate runs before an LM gate
    * in any real pipeline). Unseen bigrams/tokens smooth to
    * (0+1)/(0|cw + V) — scoring held-out text works, not just the
    * training corpus. */
  def score(docs: DataFrame, model: Model, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val logp: Column =
      log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
        (coalesce(col("cw"), lit(0L)) + lit(model.vocabSize.toDouble)))
    bigramStream(docs, idCol, textCol)
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams, Seq("w1"), "left")
      .select(col(idCol), col("pos"), logp.as("lp"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("lp")))).as("a"))
      .select(col(idCol),
        size(col("a")).cast("long").as("n_bigrams"),
        (aggregate(col("a"), lit(0.0),
          (acc, s) => acc + s.getField("lp")) / size(col("a"))).as("avg_logp"))
  }

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): split
    * the corpus into thirds by LM fluency — `head` = most fluent
    * (highest mean log-prob = lowest perplexity), the slice pretraining
    * recipes keep or upweight. CCNet computes its percentile cutoffs
    * ONCE on a reference sample and applies them as constants; this
    * re-expression does the same in-plan: cutoffs are exact tertile
    * order statistics of a `sampleK`-doc deterministic uniform sample
    * (the k smallest md5 ranks — [[Sampling.hashReservoir]]'s rule, so
    * the sample is the SAME at any cluster size), then every doc
    * buckets by a broadcast CASE. Scale shape: the only sort is over
    * the ≤`sampleK`-row sample; the corpus side is one scan + one
    * broadcast nested-loop join against a single cutoff row. Ties at a
    * cutoff take the better bucket (>= comparisons on the micro grid).
    *
    * @param scored output of [[score]] — (idCol, n_bigrams, avg_logp)
    * @return (idCol, lm_micro, bucket) with bucket ∈ head|middle|tail
    */
  def ccnetBuckets(scored: DataFrame, sampleK: Int = 300,
      seed: Long = 42L, idCol: String = "doc_id"): DataFrame = {
    val micro = lmMicro(scored, idCol)
    micro.crossJoin(broadcast(cutsFrame(micro, sampleK, seed, idCol)))
      .select(col(idCol), col("lm_micro"),
        when(col("lm_micro") >= col("__t1"), "head")
          .when(col("lm_micro") >= col("__t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** [[ccnetBuckets]] with the cutoff sample SCORED FROM ITS OWN DOCS
    * (r17): `ccnetBuckets(scored)` can only derive its cutoff sample
    * from the scored frame, so materializing its output ran the
    * full-corpus LM pass TWICE — once for the bucket CASE side and
    * once inside the broadcast cutoff subplan (measured: the LM score
    * is the curation chain's single most expensive stage). The md5
    * sample rank depends only on `idCol`, and sample MEMBERSHIP only
    * on "has ≥ 1 bigram" (= ≥ 2 non-empty tokens — [[score]]'s own
    * domain), so selecting the `sampleK` ids from the raw doc table
    * and scoring JUST those docs for the cutoffs yields bit-identical
    * cutoffs — hence bit-identical buckets — while the broadcast
    * side's cost drops from a second full-corpus pass to `sampleK`
    * docs. Callers that only hold a scored frame keep using
    * [[ccnetBuckets]].
    *
    * Precondition: `idCol` is unique in `docs`; it is not checked,
    * since a check would cost a job per call. A repeated id does not
    * fail: [[score]] groups by id, so its rows are scored as ONE doc
    * over their pooled bigrams and it gets one output row. Its rows
    * also each take a slot of the md5 cutoff sample, so when the
    * sample reaches that id the cutoffs come from fewer than `sampleK`
    * ids and can differ from `ccnetBuckets(score(docs))`. */
  def ccnetBucketsOf(docs: DataFrame, model: Model, sampleK: Int = 300,
      seed: Long = 42L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(sampleK >= 3, s"sampleK=$sampleK")
    val h = graft.functions.HashFunctions.md5_prefix(
      concat(lit(seed.toString), lit(":"), col(idCol).cast("string")), 15)
    val sampleDocs = docs
      .where(size(filter(TextAnalysis.tokens(col(textCol)),
        t => length(t) > 0)) >= 2)
      .orderBy(h.asc, col(idCol).asc).limit(sampleK)
    val cuts = cutsFrame(
      lmMicro(score(sampleDocs, model, idCol, textCol), idCol),
      sampleK, seed, idCol)
    lmMicro(score(docs, model, idCol, textCol), idCol)
      .crossJoin(broadcast(cuts))
      .select(col(idCol), col("lm_micro"),
        when(col("lm_micro") >= col("__t1"), "head")
          .when(col("lm_micro") >= col("__t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  private def lmMicro(scored: DataFrame, idCol: String): DataFrame =
    scored.select(col(idCol),
      floor(col("avg_logp") * 1000000.0 + lit(0.5)).cast("long")
        .as("lm_micro"))

  // the one-row (__t1, __t2) cutoff frame over the bounded
  // deterministic sample (the k smallest md5 ranks — cluster-size
  // independent); tertile cut ranks ceil(n/3), ceil(2n/3) in integers —
  // the window spans ≤ sampleK rows
  private def cutsFrame(micro: DataFrame, sampleK: Int, seed: Long,
      idCol: String): DataFrame = {
    require(sampleK >= 3, s"sampleK=$sampleK")
    val h = graft.functions.HashFunctions.md5_prefix(
      concat(lit(seed.toString), lit(":"), col(idCol).cast("string")), 15)
    val sample = micro.select(col(idCol), col("lm_micro"), h.as("__h"))
      .orderBy(col("__h").asc, col(idCol).asc).limit(sampleK)
    val w = Window.orderBy(col("lm_micro").desc, col(idCol).asc)
    val k1 = expr("(__n + 2) div 3")
    val k2 = expr("(__n * 2 + 2) div 3")
    sample
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      .where(col("__rn") === k1 || col("__rn") === k2)
      .agg(max(when(col("__rn") === k1, col("lm_micro"))).as("__t1"),
        max(when(col("__rn") === k2, col("lm_micro"))).as("__t2"))
  }

  /** The FROZEN-artifact form of [[ccnetBuckets]]'s cutoffs: (t1, t2)
    * on the micro grid, computed over the same bounded deterministic
    * sample — the pair a batch curation job freezes and the streaming
    * door ([[graft.streaming.IncrementalCuration.FrozenArtifacts]])
    * reads as a constant. `lm_micro >= t2` is exactly `bucket !=
    * "tail"`, `>= t1` exactly `bucket == "head"` (ties take the better
    * bucket, the `>=` rule). The collect is ONE row. */
  def cutoffsMicro(scored: DataFrame, sampleK: Int = 300,
      seed: Long = 42L, idCol: String = "doc_id"): (Long, Long) = {
    val r = cutsFrame(lmMicro(scored, idCol), sampleK, seed, idCol).head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      "cutoffsMicro: no scored docs to sample")
    (r.getLong(0), r.getLong(1))
  }
}
