package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All hashing is md5-derived (`conv(substr(md5(x),1,15),16,10)`) so every
  * stage is reproducible in the DuckDB oracle
  * (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`) — no engine-private hash
  * functions in the contract surface.
  *
  * Scale posture: signatures/simhash are per-row (zero shuffle); exact-dup
  * grouping is one hash-partitioned groupBy; MinHash-LSH candidate
  * generation shuffles only (band, doc) pairs — never the O(n²) pair space.
  */
object Dedup {

  /** 2^31 − 1: Mersenne prime modulus for the permutation family. */
  val P: Long = 2147483647L

  /** Fixed deterministic permutation family (a·h + b mod P). */
  val PermA: Seq[Long] = Seq(1103515245L, 69069L, 1664525L, 22695477L,
    1103515249L, 69067L, 1664527L, 22695479L)
  val PermB: Seq[Long] = Seq(12345L, 362437L, 1013904223L % P, 1L,
    54321L, 362439L, 1013904221L % P, 7L)

  /** Whitespace word tokenizer (lowercased). */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Explode-heavy stages amplify row counts ~100×, so a small input file
    * that parquet maps to 1-2 splits would run the whole pipeline on 1-2
    * cores. Repartition ONLY when the input has fewer partitions than the
    * cluster has slots — a trivial shuffle for small inputs, a no-op at
    * scale (large inputs already split).
    */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // file count approximates source parallelism without forcing a full
    // physical-planning pass (df.rdd would plan the query once just to
    // read a partition count, then the real query plans again). A
    // non-file-backed input (inputFiles empty: in-memory, post-shuffle)
    // already has real parallelism — never force a shuffle onto it.
    val files = df.inputFiles.length
    if (files > 0 && files < target) df.repartition(target) else df
  }

  /** n-word shingles as strings: tokens[i..i+n-1] joined by one space.
    * Docs with fewer than n tokens yield an EMPTY array — without the
    * guard, `sequence(0, size-n)` with size<n produces a descending range
    * and element_at throws (ANSI) on the whole job.
    */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))

  /** 60-bit hash from the md5 hex prefix — portable to the oracle.
    * Codegen'd (no intermediate hex/decimal strings); bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)`.
    */
  def md5Hash60(s: Column): Column =
    graft.functions.HashFunctions.md5_prefix(s, 15)

  /** 32-bit hash from the md5 hex prefix. */
  def md5Hash32(s: Column): Column =
    graft.functions.HashFunctions.md5_prefix(s, 8)

  // -------------------------------------------------------------------
  // Exact dedup: hash-groupBy (one shuffle on the content hash)
  // -------------------------------------------------------------------

  /** Duplicate-group REPORT: (text_hash, n_docs, canonical_id = min
    * doc_id, sample_ids = the `sampleK` smallest member ids). Every
    * column is a bounded aggregate — the id sample runs through the
    * bounded top-k heap ([[graft.search.TopK.minIds]]), so a
    * boilerplate document duplicated 10⁸× costs one k-slot buffer, not
    * one 10⁸-element array cell (the unbounded `collect_list` this
    * replaced was the report's only scale hazard; StressSpec pins the
    * 1e5-dup adversary). Full membership, when a consumer really needs
    * it, is the EXPLODED table — a plain projection the caller already
    * has: `docs.select(md5(text) as text_hash, doc_id)` — never an
    * array cell.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sampleK: Int = 8): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("canonical_id"),
        graft.search.TopK.minIds(sampleK)(col(idCol)).as("sample_ids"))

  /** Keep one representative per distinct content (the min-id row).
    *
    * Shape: ONE min-on-(id-first struct) aggregation — map-side partials
    * reduce a 10⁸× duplicate group to one row per task before the
    * shuffle, and there is no window to depend on Spark's
    * InferWindowGroupLimit rescue (the previous `row_number = 1` form
    * was rescued TODAY, but one innocent refactor — a non-literal
    * limit, a second window column — would silently revert it to a
    * single-task per-hash sort; an aggregate can't regress that way).
    * Ids are unique, so min-struct comparison stops at the first field
    * and never orders by payload columns — but Spark's analyzer still
    * requires every struct field ORDERABLE, so a frame carrying a
    * MapType (or other unorderable) payload takes the two-pass form:
    * min(id) per hash, then a semi-join back on the (unique) id. Same
    * kept set, same map-side-partial scale posture, one extra corpus
    * scan. This is the ONE exact-dedup shape — the curation pipelines
    * reuse it rather than re-deriving their own (VERDICT r10 #4).
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cols = docs.columns.toSeq
    val orderable = docs.schema.fields.forall(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
    if (orderable) {
      val ordered = col(idCol) +: cols.filterNot(_ == idCol).map(col)
      docs.groupBy(md5(col(textCol).cast("binary")).as("__h"))
        .agg(min(struct(ordered: _*)).as("__r"))
        .select(cols.map(c => col(s"__r.`$c`").as(c)): _*)
    } else {
      val canonIds = docs
        .groupBy(md5(col(textCol).cast("binary")).as("__h"))
        .agg(min(col(idCol)).as(idCol))
        .select(idCol)
      docs.join(canonIds, Seq(idCol), "left_semi")
    }
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** Per-doc MinHash signature: sig_i = min over shingles of
    * (a_i·(h mod P) + b_i) mod P.
    * Output: (idCol, n_shingles, sig ARRAY<LONG> length numPerms).
    *
    * Shape: explode distinct shingles → hash each ONCE → groupBy(doc) with
    * one `min` aggregate per permutation. The tempting all-in-one-Project
    * form (numPerms × `array_min(transform(hashes, …))`) inlines the whole
    * shingle+md5 pipeline once per permutation and its nesting depth kicks
    * the row out of whole-stage codegen — measured 400× slower. Here every
    * md5 is computed once and the mins partial-aggregate map-side, so the
    * shuffle carries one row per (doc, shingle) hash — linear, skew-free.
    *
    * Docs with fewer than shingleN tokens have no shingles and are dropped
    * (a degenerate corpus row, not a document).
    */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numPerms: Int = 4, shingleN: Int = 3): DataFrame = {
    require(numPerms <= PermA.length)
    // pre-split projection: the token array materializes once per row;
    // fusing split(lower(text)) into the gram lambda re-runs the regex
    // split per element_at (measured 20× slower when the fused
    // expression loses codegen subexpression elimination)
    val exploded = ensureParallelism(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(array_distinct(shingles(col("__toks"), shingleN))).as("__sh"))
    val hashed = exploded.select(col(idCol),
      pmod(md5Hash60(col("__sh")), lit(P)).as("__h"))
    val mins = (0 until numPerms).map { i =>
      min(pmod(lit(PermA(i)) * col("__h") + lit(PermB(i)), lit(P))).as(s"__m$i")
    }
    val aggs = count(lit(1)).as("n_shingles") +: mins
    hashed.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), col("n_shingles"),
        array((0 until numPerms).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH banding: the signature splits into `size(sig)/rowsPerBand` bands of
    * `rowsPerBand` values; docs sharing any full band become candidate pairs
    * (a < b). Shuffles (band_key, doc) — O(n·bands), never the O(n²) pair
    * space.
    *
    * `maxBucket` caps the self-join's per-key fan-out: a band key shared by
    * B docs yields B²/2 candidates inside ONE join task, so a degenerate
    * bucket (e.g. boilerplate text dominating the band's min-hashes) turns
    * the linear shape quadratic. Buckets above the cap are dropped — at
    * those sizes pairwise confirmation is never the right tool (a
    * 1k-doc bucket is 500k candidate pairs; exact-hash grouping or a
    * re-banding with more rows per band handles it instead). The count
    * aggregates map-side, so the hot key never lands in a single task.
    */
  /** The band keys of a `sig` column, as one exploded expression — THE
    * definition of banding (shared by the batch path here and the
    * streaming store in IncrementalDedup: a document must hash to the
    * same bands in both worlds). */
  def bandKeys(sigCol: Column, rowsPerBand: Int): Column =
    explode(transform(
      sequence(lit(0), (size(sigCol) / rowsPerBand).cast("int") - 1),
      b => concat(b.cast("string"), lit(":"),
        concat_ws(",", slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand))))))

  def lshCandidatePairs(sigs: DataFrame, idCol: String = "doc_id",
      rowsPerBand: Int = 2, maxBucket: Int = 1000): DataFrame = {
    // narrow (id, band_key) table materialized once: it feeds the bucket
    // count and both self-join sides — external callers would otherwise
    // re-run the whole upstream signature pipeline ~3× (SparkEntry's
    // dir-memoized signature store makes this a cheap re-checkpoint)
    val banded = sigs.select(col(idCol).as("id"),
      bandKeys(col("sig"), rowsPerBand).as("band_key"))
      .localCheckpoint()
    val okKeys = banded.groupBy("band_key").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket).select("band_key")
    val capped = banded.join(okKeys, Seq("band_key"))
    capped.as("x").join(capped.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** Connected components over an undirected edge list — the dedup
    * finishing step that turns confirmed near-dup PAIRS into duplicate
    * CLUSTERS (component id = min member id, the canonical doc to keep).
    *
    * Iterative min-label propagation with path-halving: each round every
    * vertex adopts the smallest label in its closed neighborhood (one
    * shuffle join + map-side-partial min aggregate), then labels shortcut
    * through their parents (comp(v) := comp(comp(v)), a self-join on |V|),
    * giving O(log n) rounds like large-star/small-star rather than
    * O(diameter). No driver-side graph state — labels are a DataFrame;
    * `localCheckpoint` per round truncates the otherwise-exponential
    * lineage. Converges in 2-3 rounds on LSH dup clusters (near-cliques).
    *
    * Returns (v, comp) for every vertex that appears in an edge.
    *
    * PRECONDITION: scopes session conf via [[graft.core.RoundLayout]] —
    * don't plan unrelated queries on the same SparkSession concurrently
    * with this call (see RoundLayout's scaladoc).
    */
  def connectedComponents(edges: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIter: Int = 20): DataFrame = {
    // two-phase build + derived round width (r17, the PageRank
    // pattern): the symmetrized edge set lands once under stock AQE,
    // then is pinned hash(dst) at the derived width — the per-round
    // neighbor join probes it by dst, so the edge set never
    // re-shuffles across rounds (a plain localCheckpoint records
    // UnknownPartitioning under AQE and the r16 plan re-exchanged the
    // edges every round); only the nodes-sized label frames move.
    val sym0 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    val p = graft.core.RoundLayout.roundPartitions(sym0, sym0.count())
    graft.core.RoundLayout.withShufflePartitions(sym0, p) {
      val sym = graft.core.RoundLayout.ckptKeepPartitioning(
        sym0.repartition(p, col("dst")))
      var labels = graft.core.RoundLayout.ckptKeepPartitioning(
        sym0.select(col("src").as("v")).distinct()
          .select(col("v"), col("v").as("comp"))
          .repartition(p, col("v")))
      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        val nbrMin = sym
          .join(labels.select(col("v").as("dst"), col("comp").as("ncomp")),
            Seq("dst"))
          .groupBy(col("src").as("v")).agg(min("ncomp").as("nmin"))
        // carry the pre-round label alongside the new one so
        // convergence detection is a filter over the SAME checkpointed
        // frame — a third |V| join (updated ⨝ labels) would be one
        // full shuffle per round for nothing but a boolean
        val propagated = labels.join(nbrMin, Seq("v"), "left")
          .select(col("v"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
            col("comp").as("old"))
        // path halving: comp(v) := comp(comp(v)) — labels are vertex
        // ids (mins of vertex-id sets), so the parent lookup is a |V|
        // self-join
        val updated = propagated.as("x")
          .join(propagated.select(col("v").as("comp"),
            col("comp").as("pcomp")), Seq("comp"))
          .select(col("v"), col("pcomp").as("comp"), col("old"))
          // LAZY checkpoint: the convergence probe right below runs
          // the round and stores it in one job instead of two
          .localCheckpoint(false)
        // labels only ever decrease; any strict decrease means another
        // round — read off the checkpointed blocks, zero extra joins
        val changed =
          updated.where(col("comp") < col("old")).limit(1).count() > 0
        labels = updated.select("v", "comp")
        converged = !changed
        it += 1
      }
      labels
    }
  }

  /** [[connectedComponents]] with a size-gated DRIVER shortcut: a
    * confirmed near-dup pair list that fits `maxDriverEdges` (default
    * 100k edges ≈ 1.6 MB of longs) is union-found on the driver in one
    * collect — identical output semantics (component id = min member) —
    * while anything larger takes the distributed min-label propagation
    * unchanged. Rationale: the distributed path costs 3 fixed jobs per
    * round (two localCheckpoints + a convergence probe) regardless of
    * graph size, so a composed pipeline whose confirm stage emits a few
    * thousand pairs pays ~2 s of pure scheduling for a graph that
    * union-finds in microseconds. The gate is ONE count over the edge
    * list (callers hold it checkpointed — counting is free) and the
    * fallback is the scale path: bounded work may come to the driver,
    * anything else stays distributed. The `dedup_components` catalog entry keeps
    * calling [[connectedComponents]] directly — the distributed path
    * stays oracle-certified on its own.
    */
  def connectedComponentsAuto(edges: DataFrame, aCol: String = "a",
      bCol: String = "b", maxDriverEdges: Long = 100000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the driver path works in Longs; non-integral vertex ids (strings,
    // decimals) would silently null-cast — route them distributed, where
    // min-label works over any orderable id type
    val integralIds = {
      import org.apache.spark.sql.types._
      Seq(aCol, bCol).forall(c => edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }
    val n = if (integralIds)
      edges.limit(math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt).count()
    else Long.MaxValue
    if (n > maxDriverEdges) connectedComponents(edges, aCol, bCol)
    else {
      val pairs = edges.select(col(aCol).cast("long"), col(bCol).cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by min root: the smaller id becomes the root, so the
        // final find IS the min member — the distributed path's label
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.toSeq.map(v => (v, find(v)))
      labels.toDF("v", "comp")
    }
  }

  // -------------------------------------------------------------------
  // Exact n-gram Jaccard
  // -------------------------------------------------------------------

  /** Pairwise Jaccard over distinct shingle sets for the given pairs
    * (or all a<b pairs of `docs` when `pairs` is None — small inputs only).
    *
    * The all-pairs default plans a corpus×corpus cartesian product, so it
    * is size-guarded: above `maxAllPairsDocs` documents the call refuses
    * (one cheap count) instead of silently planning an O(n²) join —
    * generate candidates with [[lshCandidatePairs]] and confirm with
    * [[jaccardPairsByHash]] at scale.
    */
  def jaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      pairs: Option[DataFrame] = None,
      maxAllPairsDocs: Long = 10000L): DataFrame = {
    if (pairs.isEmpty) {
      val n = docs.count()
      require(n <= maxAllPairsDocs,
        s"jaccardPairs without candidate pairs is all-pairs O(n²) — $n docs " +
          s"exceeds maxAllPairsDocs=$maxAllPairsDocs; use lshCandidatePairs " +
          "+ jaccardPairsByHash instead")
    }
    val sets = ensureParallelism(docs)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        array_distinct(shingles(col("__toks"), shingleN)).as("sh"))
    val pairDf = pairs.getOrElse(
      sets.select(col("id").as("a")).crossJoin(sets.select(col("id").as("b")))
        .where(col("a") < col("b")))
    pairDf
      .join(sets.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(col("a"), col("b"),
        // two empty shingle sets (both docs shorter than the shingle
        // width) define jaccard = 0, not a division by zero
        when(size(array_union(col("sha"), col("shb"))) === 0, lit(0.0))
          .otherwise(
            size(array_intersect(col("sha"), col("shb"))).cast("double") /
              size(array_union(col("sha"), col("shb")))).as("jaccard"))
  }

  /** Jaccard for given candidate pairs via exploded shingle-hash
    * intersection counting — the scale path for LSH confirm joins. The
    * array-carrying form above ships BOTH docs' full shingle arrays through
    * the join (kilobytes per candidate row); here the join currency is
    * (id, shingle_hash60) rows of two longs. The a-side join fans a pair
    * out by its shingle count, the b-side join keeps only matching hashes,
    * and groupBy(a,b) counts intersections with map-side partials. Sizes
    * come from one per-doc count aggregate; |union| = n_a + n_b − n_inter.
    */
  def jaccardPairsByHash(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3): DataFrame = {
    // only docs that appear in a candidate pair need their shingles
    // re-expanded — the `sh` table feeds three consumers (two join sides
    // + the size aggregate), and without this restriction each one
    // re-runs the FULL-corpus explode→md5 pipeline; with it, confirm
    // work is ∝ candidates, not corpus (candidate ids ≪ corpus by
    // LSH construction, so the semi join broadcasts under AQE)
    val ids = pairs.select(col("a").as(idCol))
      .union(pairs.select(col("b").as(idCol))).distinct()
    val candDocs = ensureParallelism(docs).join(ids, Seq(idCol), "left_semi")
    val sh = candDocs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(array_distinct(shingles(col("__toks"), shingleN))).as("__sh"))
      .select(col("id"), md5Hash60(col("__sh")).as("h"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("id").as("a"), col("h")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("h")), Seq("b", "h"))
      .groupBy("a", "b").agg(count(lit(1)).as("__ni"))
    val na = coalesce(col("na"), lit(0L))
    val nb = coalesce(col("nb"), lit(0L))
    val ni = coalesce(col("__ni"), lit(0L))
    val union = na + nb - ni
    pairs
      .join(counts.select(col("id").as("a"), col("n").as("na")), Seq("a"), "left")
      .join(counts.select(col("id").as("b"), col("n").as("nb")), Seq("b"), "left")
      .join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        when(union === 0, lit(0.0)).otherwise(ni.cast("double") / union)
          .as("jaccard"))
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 32-bit SimHash over token hashes: bit b is set iff
    * Σ_tokens (2·bit_b(h(token)) − 1) > 0. Integer arithmetic throughout →
    * oracle-exact (sums are order-independent).
    *
    * Shape: explode tokens → md5 ONCE per token → one groupBy(doc) with 32
    * flat `sum` aggregates (codegen'd hash agg, map-side partials), then the
    * signature assembles from the 32 sums in a final projection. The nested
    * per-row form (32 × `aggregate(htoks, …)` folds) recomputes the md5
    * array per bit and drops out of codegen — same pathology as MinHash.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hashed = ensureParallelism(docs).select(col(idCol),
      explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), md5Hash32(col("__t")).as("__h"))
    val bitSums = (0 until 32).map { b =>
      sum((floor(col("__h") / math.pow(2.0, b)).cast("long") % 2) * 2 - 1)
        .as(s"__b$b")
    }
    val value = (0 until 32).map { b =>
      when(col(s"__b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    hashed.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), value.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming(sig_a, sig_b) ≤ maxHamming over the
    * 32-bit signatures from [[simhash]].
    *
    * Banding, not all-pairs: the 32 bits split into `bands` contiguous
    * blocks; by pigeonhole any pair within `maxHamming < bands` differing
    * bits agrees EXACTLY on at least one block, so candidates come from an
    * equality join on (band, block-bits) and the quadratic confirm runs
    * only inside blocks. `maxBucket` caps degenerate block values (e.g. a
    * boilerplate-dominated byte) exactly like the MinHash-LSH cap; the
    * default never binds at fixture scale.
    */
  def simhashPairs(sigs: DataFrame, idCol: String = "doc_id",
      sigCol: String = "simhash", maxHamming: Int = 3, bands: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    require(32 % bands == 0, "bands must divide 32")
    val bits = 32 / bands
    val mask = (1L << bits) - 1
    // materialize the (id, sig) projection once: banding feeds the bucket
    // count AND both sides of the self-join — without this, the upstream
    // signature pipeline (explode→hash→32 sums per doc) re-runs ~3×
    // (the same pathology the MinHash path's signature store avoids).
    // Checkpointing BEFORE the band explode keeps it 1× corpus rows; the
    // re-derived banding is cheap bit arithmetic.
    val sigsOnce = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .localCheckpoint()
    val banded = sigsOnce.select(col("id"), col("sig"),
      explode(array((0 until bands).map(b =>
        concat(lit(s"$b:"),
          shiftright(col("sig"), b * bits).bitwiseAND(lit(mask)))): _*))
        .as("band_key"))
    val okKeys = banded.groupBy("band_key").agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket).select("band_key")
    val capped = banded.join(okKeys, Seq("band_key"))
    capped.as("x").join(capped.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup
  // -------------------------------------------------------------------

  /** Pairs (a < b) within the same block whose cosine ≥ tau. Blocking keeps
    * the join linear-ish; at scale the block key is a coarse cluster code
    * (IVF cell) rather than a label.
    */
  def embeddingNearDup(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", blockCol: String = "label",
      tau: Double = 0.35): DataFrame = {
    import graft.functions.VectorFunctions.float_dot
    // per-row norm computed ONCE before the self-join: a block of B docs
    // makes ~B²/2 pair rows, and recomputing both self-dots per pair
    // would triple the join's per-row O(d) work
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(blockCol).as("blk"),
      sqrt(float_dot(col(vecCol), col(vecCol))).as("nrm"))
    e.as("x").join(e.as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (float_dot(col("x.v"), col("y.v")) /
          (col("x.nrm") * col("y.nrm"))).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** Scale path for embedding near-dup: no label column needed — the block
    * key is a trained IVF cell (KMeans over the embeddings themselves), so
    * the pairwise join runs within cells, O(Σ cell²) ≪ O(n²). Near-dups
    * land in the same cell by construction (they quantize to the same
    * centroid); multi-probe raises recall if τ is loose.
    */
  def embeddingNearDupIVF(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", tau: Double = 0.35,
      cells: Int = 64, seed: Long = 42L): DataFrame = {
    val docs = emb.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    val ivf = graft.search.IVFIndex.build(docs, k = cells, seed = seed)
    val blocked = emb.join(
      ivf.cells.withColumnRenamed("doc_id", idCol), Seq(idCol))
    embeddingNearDup(blocked, idCol, vecCol, blockCol = "cell", tau = tau)
  }

  /** SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup — the
    * published method for pruning paraphrase-level duplicates that no
    * lexical pass catches. K-means-cluster the embeddings, and within
    * each cluster keep, of every τ-similar group, the doc LEAST similar
    * to its centroid (the paper's keep rule: "keep the one with lowest
    * cosine similarity to the centroid" — the most atypical exemplar
    * preserves diversity). Deterministic one-pass form: keep-priority is
    * (centroid-sim ASC, id ASC); a doc is dropped iff ANY
    * strictly-lower-priority doc in its cluster is τ-similar to it —
    * the paper's own one-pass implementation shape (a dropped doc's
    * dominators may themselves be dropped; only group minima survive).
    *
    * Engine-exact: both the pair cosine and the priority key compare on
    * the micro grid, so the kept SET replays bit-for-bit from inlined
    * centroids.
    *
    * Scale (VERDICT r10 #1): the pair join is cell-blocked (O(Σ cell²)
    * like [[embeddingNearDupIVF]]), centroids broadcast — but cell²
    * is only safe while cells stay bounded, and a FIXED k against a
    * growing corpus lets one hot k-means cell go quadratic (156M pair
    * evaluations were hiding inside the fixture's 0.42 exponent). Two
    * mechanisms bound it, mirroring the LSH pair path:
    *  - `maxCell` drop-cap (the [[lshCandidatePairs]] maxBucket
    *    pattern): a cell whose membership exceeds the cap is EXCLUDED
    *    from the pair join on both sides — its members pass through
    *    `kept = true` (dedup fails OPEN per cell: keeping extra docs
    *    is recoverable, dropping from an unvetted quadratic straggler
    *    is not) and [[semDeDupSkippedCells]] names every capped cell
    *    with its size so the skip is accounted, never silent.
    *  - k ∝ n derivation (the [[graft.search.LSHSearch.autoBits]]
    *    discipline): [[semDeDupScaled]] trains k = ⌈n/targetCell⌉
    *    cells so EXPECTED cell size stays flat as the corpus grows —
    *    the cap then only fires on genuine density skew.
    * StressSpec plants a 30%-hot cell and pins both: flat wall-clock,
    * no task evaluating the quadratic hot block, accounting row
    * present.
    *
    * @param cells (doc_id, cell) assignment of `emb` to the codebook's
    *              level-0 centroids (e.g. `IVFIndex.build(...).cells`)
    * @param maxCell per-cell membership cap for the pair join; capped
    *                cells keep all members and are reported by
    *                [[semDeDupSkippedCells]]
    * @return every input row as (idCol, cell, cent_sim_micro, kept)
    */
  def semDeDup(emb: DataFrame, cells: DataFrame, cb: graft.index.Codebook,
      tau: Double = 0.9, idCol: String = "vec_id",
      vecCol: String = "embedding", maxCell: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions.float_dot
    require(cb.numLevels == 1, "SemDeDup expects a 1-level (k-means) codebook")
    val spark = emb.sparkSession
    import spark.implicits._
    val tauMicro = math.floor(tau * 1000000.0 + 0.5).toLong
    val cents = broadcast(
      cb.levels(0).zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cell", "__cent"))
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(cells.select(col("doc_id").as("id"), col("cell")), Seq("id"))
      .join(cents, Seq("cell"))
      .select(col("id"), col("cell"), col("v"),
        sqrt(float_dot(col("v"), col("v"))).as("nrm"),
        sqrt(float_dot(col("__cent"), col("__cent"))).as("cnrm"),
        float_dot(col("v"), col("__cent")).as("cdot"))
      .select(col("id"), col("cell"), col("v"), col("nrm"),
        floor(col("cdot") / (col("nrm") * col("cnrm")) * 1000000.0 +
          lit(0.5)).cast("long").as("cent_sim_micro"))
    // cells over the cap never enter the pair join (either side): their
    // members fall out of `dropped` and surface as kept = true
    val okCells = broadcast(
      cells.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxCell).select("cell"))
    val eSmall = e.join(okCells, Seq("cell"), "left_semi")
    val dropped = eSmall.as("x").join(eSmall.as("y"),
        col("x.cell") === col("y.cell") &&
          (col("y.cent_sim_micro") < col("x.cent_sim_micro") ||
            (col("y.cent_sim_micro") === col("x.cent_sim_micro") &&
              col("y.id") < col("x.id"))))
      .where(floor(float_dot(col("x.v"), col("y.v")) /
          (col("x.nrm") * col("y.nrm")) * 1000000.0 + lit(0.5)).cast("long")
        >= tauMicro)
      .select(col("x.id").as("id")).distinct()
    e.join(dropped.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"), col("cent_sim_micro"),
        col("__d").isNull.as("kept"))
  }

  /** Drop accounting for [[semDeDup]]'s `maxCell` cap: (cell,
    * n_members) for every cell EXCLUDED from the pair join — the same
    * named-skip discipline as `multimodal_phash_skips`. Empty means
    * every cell was deduped; non-empty means those cells kept all
    * members un-vetted and the caller should raise k (or re-run just
    * those cells with a sub-clustering pass).
    */
  def semDeDupSkippedCells(cells: DataFrame, maxCell: Int = 4096): DataFrame =
    cells.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxCell)

  /** Cell count that keeps EXPECTED SemDeDup cell size near
    * `targetCell` for a corpus of `n` embeddings — the
    * [[graft.search.LSHSearch.autoBits]] discipline applied to k-means
    * k: total pair work ≈ n·targetCell stays LINEAR in corpus size
    * instead of quadratic-at-fixed-k. Floored so tiny corpora keep a
    * meaningful cluster structure.
    */
  def autoCells(n: Long, targetCell: Int = 256, minCells: Int = 16): Int =
    math.max(minCells,
      math.ceil(math.max(1.0, n.toDouble) / targetCell).toInt)

  /** Close the `maxCell` fail-open loop: re-dedup every capped cell's
    * members under a FINER codebook. Pass 1 = [[semDeDup]] (over-cap
    * cells pass through kept = true); pass 2 pools the capped cells'
    * members, trains a sub-codebook with k = [[autoCells]](n_hot,
    * targetCell), and applies the SAME keep rule inside the sub-cells
    * (cross-original-cell matches are legitimate: cells are a blocking
    * device, τ-similarity is the criterion). ONE refinement level is
    * the design bound, and the GUARANTEE at that bound is (r14,
    * VERDICT #6): expected sub-cell size is targetCell, so a sub-cell
    * stays over-cap only when the embedding mass is degenerate (points
    * k-means cannot separate — e.g. exact-duplicate vectors, which no
    * centroid count splits); such a sub-cell fails OPEN exactly like
    * pass 1 — every member returns kept = true, none is silently
    * dropped or falsely vetted — and is enumerable from the output:
    * refined rows report their SUB-cell id, so
    * [[semDeDupSkippedCells]] over `out.where('refined).select(id,
    * cell)` names every un-vetted survivor. StressSpec's
    * planted-degenerate-mass adversary (200 identical embeddings
    * against maxCell = 50, REAL sub-trainer) pins both halves. Deeper
    * recursion would not change the outcome for degenerate mass — it
    * re-pools the same unsplittable points — which is why the level
    * budget is fixed at one. Output adds `refined`: refined rows
    * report their SUB-cell id and sub-centroid similarity (the pass
    * that decided them).
    *
    * @param train sub-codebook trainer `(docs(doc_id, vec), k) => IVF`,
    *              default [[graft.search.IVFIndex.build]] at `seed` —
    *              the catalog entry wraps it with ArtifactCache so the
    *              DuckDB oracle replays the identical trained artifact
    */
  def semDeDupRefined(emb: DataFrame, cells: DataFrame,
      cb: graft.index.Codebook, tau: Double = 0.9,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 4096, targetCell: Int = 256, seed: Long = 43L,
      train: Option[(DataFrame, Int) => graft.search.IVFIndex.IVF] = None)
      : DataFrame = {
    val base = semDeDup(emb, cells, cb, tau, idCol, vecCol, maxCell)
      .withColumn("refined", lit(false))
    val hotCells = broadcast(
      semDeDupSkippedCells(cells, maxCell).select("cell"))
    val hotIds = cells.join(hotCells, Seq("cell"), "left_semi")
      .select("doc_id")
    // bucket-sized driver scalar: refinement is a deterministic branch
    // on whether any cell tripped the cap at this corpus
    val nHot = hotIds.count()
    if (nHot == 0L) base
    else {
      val embHot = emb.join(
        hotIds.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_semi")
      val trainer = train.getOrElse((d: DataFrame, k: Int) =>
        graft.search.IVFIndex.build(d, k, seed))
      val sub = trainer(
        embHot.select(col(idCol).as("doc_id"), col(vecCol).as("vec")),
        autoCells(nHot, targetCell))
      val second = semDeDup(embHot, sub.cells, sub.codebook, tau,
        idCol, vecCol, maxCell).withColumn("refined", lit(true))
      base.join(hotIds.withColumnRenamed("doc_id", idCol),
          Seq(idCol), "left_anti")
        .unionByName(second)
    }
  }

  /** [[semDeDup]] with the cluster count DERIVED from the corpus count
    * — the variant a growing 100 TB corpus runs (a fixed k is only
    * right when n is known and static: the fixtures, and the oracle
    * replay, which inlines the trained 16-cell codebook). Trains the
    * k-means codebook on the embeddings themselves, so near-dups still
    * co-locate by construction; `maxCell` stays as the density-skew
    * backstop on top of the flat expected size.
    */
  def semDeDupScaled(emb: DataFrame, tau: Double = 0.9,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCell: Int = 256, maxCell: Int = 4096,
      seed: Long = 42L): DataFrame = {
    val n = emb.select(idCol).count()
    val docs = emb.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    val ivf = graft.search.IVFIndex.build(docs,
      k = autoCells(n, targetCell), seed = seed)
    semDeDup(emb, ivf.cells, ivf.codebook, tau, idCol, vecCol, maxCell)
  }

  // -------------------------------------------------------------------
  // Exact-substring duplicate spans (suffix-level dedup, the "50-token
  // repeated substring" pass of published LLM-data pipelines — e.g.
  // Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  // Better"). The distributed shape replaces the suffix array with
  // fixed-width n-gram anchors: a token run of length ≥ L that repeats
  // is covered by repeating n-grams for every n ≤ L, so flagging
  // duplicated n-grams and merging overlapping flagged positions
  // recovers every maximal duplicated span of length ≥ n exactly.
  // -------------------------------------------------------------------

  /** One row per (doc, position) whose n-gram content appears ≥ minOcc
    * times corpus-wide (in-document self-repeats count — repetition is
    * duplication). Internal only: positions are merged by the span ops
    * below. Shape: one groupBy on the gram hash (map-side partial
    * count), one semi-join back — never a pair join. */
  /** (doc_id, pos, gh) for every n-gram position. The token array is
    * materialized in its own projection BELOW the generator: handing
    * `shingles(tokens(text))` to posexplode as one expression inlines
    * the regex split into all n `element_at` calls (no CSE inside a
    * Generate), re-tokenizing the full document n times per gram —
    * measured 40× slower at sf0.1. */
  private def gramTable(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        posexplode(shingles(col("__toks"), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), md5Hash60(col("gram")).as("gh"))

  private def duplicatedPositions(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minOcc: Int): DataFrame = {
    val grams = gramTable(docs, idCol, textCol, n)
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOcc).select("gh")
    grams.join(dup, Seq("gh"), "left_semi")
  }

  /** Merge flagged positions into maximal spans: position p covers
    * tokens [p, p+n); a new span starts where p exceeds the furthest
    * end reached by earlier flagged positions in the doc. One window
    * pass partitioned by doc — no cross-doc data movement. */
  private def mergeSpans(flagged: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val reach = max(col("pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new",
        when(reach.isNull || col("pos") > reach, 1).otherwise(0))
      .withColumn("span_id", sum(col("__new")).over(w))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
  }

  /** Duplicate-span REPORT: every maximal token span of length ≥ n whose
    * every n-gram appears ≥ minOcc times corpus-wide. `span_end` is
    * exclusive. The per-doc output is bounded by len/n spans, so the
    * result is strictly smaller than the corpus — safe to materialize
    * at any scale. */
  def duplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minOcc: Int = 2): DataFrame =
    mergeSpans(duplicatedPositions(docs, idCol, textCol, n, minOcc), n)

  /** Trim NON-FIRST occurrences (Lee et al. semantics: one canonical
    * copy of every duplicated substring survives). An occurrence is
    * "first" in global (doc_id, pos) order per gram content; later
    * occurrences are flagged, merged into spans, and cut from the
    * token stream. Output: the doc with its surviving tokens
    * re-joined, plus kept/cut counts. Shape: the per-gram first/later
    * split is ONE count+min aggregation over the gram hash — the
    * canonical copy is the lexicographic min (doc_id, pos) struct, so
    * Spark's map-side partial aggregation absorbs even a boilerplate
    * gram repeated 10⁸× corpus-wide (each map task emits one partial
    * per gh; no per-gram window SORT anywhere, which would serialize a
    * mega-hot gram through a single task). Positions of duplicated
    * grams then probe the (occ ≥ 2)-only agg with a streaming
    * equi-join (AQE splits a skewed probe partition if one gram truly
    * dominates); the cut is a per-row higher-order filter against the
    * doc's own (collected) span list — no token-level join. */
  def trimDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8): DataFrame = {
    val grams = gramTable(docs, idCol, textCol, n)
    // per-gram occurrence count + canonical (first) occurrence in one
    // agg; only duplicated grams survive to the probe join
    val dupFirst = grams.groupBy("gh").agg(
        count(lit(1)).as("__occ"),
        min(struct(col("doc_id"), col("pos"))).as("__f"))
      .where(col("__occ") >= 2)
      .select(col("gh"), col("__f"))
    val later = grams.join(dupFirst, Seq("gh"))
      .where(!(col("doc_id") === col("__f.doc_id") &&
        col("pos") === col("__f.pos")))
      .select("doc_id", "pos")
    val spans = mergeSpans(later, n)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__toks"),
        coalesce(col("__spans"),
          array().cast("array<struct<span_start:int,span_end:int>>"))
          .as("__spans"))
      .select(col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        filter(col("__toks"), (_, i) =>
          !exists(col("__spans"),
            s => i >= s("span_start") && i < s("span_end"))).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).as("n_kept"),
        concat_ws(" ", col("__kept")).as("text"))
  }

  // -------------------------------------------------------------------
  // Variable-length exact-substring detection via suffix ordering +
  // neighbor LCP — the SUFFIX-ARRAY method of Lee et al. 2022
  // (ExactSubstr; the reference-adjacent published pipeline builds a
  // corpus suffix array and thresholds on duplicated-substring LENGTH).
  // [[duplicateSpans]] answers "which spans have every fixed-n-gram
  // repeated"; this answers the exact question "at each token position,
  // how LONG is the longest substring starting here that also occurs
  // elsewhere in the corpus" — no fixed n, maximal lengths reported
  // (capped at `cap` tokens; a longer duplicate reports as `cap`).
  // -------------------------------------------------------------------

  /** Token-LCP of two space-joined suffix strings (tokens never contain
    * whitespace, so the join round-trips exactly; split limit −1 keeps
    * a trailing empty token, matching Spark SQL `split` and DuckDB
    * `string_split_regex`). */
  private[pipeline] def tokenLcp(a: String, b: String): Int = {
    val ta = a.split(" ", -1); val tb = b.split(" ", -1)
    val m = math.min(ta.length, tb.length)
    var k = 0
    while (k < m && ta(k) == tb(k)) k += 1
    k
  }

  /** Per-position maximal duplicated-substring length: (doc_id, pos,
    * dup_len) for every token position whose longest substring starting
    * there that ALSO occurs elsewhere in the corpus (in-document
    * self-repeats count, as in [[duplicateSpans]]) is ≥ `minLen` tokens;
    * `dup_len` is that maximal length, capped at `cap`. "Maximal" is
    * exact under the JOINED-STRING order the sort uses (ADVICE r14): a
    * token containing a control character below 0x20 (below the space
    * separator) can split a shared-prefix block across non-adjacent
    * sort positions, under-reporting that prefix — for printable-token
    * corpora (any whitespace-tokenized text) the two orders coincide
    * and the lengths are exactly maximal. Engine/oracle parity holds
    * either way (both sort and compare the same joined strings).
    *
    * Method: in lexicographic order of the (capped) suffixes, all
    * suffixes sharing a token prefix form one contiguous block, so each
    * suffix's maximal common prefix with ANY other suffix is achieved at
    * an ADJACENT suffix — one global sort + one neighbor pass replaces
    * the all-pairs comparison. (The block-contiguity argument needs the
    * join separator to compare below every token character: the ASCII
    * space 0x20 is below every printable, so only a control character
    * INSIDE a token could split a block — and then both engines still
    * compute the identical neighbor-LCP answer, since the oracle sorts
    * and compares the same joined strings.)
    *
    * Scale shape: a duplicated-gram prefilter (r16 — the corpus
    * crosses shuffles as 8-byte leading-gram hashes, and only
    * duplication-proportional candidate suffixes materialize as
    * strings; exactness argued at the filter), then ONE
    * range-partitioned sort of the CANDIDATE capped-suffix table
    * (worst case O(`cap` · corpus tokens) shuffle bytes when the whole
    * corpus is duplicated — `cap` stays the cost knob),
    * then a strictly per-partition linear LCP pass. Global adjacency
    * across partition boundaries costs one partition-count-sized collect
    * (each sorted partition's first and last row) broadcast back — no
    * single-task global window anywhere, unlike a naive
    * `Window.orderBy(sfx)`. The sorted table is localCheckpointed
    * because two passes read it (boundary scan, LCP pass) and the
    * upstream explode is cap× the corpus. One per-ROW bound to know:
    * the generator materializes a doc's full suffix array (len · cap
    * tokens) before exploding, so a pathological single document of
    * 10⁸ tokens would build a ~`cap`×-that string array in one task —
    * chunk such docs upstream (the Gopher gate's 100k-word ceiling
    * already bounds any gated corpus far below this). */
  def suffixDupLengths(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 8, cap: Int = 24): DataFrame =
    suffixDupFlagged(docs, idCol, textCol, minLen, cap)
      .select("doc_id", "pos", "dup_len")

  /** Prefix of a space-joined token string covering its first `k`
    * tokens (the flagged position's duplicated CONTENT — what
    * [[suffixDupTrim]] groups first-occurrences by). */
  private[pipeline] def tokenPrefix(s: String, k: Int): String = {
    var i = 0; var seen = 0
    while (i < s.length && seen < k) {
      if (s.charAt(i) == ' ') seen += 1
      i += 1
    }
    if (seen == k) s.substring(0, i - 1) else s
  }

  /** [[suffixDupLengths]] plus each flagged position's duplicated
    * content (its first dup_len tokens, space-joined) — the extra
    * column only exists on flagged (output-proportional) rows, so the
    * carry is free at corpus scale. */
  private[pipeline] def suffixDupFlagged(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      minLen: Int = 8, cap: Int = 24): DataFrame = {
    require(minLen >= 1 && cap >= minLen,
      s"need 1 <= minLen <= cap, got minLen=$minLen cap=$cap")
    val spark = docs.sparkSession
    import spark.implicits._
    // __toks materialized BELOW the generator (the gramTable lesson:
    // Generate inlines its child expression per output row — no CSE)
    val base = ensureParallelism(docs
        .select(col(idCol).cast("long").as("doc_id"),
          tokens(col(textCol)).as("__toks")))
    // DUPLICATED-GRAM PREFILTER (r16): only suffixes whose LEADING
    // minLen-token gram occurs at ≥2 positions corpus-wide can ever be
    // flagged, and sorting only those is EXACT:
    //   · a flagged pair has LCP ≥ minLen, so both members share the
    //     leading gram (hash-equal → both retained; no false negative);
    //   · in the full sorted order every suffix BETWEEN two same-gram
    //     suffixes also starts with that gram (for a ≤ u ≤ c,
    //     LCP(a,c) = min(LCP(a,u), LCP(u,c)), and the space separator
    //     sorts below every token character) — so the retained set
    //     keeps every same-gram block contiguous and neighbor-LCP over
    //     it computes the identical dup_len for every flagged row;
    //   · a dropped neighbor had a unique gram, hence LCP < minLen
    //     with everything — its removal can only merge neighbors whose
    //     direct LCP = min over the removed chain, still < minLen on
    //     that side; hash collisions only RETAIN extra suffixes, which
    //     the LCP pass then judges by their actual content.
    // SCOPE (ADVICE r16): the ultrametric step (LCP(a,c) =
    // min(LCP(a,u), LCP(u,c)) over the joined-string order) holds when
    // token order coincides with string order, i.e. for tokens of
    // printable (> 0x20) characters. A token containing a sub-0x20
    // control char (not \s, so it survives tokenization) can place a
    // dropped unique-gram suffix lexicographically BETWEEN two
    // same-gram suffixes; removing it can merge neighbors whose direct
    // token-LCP exceeds minLen, flagging rows the full-sort order would
    // not. So on such corpora the prefilter's flagged-set membership —
    // not just dup_len under-reporting (the pre-r16 caveat) — can
    // differ from a full-sort replay; the exactness claim above is for
    // printable-token corpora (every fixture, and any corpus whose
    // cleaning strips control chars first).
    // Scale effect: the range-partition sort previously shuffled EVERY
    // capped suffix — O(cap · corpus tokens) bytes, a ~cap× write
    // amplification of the corpus through one shuffle. Now the heavy
    // string rows exist only for candidate positions (duplication-
    // proportional); the full corpus crosses shuffles as 8-byte gram
    // hashes (map-side-combined count) plus narrow (doc_id, pos) pairs.
    // The candidate explode runs twice (count + semi-join side) — a
    // narrow CPU pass each time, cheaper than materializing it.
    val posGh = base.select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(__toks) >= $minLen THEN
           |  transform(sequence(0, size(__toks) - $minLen),
           |    i -> xxhash64(slice(__toks, i + 1, $minLen)))
           |ELSE CAST(array() AS array<bigint>) END"""
          .stripMargin)).as(Seq("pos", "gh")))
    val dupg = posGh.groupBy("gh").count()
      .where(col("count") >= 2).select("gh")
    val cand = posGh.join(dupg, Seq("gh"), "left_semi")
      .select("doc_id", "pos")
    val sfx = cand.join(base, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"concat_ws(' ', slice(__toks, pos + 1, $cap))").as("sfx"))
    val sorted = sfx
      .repartitionByRange(col("sfx"), col("doc_id"), col("pos"))
      .sortWithinPartitions("sfx", "doc_id", "pos")
      .select(col("sfx"), col("doc_id"), col("pos"))
      .localCheckpoint()
    val rdd: org.apache.spark.rdd.RDD[(String, Long, Int)] =
      sorted.as[(String, Long, Int)].rdd
    // first and last suffix of each sorted partition — 2 strings per
    // partition cross the driver, nothing corpus-sized
    val bounds = rdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var row = it.next(); val first = row._1
        while (it.hasNext) row = it.next()
        Iterator((i, first, row._1))
      }
    }.collect().sortBy(_._1)
    // nearest non-empty neighbor on each side (empty partitions skipped)
    val prevLast = scala.collection.mutable.Map.empty[Int, String]
    var lastSeen: Option[String] = None
    bounds.foreach { case (i, _, l) =>
      lastSeen.foreach(prevLast(i) = _); lastSeen = Some(l)
    }
    val nextFirst = scala.collection.mutable.Map.empty[Int, String]
    var firstSeen: Option[String] = None
    bounds.reverseIterator.foreach { case (i, f, _) =>
      firstSeen.foreach(nextFirst(i) = _); firstSeen = Some(f)
    }
    val bc = spark.sparkContext.broadcast(
      (prevLast.toMap, nextFirst.toMap, minLen))
    rdd.mapPartitionsWithIndex { (i, it) =>
      val (pl, nf, minL) = bc.value
      var prev: String = pl.getOrElse(i, null)
      val rows = it.buffered
      new Iterator[(Long, Int, Int, String)] {
        private var nextRow: (Long, Int, Int, String) = null
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && rows.hasNext) {
            val cur: (String, Long, Int) = rows.next()
            val s: String = cur._1
            val nxt: String =
              if (rows.hasNext) rows.head._1
              else nf.getOrElse(i, null)
            var dl: Int = if (prev == null) 0 else tokenLcp(s, prev)
            if (nxt != null) dl = math.max(dl, tokenLcp(s, nxt))
            prev = s
            if (dl >= minL) nextRow = (cur._2, cur._3, dl, tokenPrefix(s, dl))
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): (Long, Int, Int, String) = {
          val r = nextRow; advance(); r
        }
      }
    }.toDF("doc_id", "pos", "dup_len", "content")
  }

  /** [[suffixDupLengths]] merged into maximal per-doc duplicated spans:
    * position p covers tokens [p, p+dup_len), a new span starts where p
    * exceeds the furthest end reached by earlier flagged positions —
    * the [[mergeSpans]] interval pass with the VARIABLE per-position
    * length instead of a fixed n. Output (doc_id, span_id, span_start,
    * span_end exclusive, span_tokens, max_dup_len); bounded by the
    * flagged positions, strictly smaller than the corpus. */
  def suffixDupSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 8, cap: Int = 24): DataFrame =
    mergeVarSpans(suffixDupLengths(docs, idCol, textCol, minLen, cap))

  /** Merge VARIABLE-length flagged positions (doc_id, pos, dup_len)
    * into maximal per-doc spans — the [[mergeSpans]] interval pass with
    * the per-position length instead of a fixed n. Shared by
    * [[suffixDupSpans]] (reporting) and [[suffixDupTrim]] (removal). */
  private def mergeVarSpans(flagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val reach = max(col("pos") + col("dup_len"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new",
        when(reach.isNull || col("pos") > reach, 1).otherwise(0))
      .withColumn("span_id", sum(col("__new")).over(w))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"),
        max(col("pos") + col("dup_len")).as("span_end"),
        max("dup_len").as("max_dup_len"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
  }

  /** Variable-length exact-substring TRIM — the removal half of the Lee
    * et al. 2022 ExactSubstr pipeline ([[suffixDupLengths]] landed the
    * detection half; VERDICT r14 #2 asked for the half users actually
    * run). Every flagged position's duplicated CONTENT (its first
    * dup_len tokens) keeps ONE canonical copy — the globally smallest
    * (doc_id, pos) occurrence of that exact content — and every other
    * flagged occurrence is merged into maximal spans
    * ([[mergeVarSpans]]) and cut from its document's token stream.
    * Output (doc_id, n_tokens, n_kept, text) — the
    * [[trimDuplicateSpans]] shape.
    *
    * Guarantees: at least one copy of every duplicated content survives
    * (its canonical position is never flagged for cutting by its OWN
    * content group — though a different overlapping span in the same
    * doc may still cut through it, exactly as in the fixed-n-gram
    * trim); nested contents (a shorter duplicate whose own canonical
    * differs from its covering span's) may keep one extra copy — the
    * rule errs toward keeping, never toward deleting every copy.
    *
    * Scale shape: the first/later split is ONE min-struct aggregation
    * per content (map-side combinable — a boilerplate substring
    * repeated 10⁸× reduces through partials, no per-content window
    * sort); the flagged table feeds two consumers, so it is
    * localCheckpointed rather than re-running the suffix LCP pass; the
    * cut is a per-row higher-order filter against the doc's own
    * collected span list — no token-level join. */
  def suffixDupTrim(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 8, cap: Int = 24): DataFrame = {
    val flagged = suffixDupFlagged(docs, idCol, textCol, minLen, cap)
      .localCheckpoint()
    val first = flagged.groupBy("content")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__f"))
    val later = flagged.join(first, Seq("content"))
      .where(!(col("doc_id") === col("__f.doc_id") &&
        col("pos") === col("__f.pos")))
      .select("doc_id", "pos", "dup_len")
    val spans = mergeVarSpans(later)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__toks"),
        coalesce(col("__spans"),
          array().cast("array<struct<span_start:int,span_end:int>>"))
          .as("__spans"))
      .select(col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        filter(col("__toks"), (_, i) =>
          !exists(col("__spans"),
            sp => i >= sp("span_start") && i < sp("span_end"))).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).as("n_kept"),
        concat_ws(" ", col("__kept")).as("text"))
  }

  /** Dedup survivor POLICY: arg-max score per duplicate cluster (ties →
    * smaller id) — "keep the copy worth training on" instead of the
    * arbitrary min-id canonical. Input: (doc_id, component) memberships
    * (e.g. [[connectedComponents]] plus singletons) and (doc_id, score)
    * INTEGER scores (snap floats to the micro grid first — a float max
    * would be partial-agg-order sensitive at equal-looking values).
    * One max aggregation on a (score, -id) struct — no window, map-side
    * combinable, so a mega-cluster reduces through partials instead of
    * serializing one task. Output: (doc_id, component, score,
    * canonical_id, kept). */
  def canonicalByScore(members: DataFrame, scores: DataFrame): DataFrame = {
    val scored = members.join(scores, Seq("doc_id"))
    val best = scored.groupBy("component")
      .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id"))).as("__b"))
      .select(col("component"), (-col("__b.neg_id")).as("canonical_id"))
    scored.join(best, Seq("component"))
      .select(col("doc_id"), col("component"), col("score"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("kept"))
  }

  // -------------------------------------------------------------------
  // Paragraph-level dedup (CCNet, Wenzek et al. 2020 §3.1): duplicate
  // PARAGRAPHS keep only their first corpus occurrence, and every
  // document is reassembled from its surviving paragraphs — the
  // pre-gate dedup CommonCrawl pipelines run before any doc-level
  // score exists. Differs from [[trimDuplicateSpans]] (Lee et al.):
  // the unit is a fixed non-overlapping block, not a sliding n-gram —
  // cheaper by ~n× in exploded rows, coarser in what it catches.
  // -------------------------------------------------------------------

  /** (doc_id, block_idx, block) — consecutive non-overlapping
    * `blockWords`-token blocks in position order, last block possibly
    * short; blank docs yield no rows. The paragraph unit for flat
    * (newline-free) text; real CC pipelines split on '\n\n' instead,
    * which is this with a different `split`. */
  def paragraphBlocks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", blockWords: Int = 12): DataFrame = {
    require(blockWords >= 1)
    // __toks materialized in its own projection first (the repo's HOF
    // no-CSE discipline — r17: this method inlined `split` into the
    // transform lambda, re-running the regex split once PER BLOCK;
    // measured 16.7 s CPU → 3.0 s at sf0.1 on dedup_paragraphs)
    ensureParallelism(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(trim(col(textCol))).as("__toks"),
        (trim(col(textCol)) === "").as("__blank"))
      .select(col("doc_id"),
        when(col("__blank"), array().cast("array<string>"))
          .otherwise(transform(
            // block starts 0, blockWords, 2·blockWords, … (sequence with
            // step — no float division anywhere near an index)
            sequence(lit(0), size(col("__toks")) - 1, lit(blockWords)),
            st => concat_ws(" ", slice(col("__toks"), st + 1, lit(blockWords)))))
          .as("__blocks"))
      .select(col("doc_id"), posexplode(col("__blocks")))
      .select(col("doc_id"), col("pos").cast("long").as("block_idx"),
        col("col").as("block"))
  }

  /** Newline paragraph table for corpora with REAL paragraph structure
    * — the actual CCNet unit (Wenzek et al. 2020 §3.1 dedups on
    * '\n\n'-separated paragraphs; [[paragraphBlocks]]' fixed-width
    * token blocks are the flat-text stand-in for fixtures without
    * newlines). One row per non-blank paragraph: (doc_id, block_idx =
    * the paragraph's split position, block = trimmed paragraph text).
    * Blank segments (leading/trailing/double separators) are dropped
    * but their positions are preserved, so reassembly order is stable.
    */
  def paragraphBlocksNewline(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    ensureParallelism(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "\n\n")).as(Seq("pos", "raw")))
      .where(trim(col("raw")) =!= "")
      .select(col("doc_id"), col("pos").cast("long").as("block_idx"),
        trim(col("raw")).as("block"))

  /** [[paragraphDedup]] over REAL '\n\n' paragraphs: identical
    * first-occurrence agg ([[firstBlockOccurrences]]) and reassembly
    * ([[assembleKeptBlocks]]), only the block table and the join
    * separator differ — the scale posture (one count+min agg, no
    * per-hash window) is shared by construction.
    */
  def paragraphDedupNewline(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val blocks = paragraphBlocksNewline(docs, idCol, textCol)
      .withColumn("__h", md5Hash60(col("block")))
    assembleKeptBlocks(docs.select(col(idCol).cast("long").as("doc_id")),
      blocks, firstBlockOccurrences(blocks), sep = "\n\n")
  }

  /** CCNet paragraph dedup: every block keeps only its FIRST corpus
    * occurrence — the lexicographic-min (doc_id, block_idx) per block
    * hash, ONE hash-partitioned count+min aggregation exactly like
    * [[trimDuplicateSpans]]' gram agg (map-side partials absorb a
    * boilerplate paragraph repeated 10⁸×; no per-hash window sort) —
    * then documents reassemble from surviving blocks in position
    * order (a doc-keyed collect of the doc's own blocks; bounded by
    * doc length). Output: (doc_id, text, n_blocks, n_kept), text = ''
    * when every block was a duplicate, n_blocks = 0 for blank docs. */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", blockWords: Int = 12): DataFrame = {
    val blocks = paragraphBlocks(docs, idCol, textCol, blockWords)
      .withColumn("__h", md5Hash60(col("block")))
    assembleKeptBlocks(docs.select(col(idCol).cast("long").as("doc_id")),
      blocks, firstBlockOccurrences(blocks))
  }

  /** The lexicographic-min (doc_id, block_idx) row per block hash —
    * "first corpus occurrence" has exactly ONE definition, shared by the
    * batch path and the streaming twin (which applies it within each
    * micro-batch before the store check). Input must carry
    * (doc_id, block_idx, block, __h); output keeps those columns. */
  private[graft] def firstBlockOccurrences(blocks: DataFrame): DataFrame = {
    val first = blocks.groupBy("__h")
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("__f"))
      .select(col("__h"), col("__f.doc_id").as("__fdoc"),
        col("__f.block_idx").as("__fidx"))
    blocks.join(first, Seq("__h"))
      .where(col("doc_id") === col("__fdoc") &&
        col("block_idx") === col("__fidx"))
      .select("doc_id", "block_idx", "block", "__h")
  }

  /** Reassemble (doc_id, text, n_blocks, n_kept) from the doc-id frame,
    * the full block table, and the surviving subset — the one definition
    * of "what a doc looks like after paragraph dedup", shared with the
    * streaming twin. */
  private[graft] def assembleKeptBlocks(ids: DataFrame, blocks: DataFrame,
      kept: DataFrame, sep: String = " "): DataFrame = {
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(sep, transform(
          sort_array(collect_list(struct(col("block_idx"), col("block")))),
          b => b.getField("block"))).as("__text"))
    val total = blocks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"))
    ids.join(total, Seq("doc_id"), "left")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__text"), lit("")).as("text"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"))
  }
}
