package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the reference subsamples corpora with
  * python RNG (dataprocess/msmarco_passage/sampled_corpus.py:9-16
  * random.sample over doc ids); the engine-portable equivalent ranks rows
  * by an md5-derived hash so the SAME rows are chosen on any engine, any
  * partitioning, any run (the convention every sampling operator in this
  * library uses — see Augment.subsampleMapping).
  *
  * Scale: per-row hash + filter, zero shuffle for Bernoulli forms; the
  * per-group cap is one window over the group key (hash-partitioned, no
  * global sort).
  */
object Sampling {

  private val M = 1000000L

  /** 60-bit md5 hash of (seed, id) mapped to [0, 1e6). */
  private def bucket(idCol: Column, seed: Long): Column =
    pmod(graft.functions.HashFunctions.md5_prefix(
      concat(lit(seed.toString), lit(":"), idCol.cast("string")), 15), lit(M))

  /** Deterministic Bernoulli sample: keep a row iff its hash bucket falls
    * under `fraction`. Exact-in-expectation, reproducible, join-stable
    * (the same id survives in every table sampled with the same seed).
    */
  def bernoulli(df: DataFrame, fraction: Double, idCol: String = "doc_id",
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    // round, not truncate: 0.3 * 1e6 is 299999.99999999994 in double, and
    // truncation would silently drop one hash bucket of mass
    df.where(bucket(col(idCol), seed) < lit(math.round(fraction * M)))
  }

  /** Deterministic stratified sample: per-stratum keep fractions (strata
    * missing from the map are dropped). One broadcast map lookup per row,
    * zero shuffle.
    */
  def stratified(df: DataFrame, strataCol: String,
      fractions: Map[String, Double], idCol: String = "doc_id",
      seed: Long = 42L): DataFrame = {
    val thresh = fractions.foldLeft(lit(-1L)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(math.round(f * M))).otherwise(acc)
    }
    df.where(bucket(col(idCol), seed) < thresh)
  }

  /** Cap rows per group (e.g. max documents per source domain, the
    * standard web-corpus anti-spam measure): keeps the `cap` rows with the
    * smallest (hash, id) rank inside each group — a deterministic uniform
    * choice, not "first by ingest order" (which overweights crawl order).
    */
  def capPerGroup(df: DataFrame, groupCol: String, cap: Int,
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(bucket(col(idCol), seed).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap).drop("__rn")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each row gets key u^(1/w) with u its deterministic md5 uniform in
    * (0, 1]; the k LARGEST keys are exactly a weight-proportional
    * without-replacement draw (quality-weighted corpus selection without
    * the sequential urn). Keys round to micro-units BEFORE ranking (id
    * breaks ties), so the selection — not just the key values — replays
    * in a SQL oracle; a cross-engine 1-ulp `pow` wobble sits ~9 orders
    * of magnitude under the rounding grid. One TakeOrdered (per-
    * partition top-k + driver merge of k·P rows), never a global sort.
    *
    * Weight domain: weights must be strictly positive (ENFORCED — a
    * null/zero/negative weight raises rather than silently mis-keying
    * the row: pow(u, 1/0) = pow(u, Inf) = 0 would quietly bury it).
    * The micro-grid keys are faithful for weights up to ~10³ (the
    * documented quality-score range); above that u^(1/w) compresses
    * toward 1.0 and distinct weights start colliding on the 1e-6 grid,
    * after which ties break by id instead of weight. For wide-range
    * weights (1e-3..1e6+) use [[weightedTopKLog]], whose log-domain
    * key never compresses.
    */
  def weightedTopK(df: DataFrame, k: Int, weightCol: String,
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    require(k > 0)
    val u = (bucket(col(idCol), seed).cast("double") + lit(1.0)) /
      lit((M + 1).toDouble)
    val w0 = col(weightCol).cast("double")
    val w = when(w0.isNotNull && w0 > 0.0, w0).otherwise(
      raise_error(concat(lit("weightedTopK: weight must be > 0, got "),
        col(weightCol).cast("string"))).cast("double"))
    val key = floor(pow(u, lit(1.0) / w) *
      1000000 + lit(0.5)).cast("long")
    df.withColumn("es_key_micro", key)
      .orderBy(col("es_key_micro").desc, col(idCol).asc)
      .limit(k)
  }

  /** Efraimidis–Spirakis selection with a LOG-DOMAIN key, faithful across
    * the full weight range (1e-3 … 1e9): rank by ln(u)/w instead of
    * u^(1/w) — a strictly monotone transform, so the k largest are the
    * SAME weight-proportional draw — but build the key as
    * `floor(ln(u)·1e6 + 0.5) / w`: the numerator is an exact Long (the
    * only transcendental, `ln`, sits ~9 orders of magnitude under the
    * rounding grid), and the single Long→double division is identical
    * IEEE-754 in every engine, so the SELECTION replays in SQL with no
    * grid compression at large w (u^(1/w)→1 collides on a fixed grid;
    * ln(u)/w just scales). Emits the exact-Long numerator, not the
    * double, so result hashing is representation-independent. Same
    * TakeOrdered shape as [[weightedTopK]]; weights enforced > 0.
    */
  def weightedTopKLog(df: DataFrame, k: Int, weightCol: String,
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    require(k > 0)
    val u = (bucket(col(idCol), seed).cast("double") + lit(1.0)) /
      lit((M + 1).toDouble)
    val w0 = col(weightCol).cast("double")
    val w = when(w0.isNotNull && w0 > 0.0, w0).otherwise(
      raise_error(concat(lit("weightedTopKLog: weight must be > 0, got "),
        col(weightCol).cast("string"))).cast("double"))
    val num = floor(log(u) * 1000000 + lit(0.5)).cast("long")
    df.withColumn("es_lognum", num)
      .withColumn("__key", col("es_lognum").cast("double") / w)
      .orderBy(col("__key").desc, col(idCol).asc)
      .limit(k)
      .drop("__key")
  }

  /** Deterministic distributed RESERVOIR: the k rows with the SMALLEST
    * md5 rank per group — a uniform without-replacement sample that
    * needs no sequential scan (the classic reservoir walk serializes;
    * hash-rank selection is embarrassingly parallel and picks the SAME
    * rows on any engine/partitioning). The law that makes it a sketch:
    * min-k over a fixed total order is ASSOCIATIVE and IDEMPOTENT, so
    * reservoirs of shards merge into the union's reservoir exactly —
    * see [[graft.streaming.ReservoirStream]] for the maintained form.
    * Output: groupCols, idCol, `h` (the 60-bit rank, emitted so merges
    * and oracles need no re-hash). One window per group over ≤ the
    * group's rows; a GLOBAL reservoir (groupCols empty) instead plans
    * a TakeOrdered (each partition keeps k, the driver merges k·P
    * rows) — a global single-partition window sort of the corpus would
    * be the exact straggler this operator exists to avoid. */
  def hashReservoir(df: DataFrame, k: Int, groupCols: Seq[String],
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0)
    val h = graft.functions.HashFunctions.md5_prefix(
      concat(lit(seed.toString), lit(":"), col(idCol).cast("string")), 15)
    val hashed = df.select(
      (groupCols.map(col) :+ col(idCol) :+ h.as("h")): _*)
    if (groupCols.isEmpty)
      hashed.orderBy(col("h").asc, col(idCol).asc).limit(k)
    else {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col("h").asc, col(idCol).asc)
      hashed.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= k).drop("__rn")
    }
  }

  /** Per-group TOKEN budget (data-mixture construction: "take B tokens of
    * each domain"): walk each group's rows in deterministic hash-rank
    * order and keep a row iff its inclusive running token total still fits
    * the budget. Docs are chosen uniformly (hash order), not by ingest
    * order, and the same rows are chosen on any engine/partitioning.
    *
    * Scale: the kept set is a PREFIX of the (hash, id) order (the
    * running total is monotone), so this is the same boundary-statistic
    * problem as [[temperatureMix]] and uses the same grid-bounded
    * histogram machinery instead of a per-group running-sum window (a
    * cumulative window gets NO WindowGroupLimit rescue — it needs every
    * row — so a hot group, e.g. the one source of a single-domain
    * corpus, would sort in one task): per-(group, rank-value) token
    * SUMS cumulate over the ≤ gridM-row histogram, the boundary bucket
    * h* and its leftover token budget r broadcast back, rows below h*
    * pass a stateless filter, and only the h == h* tie set (expected
    * n_g/1e6 rows) walks the running-sum window against r. Identical
    * kept set to the window walk — SamplingSpec pins set-equality on a
    * coarse grid where the boundary bucket must split mid-tie-set, and
    * StressSpec pins a 190k-row hot group with a task-metrics witness.
    */
  def tokenBudget(df: DataFrame, groupCol: String, budget: Long,
      nTokCol: String = "n_tokens", idCol: String = "doc_id",
      seed: Long = 42L): DataFrame =
    tokenBudgetGrid(df, groupCol, budget, nTokCol, idCol, seed, M)

  /** [[tokenBudget]] with the rank grid exposed for the coarse-grid
    * equivalence spec (production always uses the 1e6 grid).
    */
  private[graft] def tokenBudgetGrid(df: DataFrame, groupCol: String,
      budget: Long, nTokCol: String, idCol: String, seed: Long,
      gridM: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0 && gridM > 0)
    // withColumn REPLACES an existing column, so a caller column named
    // like one of the internals would be silently overwritten and then
    // returned in its place — fail loudly instead (ADVICE r13)
    val reserved = df.columns.toSet.intersect(Set("__h", "__hstar", "__r", "__tc"))
    require(reserved.isEmpty,
      s"tokenBudget: input columns ${reserved.mkString(", ")} collide with " +
        "internal names (__h, __hstar, __r, __tc) — rename them first")
    val outCols = df.columns.toSeq.map(col)
    // NULL tokens count as 0 in BOTH the histogram and the tie walk — a
    // boundary bucket whose sum were all-NULL would otherwise yield a
    // NULL __r and the tie filter would drop the whole tie set, where
    // the direct cumsum-window form (sum skips NULLs) keeps fitting rows
    val ntok = coalesce(col(nTokCol), lit(0L))
    val base = df.withColumn("__h",
      pmod(graft.functions.HashFunctions.md5_prefix(
        concat(lit(seed.toString), lit(":"), col(idCol).cast("string")), 15),
        lit(gridM)))
    // per-(group, rank-value) token totals: map-side combinable, key
    // space ≤ #groups × gridM — the only aggregation over every row
    val hist = base.groupBy(col(groupCol), col("__h"))
      .agg(sum(ntok).as("__c"))
    // h* = first rank value whose inclusive cumulative token total
    // EXCEEDS the budget; r = budget − total through h*−1 is the token
    // allowance left for the boundary tie set. A group whose total fits
    // the budget has no such bucket → no thr row → left join keeps all.
    val cumw = Window.partitionBy(col(groupCol)).orderBy(col("__h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("__cum", sum(col("__c")).over(cumw))
      .where(col("__cum") > budget)
      .groupBy(col(groupCol))
      .agg(min(struct(col("__h"),
        (lit(budget) - col("__cum") + col("__c")).as("__r"))).as("__s"))
      .select(col(groupCol), col("__s.__h").as("__hstar"),
        col("__s.__r").as("__r"))
    val withThr = base.join(broadcast(thr), Seq(groupCol), "left")
    val below = withThr
      .where(col("__hstar").isNull || col("__h") < col("__hstar"))
      .select(outCols: _*)
    // boundary tie set: inclusive running sum in id order against the
    // leftover allowance r — the only corpus-row window, spanning the
    // expected n_g/gridM-row tie set
    val tieW = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ties = withThr.where(col("__h") === col("__hstar"))
      .withColumn("__tc", sum(ntok).over(tieW))
      .where(col("__tc") <= col("__r"))
      .select(outCols: _*)
    below.unionByName(ties)
  }

  /** PER-GROUP token budgets — the mixture recipe as production writes
    * it ("100B tokens of web, 20B of code, 5B of books"): the same
    * grid-bounded histogram selection as [[tokenBudget]], with each
    * group's budget drawn from a bucket-sized `(groupCol, budget)`
    * frame (broadcast) instead of one shared scalar. Groups present in
    * the corpus but ABSENT from `budgets` are DROPPED — they are not
    * part of the mix, the [[stratified]] missing-stratum convention. A
    * NULL or negative budget raises (fail closed — a silently-skipped
    * domain is the worst failure a mixture builder can have). Scale
    * posture identical to [[tokenBudget]]: one map-side-combinable
    * histogram agg over the corpus, grid-bounded cumulative window,
    * stateless below-boundary filter, and an expected-n_g/1e6-row
    * boundary tie walk — a mega domain cannot serialize a task.
    */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String,
      budgets: DataFrame, nTokCol: String = "n_tokens",
      idCol: String = "doc_id", seed: Long = 42L): DataFrame =
    tokenBudgetPerGroupGrid(df, groupCol, budgets, nTokCol, idCol, seed, M)

  private[graft] def tokenBudgetPerGroupGrid(df: DataFrame,
      groupCol: String, budgets: DataFrame, nTokCol: String,
      idCol: String, seed: Long, gridM: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gridM > 0)
    // same loud-collision contract as [[tokenBudgetGrid]], plus __b
    // (the joined per-group budget column)
    val reservedPg =
      df.columns.toSet.intersect(Set("__h", "__b", "__hstar", "__r", "__tc"))
    require(reservedPg.isEmpty,
      s"tokenBudgetPerGroup: input columns ${reservedPg.mkString(", ")} " +
        "collide with internal names (__h, __b, __hstar, __r, __tc) — " +
        "rename them first")
    val outCols = df.columns.toSeq.map(col)
    val ntok = coalesce(col(nTokCol), lit(0L))
    val b = broadcast(budgets.select(col(groupCol),
      when(col("budget").isNotNull && col("budget") >= 0,
        col("budget").cast("long"))
        .otherwise(raise_error(concat(
          lit("tokenBudgetPerGroup: budget must be a non-negative Long "),
          lit("for group "), col(groupCol).cast("string"))).cast("long"))
        .as("__b")))
    // inner join: a group without a budget row is not in the mix
    val base = df.join(b, Seq(groupCol))
      .withColumn("__h",
        pmod(graft.functions.HashFunctions.md5_prefix(
          concat(lit(seed.toString), lit(":"), col(idCol).cast("string")),
          15), lit(gridM)))
    val hist = base.groupBy(col(groupCol), col("__h"))
      .agg(sum(ntok).as("__c"), max(col("__b")).as("__b"))
    val cumw = Window.partitionBy(col(groupCol)).orderBy(col("__h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("__cum", sum(col("__c")).over(cumw))
      .where(col("__cum") > col("__b"))
      .groupBy(col(groupCol))
      .agg(min(struct(col("__h"),
        (col("__b") - col("__cum") + col("__c")).as("__r"))).as("__s"))
      .select(col(groupCol), col("__s.__h").as("__hstar"),
        col("__s.__r").as("__r"))
    val withThr = base.join(broadcast(thr), Seq(groupCol), "left")
    val below = withThr
      .where(col("__hstar").isNull || col("__h") < col("__hstar"))
      .select(outCols: _*)
    val tieW = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ties = withThr.where(col("__h") === col("__hstar"))
      .withColumn("__tc", sum(ntok).over(tieW))
      .where(col("__tc") <= col("__r"))
      .select(outCols: _*)
    below.unionByName(ties)
  }

  /** Temperature-flattened mixture sampling (the mT5/UniMax multilingual
    * recipe — Xue et al. 2021 §3.2, Chung et al. 2023): per-group quota
    * ∝ n_g^α with α ∈ (0,1) flattening the head so low-resource groups
    * keep representation (α=1 is proportional, α→0 uniform). Quotas are
    * engine-exact: n_g^α snaps ONCE to the micro grid, then
    * `quota_g = total·w_micro_g div Σw_micro` runs in DECIMAL(38,0) —
    * no float ever crosses an engine boundary after the single snap,
    * and the product can't wrap a Long (total·w_micro reaches 2^63 for
    * a ~1e9-doc group at α near 1; 38 decimal digits carry it exactly
    * to any corpus size). Selection inside a group is the md5-rank
    * walk (same uniform rule as [[hashReservoir]]). Floor division
    * under-fills by < #groups docs — the published recipes treat
    * quotas as targets, not exact counts.
    *
    * Scale — the mega-group shape (UniMax group keys are languages or
    * k-means cells, power-law by construction: the "en" slice of a
    * 100 TB corpus is most of it): the quota is a COLUMN, so a plain
    * `row_number ≤ quota` window gets no WindowGroupLimit rescue and
    * would sort a whole group in ONE task. Instead the quota-th order
    * statistic of the md5 rank is computed on a per-(group, rank-value)
    * HISTOGRAM — the rank grid has only 1e6 values, so the histogram
    * (and the one window that cumulates it) is bounded by the GRID, not
    * the group: ≤ 1e6 rows per group at any corpus size. Rows strictly
    * below the group's boundary rank h* pass a stateless filter (zero
    * sort, zero shuffle on the corpus side — the quota/threshold tables
    * broadcast); only the h == h* tie set (expected n_g/1e6 rows) walks
    * a row_number window to take the leftover `r` ids. The selected SET
    * is identical to the direct per-group rank walk — SamplingSpec's
    * "histogram form equals the direct window form" test pins
    * set-equality against the reference `row_number ≤ quota` window on
    * a COARSE grid (97 buckets over 30k skewed rows), so every group's
    * boundary bucket carries a multi-hundred-row tie set and the
    * h*-and-r trim arithmetic is exercised at the boundary, not
    * vacuously.
    *
    * The corpus side is read TWICE (histogram pass + threshold-filter
    * pass) where the plain window form read it once — deliberate: both
    * passes are narrow column-pruned scans that parallelize perfectly,
    * while the single-pass window form serializes on the biggest
    * group's sort. Measured at sf0.1/local[32] the histogram form
    * costs 0.70 s (committed BENCH_FULL, r11) vs 0.30 s for the r10
    * window form — a 2.4× constant on a fixture where no group is
    * remotely mega; the trade is that constant against the unbounded
    * single-task sort a power-law group inflicts at scale. Do NOT
    * persist `base` to dodge the second scan: caching blocks AQE on
    * both consumers (the graph_triangles 4× cache regression pattern)
    * and pins corpus-sized data in executor memory.
    *
    * Overflow guard: `total·__w` runs in DECIMAL(38,0); a product
    * needing > 38 digits would yield NULL under Spark's non-ANSI
    * decimal arithmetic, and a NULL quota would silently fail OPEN
    * (no h* row → whole group kept). The quota column therefore
    * raises on NULL. With both factors Longs the product tops out at
    * (2^63)² ≈ 8.5e37 < 1e38, so the raise is provably unreachable
    * TODAY — it exists to fail closed the day the quota arithmetic is
    * widened (BigInt totals, composite weights), because the failure
    * it guards is the worst kind: a silently unsampled corpus.
    */
  def temperatureMix(df: DataFrame, groupCol: String, total: Long,
      alpha: Double, idCol: String = "doc_id",
      seed: Long = 42L): DataFrame =
    temperatureMixGrid(df, groupCol, total, alpha, idCol, seed, M)

  /** [[temperatureMix]] with the rank grid exposed — production always
    * uses the 1e6 grid (the oracle contract); SamplingSpec shrinks it
    * to force fat boundary tie sets that the 1e6 grid would only
    * produce on a >1e6-row fixture.
    */
  private[graft] def temperatureMixGrid(df: DataFrame, groupCol: String,
      total: Long, alpha: Double, idCol: String, seed: Long,
      gridM: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(total > 0 && alpha > 0.0 && alpha <= 1.0 && gridM > 0)
    val weights = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__w", floor(pow(col("n_docs").cast("double"),
        lit(alpha)) * 1000000.0 + lit(0.5)).cast("long"))
    val tot = weights.agg(sum("__w").as("__tot"))
    val quota = weights.crossJoin(broadcast(tot))
      .withColumn("__q", expr(
        s"CAST((CAST($total AS DECIMAL(38,0)) * __w) DIV __tot AS BIGINT)"))
      // NULL means the DECIMAL(38,0) product wrapped — fail CLOSED
      // (raise) rather than let the no-h*-row branch keep the group
      .withColumn("quota", when(col("__q").isNotNull, col("__q"))
        .otherwise(raise_error(concat(
          lit(s"temperatureMix: quota overflow (total=$total) for group "),
          col(groupCol).cast("string"))).cast("bigint")))
      .select(col(groupCol), col("n_docs"), col("quota"))

    selectSmallestByHash(df, groupCol,
        quota.select(col(groupCol), col("quota")), idCol, seed, gridM)
      .join(broadcast(quota), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("n_docs"), col("quota"))
  }

  /** The shared grid-bounded selection core: per group, the `quota_g`
    * rows with the smallest (md5-rank, id) — the machinery
    * [[temperatureMix]] and [[unimaxEpochs]] both select through.
    * `quota` is a bucket-sized (groupCol, quota) frame (broadcast).
    * Output: (idCol, groupCol). Scale: one map-side-combinable
    * histogram agg over the corpus, one grid-bounded window over the
    * histogram, a stateless below-boundary filter, and a row_number
    * over only the expected-n_g/gridM-row boundary tie set — no
    * full-group sort anywhere (see the temperatureMix scaladoc for the
    * derivation and the StressSpec 190k-row hot-group witness).
    */
  private[graft] def selectSmallestByHash(df: DataFrame, groupCol: String,
      quota: DataFrame, idCol: String, seed: Long,
      gridM: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), col(groupCol))
      .join(broadcast(quota), Seq(groupCol))
      .withColumn("__h", pmod(graft.functions.HashFunctions.md5_prefix(
        concat(lit(seed.toString), lit(":"), col(idCol).cast("string")), 15),
        lit(gridM)))
    // per-(group, rank-value) histogram: map-side combinable, key space
    // ≤ #groups × gridM — the ONLY aggregation that sees every row
    val hist = base.groupBy(col(groupCol), col("__h"))
      .agg(count(lit(1)).as("__c"))
    // cumulative count over the histogram (grid-bounded, never
    // corpus-bounded), then h* = smallest rank value whose cumulative
    // count reaches the quota, carrying r = quota − count(h < h*)
    // tie-set slots. A group whose quota ≥ n_docs never reaches the
    // quota → no h* row → the left join below keeps ALL its rows.
    val cumw = Window.partitionBy(col(groupCol)).orderBy(col("__h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("__cum", sum(col("__c")).over(cumw))
      .join(broadcast(quota), Seq(groupCol))
      .where(col("__cum") >= col("quota"))
      .groupBy(col(groupCol))
      .agg(min(struct(col("__h"),
        (col("quota") - col("__cum") + col("__c")).as("__r"))).as("__s"))
      .select(col(groupCol), col("__s.__h").as("__hstar"),
        col("__s.__r").as("__r"))

    val withThr = base.join(broadcast(thr), Seq(groupCol), "left")
    // below the boundary rank: a pure filter — the corpus side never
    // sorts or shuffles (quota and threshold joins both broadcast)
    val below = withThr
      .where(col("__hstar").isNull || col("__h") < col("__hstar"))
      .select(col(idCol), col(groupCol))
    // the boundary tie set (expected n_g/gridM rows): exact-trim to the
    // r smallest ids; the only row_number over corpus rows runs here
    val tieW = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
    val ties = withThr.where(col("__h") === col("__hstar"))
      .withColumn("__rn", row_number().over(tieW).cast("long"))
      .where(col("__rn") <= col("__r"))
      .select(col(idCol), col(groupCol))
    below.unionByName(ties)
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling", Algorithm 1) in its
    * WATER-FILLING closed form, plus the epoch expansion: given a
    * training budget of `budget` docs and an epoch cap E, every group
    * is capped at cap_g = n_g·E and the budget is levelled — groups
    * with cap ≤ t saturate, the rest get the common level
    * t = (B − Σ_{saturated} cap) div |unsaturated|. This is exactly the
    * paper's sequential smallest-first greedy except for ≤ #groups−1
    * integer-division remainder units (the greedy re-divides the
    * remainder at each step and hands it to the largest groups; the
    * level form leaves it unallocated — quotas are targets, the
    * published recipes' own convention). The level form is one sort +
    * prefix-sum over the #groups-row cap table: symmetric, engine-
    * exact, no sequential state.
    *
    * Expansion (the data-constrained training mix, cf. Muennighoff et
    * al. 2023): quota_g = full·n_g + part docs materialize as
    * `full` complete epochs (every doc, epoch = 0..full−1) plus a
    * partial epoch of the `part` smallest-md5-rank docs (epoch =
    * full) — selected through [[selectSmallestByHash]], so the partial
    * draw is the SAME deterministic uniform rule as every other
    * sampler here and a mega group cannot serialize a task.
    * Output: (idCol, groupCol, epoch, quota) — Σ rows per group =
    * quota_g ≤ budget in total.
    *
    * Cardinality bound: the water-level sort + prefix sum run as ONE
    * unpartitioned window over the #groups-row cap table — correct and
    * cheap for the keys UniMax is about (languages, sources: 10²–10⁴
    * groups), but a caller grouping by a FINE key (k-means cells at
    * the reference's 1.05M-cluster geometry, web domains) would
    * serialize a mega sort into a single task. The call therefore
    * fails FAST when the group count exceeds `maxGroups` (one cheap
    * count over the counts agg), naming the fix, instead of stalling
    * inside an unexplained single-task stage.
    */
  def unimaxEpochs(df: DataFrame, groupCol: String, budget: Long,
      epochCap: Int, idCol: String = "doc_id",
      seed: Long = 42L, maxGroups: Long = 1000000L): DataFrame =
    unimaxEpochsGrid(df, groupCol, budget, epochCap, idCol, seed, M,
      maxGroups)

  private[graft] def unimaxEpochsGrid(df: DataFrame, groupCol: String,
      budget: Long, epochCap: Int, idCol: String, seed: Long,
      gridM: Long, maxGroups: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && epochCap > 0 && gridM > 0 && maxGroups > 0)
    // the cap table is read by the guard count, the water-level windows,
    // and BOTH expansion branches (full epochs + partial draw) — since
    // the guard forces an action anyway, checkpoint the ≤ maxGroups-row
    // table at that moment so the corpus-wide counts agg runs ONCE
    // instead of once per consumer
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("cap", col("n_docs") * epochCap)
      .localCheckpoint()
    // fail FAST before the unpartitioned cap-table windows, not inside
    // them: one map-side-combined count-agg pass whose result is exactly
    // the row count those windows would otherwise sort in ONE task
    val nGroups = counts.count()
    require(nGroups <= maxGroups,
      s"unimaxEpochs: group column '$groupCol' has $nGroups distinct " +
        s"values (maxGroups=$maxGroups) — the water-level allocation " +
        "sorts the cap table in one unpartitioned window, which a key " +
        "this fine (k-means cells, web domains) serializes into a " +
        "single mega task. Use a coarser group key, or raise maxGroups " +
        "deliberately if the cap table genuinely fits one task.")
    // water level over the #groups-row cap table: group (i) in
    // cap-ascending order saturates iff the budget can raise EVERY
    // unsaturated group at least to its cap:
    //   P_{i−1} + (k−i+1)·cap_i ≤ B.
    // The predicate is monotone (cap_{i−1} ≤ cap_i ⇒ LHS_{i−1} ≤
    // LHS_i), so saturated rows form a prefix and one max() finds i*.
    // These windows span #groups rows — bounded by the maxGroups guard
    // above (VERDICT r12 #3), so the single-task frame is a deliberate,
    // named budget rather than an assumption about the caller's key.
    val ow = Window.orderBy(col("cap").asc, col(groupCol).asc)
    val lv = counts
      .withColumn("__i", row_number().over(ow).cast("long"))
      .withColumn("__P", sum(col("cap")).over(
        ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__k", count(lit(1)).over(Window.partitionBy()))
      .withColumn("__sat",
        col("__P") - col("cap") + (col("__k") - col("__i") + 1) * col("cap")
          <= budget)
    val istar = lv.agg(
      coalesce(max(when(col("__sat"), col("__i"))), lit(0L)).as("__istar"),
      coalesce(max(when(col("__sat"), col("__P"))), lit(0L)).as("__Pstar"),
      max(col("__k")).as("__kk"))
    val quota = lv.crossJoin(broadcast(istar))
      .withColumn("quota",
        when(col("__istar") === col("__kk"), col("cap"))
          .otherwise(least(col("cap"),
            expr(s"(${budget}L - __Pstar) div (__kk - __istar)"))))
      .select(col(groupCol), col("n_docs"), col("cap"),
        col("quota").cast("long").as("quota"))

    val alloc = quota
      .withColumn("__full", expr("quota div n_docs"))
      .withColumn("__part", col("quota") % col("n_docs"))
    val base = df.select(col(idCol), col(groupCol))
      .join(broadcast(alloc), Seq(groupCol))
    // full epochs: every doc of the group, epoch 0..full−1 (groups with
    // full = 0 contribute nothing here — posexplode skips empty arrays)
    val fullRows = base
      .withColumn("epoch", explode(when(col("__full") >= 1,
        sequence(lit(0L), col("__full") - 1))
        .otherwise(array().cast("array<long>"))))
      .select(col(idCol), col(groupCol), col("epoch"), col("quota"))
    // partial epoch: the `part` smallest-md5-rank docs at epoch = full
    val partRows = selectSmallestByHash(df, groupCol,
        alloc.where(col("__part") > 0)
          .select(col(groupCol), col("__part").as("quota")),
        idCol, seed, gridM)
      .join(broadcast(alloc), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("__full").as("epoch"),
        col("quota"))
    fullRows.unionByName(partRows)
  }
}
