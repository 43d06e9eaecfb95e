package graft.oracle

import graft.index.Codebook
import graft.search.LSHSearch

/** DuckDB oracle SQL generated from TRAINED artifacts.
  *
  * The RQ serving core (assign / cluster index / reconstruct / beam search /
  * coarse→fine) is a deterministic function of the corpus AND the trained
  * codebook. Training (sampled k-means) is not SQL-expressible, but the trained
  * centroids are tiny (M×K×dim floats) — so the oracle inlines them as SQL
  * literals and replays the serving math exactly. Each `SparkEntry.oracles`
  * entry takes the fixture dir and reads its artifact through the same
  * dir-keyed `ArtifactCache` accessor as its query (training it first if
  * needed, with the query's fixed seeds), so the centroids here are the
  * exact floats the Spark query used — whether or not it has run yet.
  *
  * Float-parity contract (mirrors Codebook.assign / VectorOps):
  *  - centroid literals are float values widened to double, printed with
  *    Java's shortest round-trip repr — DuckDB parses back the same double;
  *  - distances/dots fold sequentially in double; DuckDB's
  *    `list_sum(list_transform(...))` matches bit-exactly;
  *  - float additions (RQ reconstruction sums centroids in FLOAT,
  *    RQ.scala reconstruct) are `CAST(p[1] + p[2] AS REAL)`: the double add
  *    of two float-valued doubles is exact, and the single rounding to REAL
  *    equals IEEE float addition;
  *  - beam-search softmax (CodebookBeamSearch.searchOne) keeps per-level
  *    raw scores in an ORDERED LIST so max / Σexp fold in code order,
  *    matching the Scala loop's accumulation order.
  */
object GeneratedOracles {

  /** Shortest round-trip double literal (Java Double.toString is
    * guaranteed to parse back to the same double). ALWAYS carries an
    * exponent marker: DuckDB types a bare decimal literal as DECIMAL and
    * then evaluates literal-only arithmetic (e.g. the reconstruct-all
    * centroid sums) EXACTLY in decimal — which rounds float-boundary ties
    * differently than double arithmetic (found: one element off by one
    * float ulp at sf0.001). `E0` forces DOUBLE typing at parse time. */
  private def dLit(d: Double): String = {
    if (d.isNaN || d.isInfinite)
      throw new IllegalArgumentException(s"non-finite literal $d")
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  private def centList(cent: Array[Float]): String =
    cent.map(f => dLit(f.toDouble)).mkString("[", ", ", "]")

  /** Level m's centroids as a VALUES CTE `cm(code, cent DOUBLE[])`. */
  private def valuesCte(cb: Codebook, m: Int): String = {
    val rows = cb.levels(m).zipWithIndex
      .map { case (c, code) => s"($code, ${centList(c)})" }
      .mkString(", ")
    s"c$m(code, cent) AS (VALUES $rows)"
  }

  /** Level m's centroids as one literal list-of-lists (code order). */
  private def centsLit(cb: Codebook, m: Int): String =
    cb.levels(m).map(centList).mkString("[", ", ", "]")

  private def ks(cb: Codebook): Seq[String] =
    (0 until cb.numLevels).map(i => s"k$i")

  private def joinCond(cb: Codebook, a: String, b: String): String =
    ks(cb).map(k => s"$a.$k = $b.$k").mkString(" AND ")

  /** Sequential FLOAT-accumulating centroid sum over aliased VALUES tables
    * t0..t(M-1) — replays Codebook.reconstruct / VectorOps.vecAdd. */
  private def recExpr(cb: Codebook): String =
    (1 until cb.numLevels).foldLeft("t0.cent") { (acc, m) =>
      s"list_transform(list_zip($acc, t$m.cent), p -> CAST(p[1] + p[2] AS REAL))"
    }

  /** CTEs: corpus as doubles + centroid VALUES + the greedy residual
    * argmin chain → `assign(doc_id, k0..kM-1)` (Codebook.assign,
    * ref MEVI/pq.py:281-305). */
  private def assignCtes(cb: Codebook,
      src: String = "embeddings"): String = {
    val m0 = cb.numLevels
    val values = (0 until m0).map(m => valuesCte(cb, m)).mkString(",\n")
    val chain = (0 until m0).map { m =>
      val keep = (0 until m).map(i => s"k$i, ").mkString
      val src = if (m == 0) "d" else s"r${m - 1}"
      val base =
        s"""s$m AS (SELECT doc_id, ${keep}v$m, code, cent,
           |  list_sum(list_transform(list_zip(v$m, cent), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
           |  FROM $src CROSS JOIN c$m),
           |a$m AS (SELECT doc_id, ${keep}v$m, code AS k$m, cent AS cent$m
           |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM s$m)
           |  WHERE rn = 1)""".stripMargin
      if (m < m0 - 1)
        base + s""",
           |r$m AS (SELECT doc_id, ${keep}k$m, list_transform(list_zip(v$m, cent$m), p -> p[1] - p[2]) AS v${m + 1} FROM a$m)""".stripMargin
      else base
    }.mkString(",\n")
    s"""d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM $src),
       |$values,
       |$chain,
       |assign AS (SELECT doc_id, ${ks(cb).mkString(", ")} FROM a${m0 - 1})""".stripMargin
  }

  /** CTEs: query side + beam search (CodebookBeamSearch.searchOne, l2 +
    * "prod" log-softmax scoring, ref MEVI/pq.py:613-713) →
    * `beams(query_id, k0..kM-1, cum)`, top-`beams` tuples per query. */
  private def beamCtes(cb: Codebook, beams: Int, maxQueryId: Int): String =
    beamCtesFor(cb, beams, s"WHERE vec_id < $maxQueryId", "")

  /** Generalized beam CTE chain: `where` filters the embeddings source
    * (empty = whole corpus — the doc_multiclus top-T assignment), and
    * every CTE name takes prefix `p` so two chains (query beams + doc
    * top-T) can coexist in one statement. Output: `${p}beams(query_id,
    * k0..kM-1, cum)`. The centroid VALUES tables c0..cM-1 are NOT
    * declared here (shared across chains; declare once per statement). */
  private def beamCtesFor(cb: Codebook, beams: Int, where: String,
      p: String, src: String = "embeddings"): String = {
    val m0 = cb.numLevels
    val k = cb.k
    val levels = (0 until m0).map { m =>
      val keep = (0 until m).map(i => s"k$i, ").mkString
      val src = if (m == 0) s"${p}q" else s"${p}y${m - 1}"
      val carry = if (m == 0) "" else "cum, "
      val cumExpr = if (m == 0) "raws[CAST(code AS INT) + 1] - logz"
        else "cum + raws[CAST(code AS INT) + 1] - logz"
      val tieOrder = ((0 until m).map(i => s"k$i") :+ "code").mkString(", ")
      val base =
        s"""${p}e$m AS (SELECT query_id, ${keep}${carry}u$m,
           |  list_transform(${centsLit(cb, m)},
           |    cent -> -list_sum(list_transform(list_zip(u$m, cent), p -> (p[1] - p[2]) * (p[1] - p[2])))) AS raws
           |  FROM $src),
           |${p}g$m AS (SELECT *, list_max(raws) AS mx FROM ${p}e$m),
           |${p}h$m AS (SELECT *, mx + ln(list_sum(list_transform(raws, x -> exp(x - mx)))) AS logz FROM ${p}g$m),
           |${p}x$m AS (SELECT query_id, ${keep}u$m, code, $cumExpr AS cum FROM ${p}h$m CROSS JOIN ${p}krange),
           |${p}b$m AS (SELECT query_id, ${keep}u$m, code AS k$m, cum
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cum DESC, $tieOrder) AS rn FROM ${p}x$m)
           |  WHERE rn <= $beams)""".stripMargin
      if (m < m0 - 1)
        base + s""",
           |${p}y$m AS (SELECT b.query_id, ${(0 to m).map(i => s"b.k$i, ").mkString}b.cum,
           |  list_transform(list_zip(b.u$m, c$m.cent), p -> p[1] - p[2]) AS u${m + 1}
           |  FROM ${p}b$m b JOIN c$m ON c$m.code = b.k$m)""".stripMargin
      else base
    }.mkString(",\n")
    s"""${p}q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS u0 FROM $src $where),
       |${p}krange AS (SELECT unnest(range(0, $k)) AS code),
       |$levels,
       |${p}beams AS (SELECT query_id, ${ks(cb).mkString(", ")}, cum FROM ${p}b${m0 - 1})""".stripMargin
  }

  private def codesStr(prefix: String, cb: Codebook): String =
    s"array_to_string([${ks(cb).map(k => s"$prefix$k").mkString(", ")}], ',')"

  // -------------------------------------------------------------------
  // Per-query oracles
  // -------------------------------------------------------------------

  def rqAssignSql(cb: Codebook): String =
    s"""WITH ${assignCtes(cb)}
       |SELECT doc_id, ${codesStr("", cb)} AS codes FROM assign ORDER BY doc_id""".stripMargin

  def rqClusterIndexSql(cb: Codebook, maxChunk: Int): String =
    s"""WITH ${assignCtes(cb)},
       |idx0 AS (SELECT doc_id, ${codesStr("", cb)} AS codes, k0 AS c0 FROM assign),
       |csz AS (SELECT codes, count(*) AS csize FROM idx0 GROUP BY codes),
       |ch AS (SELECT i.doc_id, i.codes, i.c0, c.csize,
       |  CAST(CAST('0x' || substr(md5(CAST(i.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |    % greatest(CAST(ceil(c.csize / $maxChunk.0) AS BIGINT), 1) AS INT) AS chunk
       |  FROM idx0 i JOIN csz c USING (codes))
       |SELECT codes, c0, chunk, array_to_string(list_sort(list(doc_id)), ',') AS doc_ids, csize
       |FROM ch GROUP BY codes, c0, chunk, csize ORDER BY codes, chunk""".stripMargin

  def rqReconstructSql(cb: Codebook): String = {
    val joins = (0 until cb.numLevels)
      .map(m => s"JOIN c$m t$m ON t$m.code = a.k$m").mkString(" ")
    s"""WITH ${assignCtes(cb)},
       |rc AS (SELECT a.doc_id, ${recExpr(cb)} AS recv FROM assign a $joins)
       |SELECT r.doc_id,
       |  round(sqrt(list_sum(list_transform(list_zip(d.v0, r.recv),
       |    p -> (p[1] - CAST(p[2] AS DOUBLE)) * (p[1] - CAST(p[2] AS DOUBLE))))), 6) AS recon_error
       |FROM rc r JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  def rqNdocSql(cb: Codebook, beams: Int, maxQueryId: Int): String =
    s"""WITH ${assignCtes(cb)},
       |${beamCtes(cb, beams, maxQueryId)},
       |cand AS (SELECT DISTINCT b.query_id, a.doc_id FROM beams b JOIN assign a ON ${joinCond(cb, "a", "b")}),
       |cnts AS (SELECT qq.query_id, count(c.doc_id) AS cnt
       |  FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN cand c ON c.query_id = qq.query_id
       |  GROUP BY qq.query_id)
       |SELECT round(avg(cnt), 6) AS ndoc_per_query, count(*) AS n_queries FROM cnts""".stripMargin

  /** V6: the coarse beam tuples themselves — (query_id, crank, codes,
    * logprob), replaying CodebookBeamSearch.search's l2+"prod" scoring and
    * its lexicographic-codes tie-break. */
  def v6BeamSql(cb: Codebook, beams: Int, maxQueryId: Int): String = {
    val tieOrder = ks(cb).mkString(", ")
    // beamCtes' residual step joins the centroid VALUES tables (c0..cM-1);
    // the other RQ oracles inherit them from assignCtes — declare them here
    val values = (0 until cb.numLevels).map(m => valuesCte(cb, m)).mkString(",\n")
    s"""WITH $values,
       |${beamCtes(cb, beams, maxQueryId)}
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cum DESC, $tieOrder) AS crank,
       |  ${codesStr("", cb)} AS codes, round(cum, 6) AS logprob
       |FROM beams ORDER BY query_id, crank""".stripMargin
  }

  /** doc_multiclus > 1: every doc's top-T code tuples by the SAME beam
    * search the query side runs (pq.get_topk_document_mapping beam-searches
    * the doc embeddings, MEVI/main_models.py:3222-3245 / pq.py:716-741) —
    * the per-level argmin of rq_assign extended to row_number ≤ T. */
  def rqMulticlusSql(cb: Codebook, t: Int): String = {
    val tieOrder = ks(cb).mkString(", ")
    val values = (0 until cb.numLevels).map(m => valuesCte(cb, m)).mkString(",\n")
    s"""WITH $values,
       |${beamCtesFor(cb, t, "", "")}
       |SELECT query_id AS doc_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cum DESC, $tieOrder) AS crank,
       |  ${codesStr("", cb)} AS codes, round(cum, 6) AS logprob
       |FROM beams ORDER BY doc_id, crank""".stripMargin
  }

  /** Coarse→fine over the MULTI-cluster inverted index (doc_multiclus=T,
    * MEVI/main_models.py:3246-3266): candidates come from a doc's T best
    * tuples instead of its argmin one; the DISTINCT dedup is A10's
    * max-over-identical-scores. Two beam chains coexist — the query side
    * (unprefixed) and the doc top-T side (prefix `m`). */
  def coarseFineMulticlusSql(cb: Codebook, beams: Int, k: Int, t: Int,
      maxQueryId: Int): String = {
    val values = (0 until cb.numLevels).map(m => valuesCte(cb, m)).mkString(",\n")
    s"""WITH $values,
       |d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM embeddings),
       |${beamCtesFor(cb, beams, s"WHERE vec_id < $maxQueryId", "")},
       |${beamCtesFor(cb, t, "", "m")},
       |massign AS (SELECT DISTINCT query_id AS doc_id, ${ks(cb).mkString(", ")} FROM mbeams),
       |cand AS (SELECT DISTINCT b.query_id, a.doc_id FROM beams b JOIN massign a ON ${joinCond(cb, "a", "b")}),
       |sc AS (SELECT c.query_id, c.doc_id,
       |  list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM cand c JOIN q qq USING (query_id) JOIN d dd USING (doc_id)),
       |rk AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Topic-model score mix over the multicluster index
    * (`get_inference_scores`, MEVI/main_models.py:3539-3552): per
    * (query, membership, doc), score = exp(beam cum) · (r·dprob +
    * (1−r)·qd), max-deduped across memberships (multiclus_score_aggr).
    * dprob replays docClusterProba: doc · float-reconstruction of its
    * membership tuple. */
  def coarseFineTopicSql(cb: Codebook, beams: Int, k: Int, t: Int,
      r: Double, maxQueryId: Int, aggr: String = "max"): String = {
    require(aggr == "max" || aggr == "sum", s"aggr must be max|sum: $aggr")
    val kList = ks(cb).mkString(", ")
    // 'sum' replays the engine's membership-ordered sequential fold
    // (CoarseFineRetriever sum-dedup): float addition is order-sensitive,
    // so both engines fold in code-tuple order — the BM25 term-fold pattern
    val aggExpr =
      if (aggr == "sum") s"list_sum(list(score ORDER BY $kList))"
      else "max(score)"
    val values = (0 until cb.numLevels).map(m => valuesCte(cb, m)).mkString(",\n")
    val rallFrom = (0 until cb.numLevels).map(m => s"c$m t$m").mkString(" CROSS JOIN ")
    val rallCodes = (0 until cb.numLevels).map(m => s"t$m.code AS k$m").mkString(", ")
    s"""WITH $values,
       |d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM embeddings),
       |${beamCtesFor(cb, beams, s"WHERE vec_id < $maxQueryId", "")},
       |${beamCtesFor(cb, t, "", "m")},
       |massign AS (SELECT DISTINCT query_id AS doc_id, $kList FROM mbeams),
       |rall AS (SELECT $rallCodes, ${recExpr(cb)} AS recv FROM $rallFrom),
       |dp AS (SELECT a.doc_id, ${ks(cb).map(x => s"a.$x").mkString(", ")},
       |  list_sum(list_transform(list_zip(dd.v0, r.recv), p -> p[1] * CAST(p[2] AS DOUBLE))) AS dprob
       |  FROM massign a JOIN d dd USING (doc_id) JOIN rall r ON ${joinCond(cb, "r", "a")}),
       |sc AS (SELECT b.query_id, a.doc_id, ${ks(cb).map(x => s"a.$x").mkString(", ")},
       |  exp(b.cum) * (${dLit(r)} * a.dprob + ${dLit(1.0 - r)} *
       |    list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2]))) AS score
       |  FROM beams b JOIN dp a ON ${joinCond(cb, "a", "b")}
       |  JOIN q qq ON qq.query_id = b.query_id
       |  JOIN d dd ON dd.doc_id = a.doc_id),
       |ag AS (SELECT query_id, doc_id, $aggExpr AS score FROM sc GROUP BY query_id, doc_id),
       |rk AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM ag)
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def coarseFineSql(cb: Codebook, beams: Int, k: Int, maxQueryId: Int): String =
    s"""WITH ${assignCtes(cb)},
       |${beamCtes(cb, beams, maxQueryId)},
       |cand AS (SELECT DISTINCT b.query_id, a.doc_id FROM beams b JOIN assign a ON ${joinCond(cb, "a", "b")}),
       |sc AS (SELECT c.query_id, c.doc_id,
       |  list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM cand c JOIN q qq USING (query_id) JOIN d dd USING (doc_id)),
       |rk AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def coarseFineBudgetedSql(cb: Codebook, beams: Int, k: Int, budget: Int,
      maxQueryId: Int): String = {
    val kList = ks(cb).mkString(", ")
    val rallFrom = (0 until cb.numLevels).map(m => s"c$m t$m").mkString(" CROSS JOIN ")
    val rallCodes = (0 until cb.numLevels).map(m => s"t$m.code AS k$m").mkString(", ")
    s"""WITH ${assignCtes(cb)},
       |${beamCtes(cb, beams, maxQueryId)},
       |csz2 AS (SELECT $kList, count(*) AS csize FROM assign GROUP BY $kList),
       |rall AS (SELECT $rallCodes, ${recExpr(cb)} AS recv FROM $rallFrom),
       |resc AS (SELECT b.query_id, ${ks(cb).map(x => s"b.$x").mkString(", ")}, cs.csize,
       |  list_sum(list_transform(list_zip(qq.u0, r.recv), p -> p[1] * CAST(p[2] AS DOUBLE))) AS rscore
       |  FROM beams b JOIN csz2 cs ON ${joinCond(cb, "cs", "b")}
       |  JOIN rall r ON ${joinCond(cb, "r", "b")}
       |  JOIN q qq ON qq.query_id = b.query_id),
       |kept AS (SELECT query_id, $kList FROM (
       |  SELECT *, coalesce(sum(csize) OVER (PARTITION BY query_id ORDER BY rscore DESC, $kList
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior FROM resc)
       |  WHERE prior < $budget),
       |cand AS (SELECT DISTINCT b.query_id, a.doc_id FROM kept b JOIN assign a ON ${joinCond(cb, "a", "b")}),
       |sc AS (SELECT c.query_id, c.doc_id,
       |  list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM cand c JOIN q qq USING (query_id) JOIN d dd USING (doc_id)),
       |rk AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** T4/V9: IVF probe search — 1-level cell assignment, top-`nprobe`
    * cells per query (L2 to the cell centroid, cell-id tie-break), exact
    * IP re-rank inside the probed cells (IVFIndex.search). */
  def ivfKnnSql(cb: Codebook, nprobe: Int, k: Int, maxQueryId: Int): String = {
    require(cb.numLevels == 1, "IVF oracle expects a 1-level codebook")
    s"""WITH ${assignCtes(cb)},
       |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS u0 FROM embeddings WHERE vec_id < $maxQueryId),
       |pd AS (SELECT q.query_id, code AS cell,
       |  list_sum(list_transform(list_zip(q.u0, cent), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM q CROSS JOIN c0),
       |probe AS (SELECT query_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn FROM pd)
       |  WHERE rn <= $nprobe),
       |cand AS (SELECT DISTINCT p.query_id, a.doc_id FROM probe p JOIN assign a ON a.k0 = p.cell),
       |sc AS (SELECT c.query_id, c.doc_id,
       |  list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM cand c JOIN q qq USING (query_id) JOIN d dd USING (doc_id)),
       |rk AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** SemDeDup oracle: replays [[graft.pipeline.Dedup.semDeDup]] from the
    * inlined 1-level codebook — nearest-centroid assignment (the shared
    * `assignCtes` chain), centroid-cosine priority key, and the one-pass
    * τ-dominance drop rule, all compared on the micro grid so the kept
    * set is bit-exact. */
  def semDeDupSql(cb: Codebook, tau: Double, maxCell: Int = 4096): String = {
    require(cb.numLevels == 1, "SemDeDup oracle expects a 1-level codebook")
    val tauMicro = math.floor(tau * 1000000.0 + 0.5).toLong
    // the sz/csok cap CTEs model Dedup.semDeDup's maxCell fail-open rule
    // at ANY scale (over-cap cells never enter the pair join, so their
    // members fall out of `dr` and surface kept = true) — without them a
    // fixture crossing the cap would silently diverge from the oracle
    // while semDeDupRefinedSql stayed exact
    s"""WITH ${assignCtes(cb)},
       |e AS (SELECT a0.doc_id, a0.k0 AS cell, a0.v0,
       |        sqrt(list_sum(list_transform(a0.v0, x -> x * x))) AS nrm,
       |        sqrt(list_sum(list_transform(a0.cent0, x -> x * x))) AS cnrm,
       |        list_sum(list_transform(list_zip(a0.v0, a0.cent0), p -> p[1] * p[2])) AS cdot
       |      FROM a0),
       |cs AS (SELECT doc_id, cell, v0, nrm,
       |        CAST(floor(cdot / (nrm * cnrm) * 1000000 + 0.5) AS BIGINT) AS cent_sim_micro
       |      FROM e),
       |sz AS (SELECT cell, count(*) AS n FROM cs GROUP BY cell),
       |csok AS (SELECT cs.* FROM cs JOIN sz USING (cell) WHERE sz.n <= $maxCell),
       |dr AS (SELECT DISTINCT x.doc_id
       |      FROM csok x JOIN csok y ON x.cell = y.cell
       |        AND (y.cent_sim_micro < x.cent_sim_micro OR
       |             (y.cent_sim_micro = x.cent_sim_micro AND y.doc_id < x.doc_id))
       |        AND CAST(floor(list_sum(list_transform(list_zip(x.v0, y.v0), p -> p[1] * p[2]))
       |          / (x.nrm * y.nrm) * 1000000 + 0.5) AS BIGINT) >= $tauMicro)
       |SELECT cs.doc_id AS vec_id, CAST(cs.cell AS BIGINT) AS cell,
       |  cs.cent_sim_micro, dr.doc_id IS NULL AS kept
       |FROM cs LEFT JOIN dr ON dr.doc_id = cs.doc_id
       |ORDER BY cs.doc_id""".stripMargin
  }

  /** 1-level nearest-centroid assignment with PREFIXED CTE names, so a
    * second codebook's chain can coexist with [[assignCtes]] in one
    * statement (the SemDeDup refinement pass). `src` must expose
    * (vec_id, embedding); output `${p}a0(doc_id, v0, k0, cent0)`.
    */
  private[graft] def assign1Ctes(cb: Codebook, src: String, p: String): String = {
    require(cb.numLevels == 1)
    val rows = cb.levels(0).zipWithIndex
      .map { case (c, code) => s"($code, ${centList(c)})" }
      .mkString(", ")
    s"""${p}c0(code, cent) AS (VALUES $rows),
       |${p}d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM $src),
       |${p}s0 AS (SELECT doc_id, v0, code, cent,
       |  list_sum(list_transform(list_zip(v0, cent), pp -> (pp[1] - pp[2]) * (pp[1] - pp[2]))) AS dist
       |  FROM ${p}d CROSS JOIN ${p}c0),
       |${p}a0 AS (SELECT doc_id, v0, code AS k0, cent AS cent0
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM ${p}s0)
       |  WHERE rn = 1)""".stripMargin
  }

  /** SemDeDup with the `maxCell` cap and ONE refinement pass
    * ([[graft.pipeline.Dedup.semDeDupRefined]]): pass 1 applies the keep
    * rule only inside cells with ≤ maxCell members; members of over-cap
    * cells re-assign to the inlined SUB codebook and get the same rule
    * inside sub-cells, with over-cap SUB-cells failing open exactly like
    * pass 1 (the Spark side runs the same cap on the second pass).
    * `sub = None` replays the no-hot-cell branch: pure pass 1 with every
    * cell under the cap.
    */
  def semDeDupRefinedSql(cb: Codebook, sub: Option[Codebook],
      tau: Double, maxCell: Int): String = {
    require(cb.numLevels == 1, "SemDeDup oracle expects a 1-level codebook")
    val tauMicro = math.floor(tau * 1000000.0 + 0.5).toLong
    def pairCos(x: String, y: String): String =
      s"""CAST(floor(list_sum(list_transform(list_zip($x.v0, $y.v0), p -> p[1] * p[2]))
         |          / ($x.nrm * $y.nrm) * 1000000 + 0.5) AS BIGINT) >= $tauMicro""".stripMargin
    def priority(x: String, y: String): String =
      s"""($y.cent_sim_micro < $x.cent_sim_micro OR
         |             ($y.cent_sim_micro = $x.cent_sim_micro AND $y.doc_id < $x.doc_id))""".stripMargin
    val base =
      s"""WITH ${assignCtes(cb)},
         |e AS (SELECT a0.doc_id, a0.k0 AS cell, a0.v0,
         |        sqrt(list_sum(list_transform(a0.v0, x -> x * x))) AS nrm,
         |        sqrt(list_sum(list_transform(a0.cent0, x -> x * x))) AS cnrm,
         |        list_sum(list_transform(list_zip(a0.v0, a0.cent0), p -> p[1] * p[2])) AS cdot
         |      FROM a0),
         |cs AS (SELECT doc_id, cell, v0, nrm,
         |        CAST(floor(cdot / (nrm * cnrm) * 1000000 + 0.5) AS BIGINT) AS cent_sim_micro
         |      FROM e),
         |sz AS (SELECT cell, count(*) AS n FROM cs GROUP BY cell),
         |csok AS (SELECT cs.* FROM cs JOIN sz USING (cell) WHERE sz.n <= $maxCell),
         |drb AS (SELECT DISTINCT x.doc_id
         |      FROM csok x JOIN csok y ON x.cell = y.cell
         |        AND ${priority("x", "y")}
         |        AND ${pairCos("x", "y")}),
         |basepass AS (SELECT csok.doc_id AS vec_id, CAST(csok.cell AS BIGINT) AS cell,
         |        csok.cent_sim_micro, drb.doc_id IS NULL AS kept, FALSE AS refined
         |      FROM csok LEFT JOIN drb ON drb.doc_id = csok.doc_id)""".stripMargin
    sub match {
      case None =>
        s"""$base
           |SELECT vec_id, cell, cent_sim_micro, kept, refined
           |FROM basepass ORDER BY vec_id""".stripMargin
      case Some(cb2) =>
        s"""$base,
           |hotsrc AS (SELECT cs.doc_id AS vec_id, cs.v0 AS embedding
           |      FROM cs JOIN sz USING (cell) WHERE sz.n > $maxCell),
           |${assign1Ctes(cb2, "hotsrc", "u")},
           |ue AS (SELECT ua0.doc_id, ua0.k0 AS cell, ua0.v0,
           |        sqrt(list_sum(list_transform(ua0.v0, x -> x * x))) AS nrm,
           |        sqrt(list_sum(list_transform(ua0.cent0, x -> x * x))) AS cnrm,
           |        list_sum(list_transform(list_zip(ua0.v0, ua0.cent0), p -> p[1] * p[2])) AS cdot
           |      FROM ua0),
           |ucs AS (SELECT doc_id, cell, v0, nrm,
           |        CAST(floor(cdot / (nrm * cnrm) * 1000000 + 0.5) AS BIGINT) AS cent_sim_micro
           |      FROM ue),
           |usz AS (SELECT cell, count(*) AS n FROM ucs GROUP BY cell),
           |ucsok AS (SELECT ucs.* FROM ucs JOIN usz USING (cell) WHERE usz.n <= $maxCell),
           |udr AS (SELECT DISTINCT x.doc_id
           |      FROM ucsok x JOIN ucsok y ON x.cell = y.cell
           |        AND ${priority("x", "y")}
           |        AND ${pairCos("x", "y")}),
           |refpass AS (SELECT ucs.doc_id AS vec_id, CAST(ucs.cell AS BIGINT) AS cell,
           |        ucs.cent_sim_micro, udr.doc_id IS NULL AS kept, TRUE AS refined
           |      FROM ucs LEFT JOIN udr ON udr.doc_id = ucs.doc_id)
           |SELECT vec_id, cell, cent_sim_micro, kept, refined FROM basepass
           |UNION ALL
           |SELECT vec_id, cell, cent_sim_micro, kept, refined FROM refpass
           |ORDER BY vec_id""".stripMargin
    }
  }

  /** Cluster-balanced sampling oracle: replays nearest-centroid cell
    * assignment from the inlined 1-level codebook (the shared
    * `assignCtes` chain), then [[graft.pipeline.Sampling.temperatureMix]]
    * over cell population — the n^α weight snapped once to the Long
    * micro-grid, `total·w div Σw` quotas, md5-rank draw per cell. */
  def clusterBalancedSql(cb: Codebook, total: Long, alpha: Double,
      seed: Long = 42L): String = {
    require(cb.numLevels == 1, "cluster-balanced oracle expects a 1-level codebook")
    s"""WITH ${assignCtes(cb)},
       |asg AS (SELECT doc_id AS vec_id, CAST(k0 AS BIGINT) AS cell FROM assign),
       |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs FROM asg GROUP BY cell),
       |w AS (SELECT cell, n_docs,
       |    CAST(floor(power(CAST(n_docs AS DOUBLE), ${alpha}e0) * 1000000 + 0.5) AS BIGINT) AS wm
       |  FROM cnt),
       |tt AS (SELECT SUM(wm) AS tot FROM w),
       |q AS (SELECT cell, n_docs, CAST(CAST($total AS HUGEINT) * wm // tot AS BIGINT) AS quota
       |     FROM w CROSS JOIN tt),
       |r AS (SELECT a.vec_id, a.cell, q.n_docs, q.quota,
       |      row_number() OVER (PARTITION BY a.cell
       |        ORDER BY CAST('0x' || substr(md5('$seed:' || a.vec_id), 1, 15) AS BIGINT) % 1000000 ASC,
       |                 a.vec_id ASC) AS rn
       |     FROM asg a JOIN q USING (cell))
       |SELECT vec_id, cell, n_docs, quota FROM r WHERE rn <= quota
       |ORDER BY vec_id""".stripMargin
  }

  /** In-context (cluster-ordered) packing: concat-and-chunk with the
    * document stream ordered by (nearest-centroid cell, doc_id) —
    * the pack_sequences replay with the inlined-codebook assignment
    * supplying the order key. One statement: assign → rank → running
    * sum → chunk explode. */
  def packSemanticSql(cb: Codebook, seqLen: Int): String = {
    require(cb.numLevels == 1, "pack-semantic oracle expects a 1-level codebook")
    s"""WITH ${assignCtes(cb)},
       |asg AS (SELECT doc_id, CAST(k0 AS BIGINT) AS cell FROM assign),
       |tok AS (SELECT doc_id,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n
       |  FROM documents),
       |j AS (SELECT t.doc_id, t.n, a.cell FROM tok t JOIN asg a USING (doc_id)),
       |r AS (SELECT doc_id, n, cell,
       |    CAST(row_number() OVER (ORDER BY cell, doc_id) - 1 AS BIGINT) AS pos
       |  FROM j),
       |c AS (SELECT doc_id, cell, n, pos,
       |    CAST(COALESCE(SUM(n) OVER (ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM r),
       |sp AS (SELECT seq_id, doc_id, cell,
       |    GREATEST(seq_id * $seqLen, st) AS lo,
       |    LEAST((seq_id + 1) * $seqLen, st + n) AS hi
       |  FROM c, unnest(generate_series(st // $seqLen, (st + n - 1) // $seqLen)) AS u(seq_id)
       |  WHERE n > 0)
       |SELECT seq_id, doc_id, cell, lo - seq_id * $seqLen AS off_in_seq,
       |  hi - lo AS n_tok
       |FROM sp ORDER BY seq_id, doc_id""".stripMargin
  }

  /** All RQ-codebook-derived oracles keyed by SparkEntry query name,
    * each a function of the trained codebook. */
  def rqOracles(beams: Int, topK: Int, budget: Int, maxChunk: Int,
      maxQueryId: Int): Map[String, Codebook => String] = Map(
    "rq_assign" -> (cb => rqAssignSql(cb)),
    "rq_cluster_index" -> (cb => rqClusterIndexSql(cb, maxChunk)),
    "rq_reconstruct" -> (cb => rqReconstructSql(cb)),
    "rq_reconstruct_all" -> (cb => reconstructAllSql(cb)),
    "rq_ndoc" -> (cb => rqNdocSql(cb, beams, maxQueryId)),
    "v6_beam" -> (cb => v6BeamSql(cb, beams, maxQueryId)),
    "coarse_fine" -> (cb => coarseFineSql(cb, beams, topK, maxQueryId)),
    "coarse_fine_budgeted" -> (cb => coarseFineBudgetedSql(cb, beams, topK, budget, maxQueryId)),
    "rq_multiclus" -> (cb => rqMulticlusSql(cb, t = 2)),
    "coarse_fine_multiclus" -> (cb => coarseFineMulticlusSql(cb, beams, topK, t = 2, maxQueryId)),
    "coarse_fine_topic" -> (cb => coarseFineTopicSql(cb, beams, topK, t = 2, r = 0.5, maxQueryId)),
    "coarse_fine_topic_r0" -> (cb => coarseFineTopicSql(cb, beams, topK, t = 2, r = 0.0, maxQueryId)),
    "coarse_fine_topic_add" -> (cb => coarseFineTopicSql(cb, beams, topK, t = 2, r = 0.5, maxQueryId, aggr = "sum")),
    // T=3: the regime where sum-dedup NEEDS the membership-ordered fold
    // (3-operand float addition isn't partial-agg-order invariant)
    "coarse_fine_topic_add_t3" -> (cb => coarseFineTopicSql(cb, beams, topK, t = 3, r = 0.5, maxQueryId, aggr = "sum")))

  def reconstructAllSql(cb: Codebook): String = {
    val values = (0 until cb.numLevels).map(m => valuesCte(cb, m)).mkString(",\n")
    val from = (0 until cb.numLevels).map(m => s"c$m t$m").mkString(" CROSS JOIN ")
    val codes = (0 until cb.numLevels).map(m => s"t$m.code").mkString(", ")
    // micro-units (floor(x·1e5 + 0.5) as BIGINT), not printf('%.5f'):
    // decimal formatting rounds HALF_UP in Java but ties-to-even in C at
    // exactly-representable …5 boundaries; the arithmetic form is
    // bit-identical across engines
    s"""WITH $values
       |SELECT array_to_string([$codes], ',') AS codes,
       |  array_to_string(list_transform(${recExpr(cb)},
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 100000 + 0.5) AS BIGINT)), ',') AS vec
       |FROM $from ORDER BY codes""".stripMargin
  }

  // -------------------------------------------------------------------
  // Learned-reranker oracle (V15/V19): the LR fit is not SQL-expressible,
  // but the trained model is 3 coefficients + an intercept — inline them
  // and replay sigmoid scoring (margin = sequential dot + intercept,
  // matching MLlib BLAS.dot) over the same aligned-candidate features.
  // -------------------------------------------------------------------

  /** Shared CTE block for every ensemble-family oracle: the aligned
    * candidate table — ip-ANN top-10 (`ann`/`score`/`arank`) and cosine
    * coarse top-5 (`coarse`/`crank`) over the first `maxQueryId` query
    * vectors, plus their left-aligned join `al`. The Spark twin is
    * `SparkEntry.annCoarseCandidates`; the two definitions must stay in
    * lockstep, which is why every consumer (ensemble_fuse, ensemble_grid,
    * v15_rerank) references THIS string rather than carrying a copy.
    */
  def ensembleBaseSql(maxQueryId: Int): String = {
    val dot = "list_sum(list_transform(list_zip(q.qvec, d.vec), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    s"""q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < $maxQueryId),
       |d AS (SELECT vec_id AS doc_id, embedding AS vec FROM embeddings),
       |s AS (SELECT q.query_id, d.doc_id, $dot AS ip,
       |        $dot
       |        / (sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |           * sqrt(list_sum(list_transform(d.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
       |      FROM q CROSS JOIN d WHERE d.doc_id <> q.query_id),
       |ann AS (SELECT query_id, doc_id, ip AS score,
       |          row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, doc_id ASC) AS arank FROM s),
       |coarse AS (SELECT query_id, doc_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS crank FROM s),
       |al AS (SELECT a.query_id, a.doc_id, a.score, c.crank
       |       FROM (SELECT * FROM ann WHERE arank <= 10) a
       |       LEFT JOIN (SELECT * FROM coarse WHERE crank <= 5) c
       |         ON a.query_id = c.query_id AND a.doc_id = c.doc_id)""".stripMargin
  }

  def rerankSql(coef: Array[Double], intercept: Double, k: Int,
      maxQueryId: Int): String = {
    require(coef.length == 3, s"expected 3 feature weights, got ${coef.length}")
    s"""WITH ${ensembleBaseSql(maxQueryId)},
       |f AS (SELECT query_id, doc_id, score AS x1,
       |        1.0 / (CAST(coalesce(crank, 1000) AS DOUBLE) + 1.0) AS x2,
       |        CASE WHEN crank IS NULL THEN 1.0 ELSE 0.0 END AS x3 FROM al),
       |p AS (SELECT query_id, doc_id,
       |        1.0 / (1.0 + exp(-((${dLit(coef(0))} * x1 + ${dLit(coef(1))} * x2 + ${dLit(coef(2))} * x3) + ${dLit(intercept)}))) AS prob
       |      FROM f),
       |rk AS (SELECT query_id, doc_id, prob,
       |         row_number() OVER (PARTITION BY query_id ORDER BY prob DESC, doc_id ASC) AS rank FROM p)
       |SELECT query_id, rank, doc_id, round(prob, 6) AS prob
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** GPT-3-style quality-filter oracle: replays
    * [[graft.pipeline.QualityClassifier]] scoring + Pareto keep rule from
    * the inlined trained weights. The margin unrolls ALL `buckets` terms
    * left-to-right — w_b · (n_b / n_tokens) with n_b coalesced to 0 —
    * the EXACT fold the engine's bucket-ordered aggregate performs
    * (absent buckets contribute the same exact ±0.0 terms), so the two
    * engines agree bit-for-bit before the micro snap. */
  def qualityParetoSql(coef: Array[Double], intercept: Double,
      alpha: Double, seed: Long, buckets: Int = 64): String = {
    require(coef.length == buckets,
      s"got ${coef.length} weights for $buckets buckets")
    val pivots = (0 until buckets).map(b =>
      s"CAST(coalesce(sum(CASE WHEN b = $b THEN n END), 0) AS BIGINT) AS n$b")
      .mkString(",\n        ")
    val terms = (0 until buckets).map(b =>
      s"${dLit(coef(b))} * (n$b / CAST(nt AS DOUBLE))")
      .mkString("\n          + ")
    s"""WITH tk AS (SELECT doc_id,
       |    unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents),
       |db AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % $buckets AS b,
       |    count(*) AS n
       |  FROM tk WHERE len(w) > 0 GROUP BY doc_id, b),
       |ft AS (SELECT doc_id,
       |        $pivots,
       |        CAST(sum(n) AS BIGINT) AS nt
       |      FROM db GROUP BY doc_id),
       |p AS (SELECT doc_id,
       |        CAST(floor(1.0 / (1.0 + exp(-(($terms) + ${dLit(intercept)})))
       |          * 1000000 + 0.5) AS BIGINT) AS prob_micro
       |      FROM ft),
       |ky AS (SELECT doc_id, prob_micro,
       |    CAST(floor((1.0 - (power(
       |      (CAST('0x' || substr(md5('$seed:' || doc_id), 1, 15) AS BIGINT)
       |        % 1000000 + 1.0e0) / 1000001.0e0,
       |      ${dLit(-1.0 / alpha)}) - 1.0)) * 1000000 + 0.5) AS BIGINT)
       |      AS thr_micro
       |  FROM p)
       |SELECT doc_id, prob_micro, thr_micro,
       |  prob_micro > thr_micro AS kept
       |FROM ky ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Plain-PQ oracles (pq_type pq: per-slice argmin, MEVI/pq.py:249-279)
  // -------------------------------------------------------------------

  private def pqValuesCte(cb: graft.index.PQCodebook, m: Int): String = {
    val rows = cb.subs(m).zipWithIndex
      .map { case (c, code) => s"($code, ${centList(c)})" }
      .mkString(", ")
    s"p$m(code, cent) AS (VALUES $rows)"
  }

  /** CTEs: corpus as doubles + per-slice argmin → `a0..a(M-1)` each
    * holding (doc_id, k_m). Slices are 1-based inclusive DuckDB ranges. */
  private def pqAssignCtes(cb: graft.index.PQCodebook): String = {
    val sd = cb.subDim
    val values = (0 until cb.numSub).map(m => pqValuesCte(cb, m)).mkString(",\n")
    val subs = (0 until cb.numSub).map { m =>
      val (lo, hi) = (m * sd + 1, (m + 1) * sd)
      s"""s$m AS (SELECT doc_id, code, cent,
         |  list_sum(list_transform(list_zip(v[$lo:$hi], cent), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |  FROM d CROSS JOIN p$m),
         |a$m AS (SELECT doc_id, code AS k$m, cent AS cent$m
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM s$m)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until cb.numSub).map(m => s"JOIN a$m USING (doc_id)").mkString(" ")
    s"""d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |$values,
       |$subs,
       |assign AS (SELECT a0.doc_id, ${(0 until cb.numSub).map(m => s"k$m").mkString(", ")},
       |  ${(0 until cb.numSub).map(m => s"cent$m").mkString(" || ")} AS rec
       |  FROM a0 $joins)""".stripMargin
  }

  def pqAssignSql(cb: graft.index.PQCodebook): String =
    s"""WITH ${pqAssignCtes(cb)}
       |SELECT doc_id, array_to_string([${(0 until cb.numSub).map(m => s"k$m").mkString(", ")}], ',') AS codes
       |FROM assign ORDER BY doc_id""".stripMargin

  /** Reconstruction = concatenation of chosen slice centroids (exact
    * float values — no arithmetic), plus the ‖x−rec‖ double fold. */
  def pqReconstructSql(cb: graft.index.PQCodebook): String =
    s"""WITH ${pqAssignCtes(cb)},
       |r AS (SELECT d.doc_id, rec,
       |  sqrt(list_sum(list_transform(list_zip(v, rec), p -> (p[1] - p[2]) * (p[1] - p[2])))) AS err
       |  FROM assign JOIN d ON d.doc_id = assign.doc_id)
       |SELECT doc_id,
       |  array_to_string(list_transform(rec, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)), ',') AS rec,
       |  CAST(floor(err * 1000000 + 0.5) AS BIGINT) AS recon_error
       |FROM r ORDER BY doc_id""".stripMargin

  /** IVF-PQ ADC search oracle: replays the full composite pipeline —
    * doc cell assignment (argmin over coarse cents), double-precision
    * residuals, per-slice PQ code choice (keeping the chosen centroid),
    * query probing (top-nprobe cells), and the asymmetric distance
    * Σ_m ‖qres-slice − chosen-centroid‖² (per-slice list_sum folds added
    * left-to-right in slice order — IVFPQ.search's LUT accumulation). */
  def ivfPqKnnSql(coarse: Codebook, pq: graft.index.PQCodebook,
      nprobe: Int, k: Int, maxQueryId: Int): String = {
    val m0 = pq.numSub
    val sd = pq.subDim
    val pqValues = (0 until m0).map(m => pqValuesCte(pq, m)).mkString(",\n")
    val l2 = (a: String, b: String) =>
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    val subCtes = (0 until m0).map { m =>
      val (lo, hi) = (m * sd + 1, (m + 1) * sd)
      s"""s$m AS (SELECT doc_id, cell, code, cent, ${l2(s"r[$lo:$hi]", "cent")} AS dist
         |  FROM dr CROSS JOIN p$m),
         |a$m AS (SELECT doc_id, cell, cent AS cent$m
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM s$m)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until m0).map(m => s"JOIN a$m USING (doc_id)").mkString(" ")
    val sliceDist = (0 until m0).map { m =>
      val (lo, hi) = (m * sd + 1, (m + 1) * sd)
      l2(s"qv[$lo:$hi]", s"cent$m")
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${valuesCte(coarse, 0)},
       |$pqValues,
       |dc AS (SELECT vec_id AS doc_id, v, code AS cell, cent
       |  FROM (SELECT e.vec_id, e.v, c0.code, c0.cent,
       |          row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2("e.v", "c0.cent")}, c0.code) AS rn
       |        FROM e CROSS JOIN c0) WHERE rn = 1),
       |dr AS (SELECT doc_id, cell, list_transform(list_zip(v, cent), p -> p[1] - p[2]) AS r FROM dc),
       |$subCtes,
       |dcodes AS (SELECT a0.doc_id, a0.cell, ${(0 until m0).map(m => s"cent$m").mkString(", ")}
       |  FROM a0 $joins),
       |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < $maxQueryId),
       |qp AS (SELECT query_id, cell, cent
       |  FROM (SELECT q.query_id, q.v AS qvv, c0.code AS cell, c0.cent,
       |          row_number() OVER (PARTITION BY q.query_id ORDER BY ${l2("q.v", "c0.cent")}, c0.code) AS pr
       |        FROM q CROSS JOIN c0) WHERE pr <= $nprobe),
       |qres AS (SELECT query_id, qp.cell,
       |    list_transform(list_zip(q.v, qp.cent), p -> p[1] - p[2]) AS qv
       |  FROM qp JOIN q USING (query_id)),
       |sc AS (SELECT query_id, doc_id, $sliceDist AS dist
       |  FROM qres JOIN dcodes USING (cell)),
       |rk AS (SELECT query_id, doc_id, dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id) AS rank FROM sc)
       |SELECT query_id, rank, doc_id, CAST(floor(dist * 1000000 + 0.5) AS BIGINT) AS dist
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Hierarchical-k-means id oracle: replays the trie walk — per level,
    * argmin over the centroids of the node REACHED so far (sibling
    * subtrees differ, so level-m tables are keyed by the parent PATH;
    * the `||` prefix build null-propagates, so docs that hit a leaf early
    * match nothing deeper and their path stays short). Path rendering is
    * null-skipping array_to_string — identical to Spark's concat_ws.
    * `nodes`: (path prefix, centroids) per trained node — the
    * `HierarchicalKMeans.fitLevels` rows, root prefix "" — in DFS order. */
  def hkmAssignSql(nodes: Seq[(String, Array[Array[Float]])]): String = {
    def level(p: String): Int = if (p.isEmpty) 0 else p.count(_ == ',') + 1
    val byLevel = nodes.groupBy { case (p, _) => level(p) }
    val maxLevel = byLevel.keys.max
    val root = byLevel(0).head._2
    val rootRows = root.zipWithIndex
      .map { case (c, code) => s"($code, ${centList(c)})" }.mkString(", ")
    val l2 = (a: String, b: String) =>
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    // a legitimately depth-1 tree (every root child under the 2k split
    // threshold) degenerates to the flat single-level argmin
    if (maxLevel == 0)
      return s"""WITH d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |hk0(code, cent) AS (VALUES $rootRows),
         |s0 AS (SELECT doc_id, code, ${l2("v", "cent")} AS dist FROM d CROSS JOIN hk0)
         |SELECT doc_id, CAST(code AS VARCHAR) AS path
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM s0)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    val levelCtes = (1 to maxLevel).map { m =>
      val rows = byLevel(m).flatMap { case (prefix, cents) =>
        cents.zipWithIndex.map { case (c, code) =>
          s"('$prefix', $code, ${centList(c)})"
        }
      }.mkString(", ")
      val pfx = (0 until m).map(i => s"CAST(k$i AS VARCHAR)")
        .mkString(" || ',' || ")
      s"""hk$m(parent, code, cent) AS (VALUES $rows),
         |s$m AS (SELECT a${m - 1}.doc_id, a${m - 1}.v,
         |    ${(0 until m).map(i => s"a${m - 1}.k$i").mkString(", ")}, hk$m.code,
         |    ${l2(s"a${m - 1}.v", s"hk$m.cent")} AS dist
         |  FROM a${m - 1} JOIN hk$m ON hk$m.parent = $pfx),
         |a$m AS (SELECT doc_id, v, ${(0 until m).map(i => s"k$i").mkString(", ")}, code AS k$m
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM s$m)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val joins = (1 to maxLevel)
      .map(m => s"LEFT JOIN (SELECT doc_id, k$m FROM a$m) j$m USING (doc_id)")
      .mkString(" ")
    s"""WITH d AS (SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |hk0(code, cent) AS (VALUES $rootRows),
       |s0 AS (SELECT doc_id, v, code, ${l2("v", "cent")} AS dist FROM d CROSS JOIN hk0),
       |a0 AS (SELECT doc_id, v, code AS k0
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist, code) AS rn FROM s0)
       |  WHERE rn = 1),
       |$levelCtes
       |SELECT a0.doc_id,
       |  array_to_string([${(0 to maxLevel).map(m => s"k$m").mkString(", ")}], ',') AS path
       |FROM a0 $joins ORDER BY doc_id""".stripMargin
  }

  /** Trie beam-search oracle (HierarchicalKMeans.beamSearchByLevels): per round,
    * beams sitting on a live node expand through that node's OWN
    * log-softmax (raws/max/Σexp as ORDERED lists — the Scala loop's code
    * order), beams on leaves carry unchanged (the ANTI JOIN), and the
    * frontier re-ranks to `beams` rows per query on (cum DESC, path ASC)
    * — DuckDB list comparison is element-wise with shorter-prefix-first,
    * identical to Scala's Seq ordering. `nodes` as in [[hkmAssignSql]];
    * `k` is the trained fan-out (the child codes each round tries). */
  def hkmBeamSql(nodes: Seq[(String, Array[Array[Float]])], k: Int,
      beams: Int, maxQueryId: Int): String = {
    def level(p: String): Int = if (p.isEmpty) 0 else p.count(_ == ',') + 1
    val byLevel = nodes.groupBy { case (p, _) => level(p) }
    val maxLevel = byLevel.keys.max + 1 // expansion rounds
    val krange = (0 until k).map(c => s"($c)").mkString(", ")
    def centsLit(cents: Array[Array[Float]]): String =
      cents.map(centList).mkString("[", ", ", "]")
    val rounds = (0 until maxLevel).map { m =>
      val rows = byLevel(m).map { case (prefix, cents) =>
        s"('$prefix', ${centsLit(cents)})"
      }.mkString(", ")
      s"""hb$m(parent, cents) AS (VALUES $rows),
         |x$m AS (SELECT b.query_id, b.v, b.path, b.cum, n.cents
         |  FROM b$m b JOIN hb$m n ON n.parent = COALESCE(array_to_string(b.path, ','), '')),
         |r$m AS (SELECT *, list_transform(cents,
         |    cent -> -list_sum(list_transform(list_zip(v, cent), p -> (p[1] - p[2]) * (p[1] - p[2])))) AS raws
         |  FROM x$m),
         |g$m AS (SELECT *, list_max(raws) AS mx FROM r$m),
         |h$m AS (SELECT *, mx + ln(list_sum(list_transform(raws, x -> exp(x - mx)))) AS logz FROM g$m),
         |un$m AS (SELECT query_id, v, list_append(path, code) AS path,
         |    cum + raws[code + 1] - logz AS cum
         |  FROM h$m CROSS JOIN krange
         |  UNION ALL
         |  SELECT b.query_id, b.v, b.path, b.cum FROM b$m b
         |  ANTI JOIN hb$m n ON n.parent = COALESCE(array_to_string(b.path, ','), '')),
         |b${m + 1} AS (SELECT query_id, v, path, cum FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cum DESC, path ASC) AS rn
         |    FROM un$m) WHERE rn <= $beams)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |krange(code) AS (VALUES $krange),
       |b0 AS (SELECT vec_id AS query_id, v, CAST([] AS INT[]) AS path, 0.0E0 AS cum
       |  FROM e WHERE vec_id < $maxQueryId),
       |$rounds
       |SELECT query_id, rn AS rank, array_to_string(path, ',') AS path,
       |  CAST(floor(cum * 1000000 + 0.5) AS BIGINT) AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cum DESC, path ASC) AS rn
       |      FROM b$maxLevel)
       |WHERE rn <= $beams ORDER BY query_id, rank""".stripMargin
  }

  /** k-NN-graph oracle: exact replay of KnnGraph.build — IVF-cell argmin
    * (inlined 1-level codebook), lowest-id cellmate seeding, then
    * `rounds` unrolled NN-descent iterations (symmetrize → degree cap →
    * neighbor-of-neighbor proposals → rescore → bounded top-k). Every
    * step tie-breaks on ids, so the replay is bit-exact. */
  /** The NN-descent graph CTE chain (everything up to `g<rounds>`,
    * rank column included) — shared by the build oracle and the
    * graph-walk serving oracle. */
  private def knnGraphCtes(cb: Codebook, k: Int, rounds: Int,
      maxDegree: Int): String = {
    require(cb.numLevels == 1, "knn-graph seed expects a 1-level IVF codebook")
    val ipSql = "list_sum(list_transform(list_zip(ds.v0, dd.v0), p -> p[1] * p[2]))"
    def scored(pairs: String, out: String): String =
      s"""$out AS (SELECT src, dst, $ipSql AS score
         |  FROM $pairs JOIN d ds ON ds.doc_id = src JOIN d dd ON dd.doc_id = dst)""".stripMargin
    def ranked(sc: String, out: String): String =
      s"""$out AS (SELECT src, dst, score,
         |  row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rank FROM $sc)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""u$r AS (SELECT src AS node, dst AS nb, score FROM g${r - 1} WHERE rank <= $k
         |  UNION SELECT dst AS node, src AS nb, score FROM g${r - 1} WHERE rank <= $k),
         |cap$r AS (SELECT node, nb FROM (
         |  SELECT node, nb, row_number() OVER (PARTITION BY node ORDER BY score DESC, nb) AS rn FROM u$r)
         |  WHERE rn <= $maxDegree),
         |pr$r AS (SELECT x.nb AS src, y.nb AS dst FROM cap$r x JOIN cap$r y
         |    ON x.node = y.node AND x.nb <> y.nb
         |  UNION SELECT node AS src, nb AS dst FROM cap$r
         |  UNION SELECT src, dst FROM g${r - 1} WHERE rank <= $k),
         |${scored(s"pr$r", s"sc$r")},
         |${ranked(s"sc$r", s"g$r")}""".stripMargin
    }.mkString(",\n")
    val tail = if (rounds > 0) s",\n$roundCtes" else ""
    s"""${assignCtes(cb)},
       |cells AS (SELECT doc_id, k0 AS cell FROM assign),
       |sd AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.doc_id <> b.doc_id),
       |g0p AS (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM sd)
       |  WHERE rn <= $k),
       |${scored("g0p", "sc0")},
       |${ranked("sc0", "g0")}$tail""".stripMargin
  }

  def knnGraphSql(cb: Codebook, k: Int, rounds: Int, maxDegree: Int): String =
    s"""WITH ${knnGraphCtes(cb, k, rounds, maxDegree)}
       |SELECT src, rank, dst, round(score, 6) AS score
       |FROM g$rounds WHERE rank <= $k ORDER BY src, rank""".stripMargin

  /** Graph-walk serving oracle (KnnGraph.walk + probeEntries): rebuild
    * the graph with the build CTEs, probe each query's `nprobe` nearest
    * IVF cells and take `perCell` lowest-id members as entry points,
    * then unroll `walkRounds` of frontier-beam expansion through the
    * final edge set; top-`walkK` of everything scored. */
  def knnGraphWalkSql(cb: Codebook, k: Int, rounds: Int, maxDegree: Int,
      walkK: Int, beam: Int, walkRounds: Int, nprobe: Int, perCell: Int,
      maxQueryId: Int): String = {
    val wip = "list_sum(list_transform(list_zip(wq.u, dd.v0), p -> p[1] * p[2]))"
    val walkCtes = (1 to walkRounds).map { r =>
      s"""wf${r - 1} AS (SELECT query_id, doc_id FROM (
         |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
         |  FROM ws${r - 1}) WHERE rn <= $beam),
         |wn$r AS (SELECT DISTINCT f.query_id, e.dst AS doc_id
         |  FROM wf${r - 1} f JOIN ge e ON e.src = f.doc_id),
         |ws$r AS (SELECT n.query_id, n.doc_id, $wip AS score
         |  FROM wn$r n JOIN wq ON wq.query_id = n.query_id JOIN d dd ON dd.doc_id = n.doc_id
         |  UNION SELECT query_id, doc_id, score FROM ws${r - 1})""".stripMargin
    }.mkString(",\n")
    val tail = if (walkRounds > 0) s",\n$walkCtes" else ""
    s"""WITH ${knnGraphCtes(cb, k, rounds, maxDegree)},
       |ge AS (SELECT src, dst FROM g$rounds WHERE rank <= $k),
       |wq AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS u
       |  FROM embeddings WHERE vec_id < $maxQueryId),
       |wpd AS (SELECT wq.query_id, code AS cell,
       |  list_sum(list_transform(list_zip(wq.u, cent), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM wq CROSS JOIN c0),
       |wprobe AS (SELECT query_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn FROM wpd)
       |  WHERE rn <= $nprobe),
       |went AS (SELECT query_id, doc_id FROM (
       |  SELECT p.query_id, m.doc_id,
       |    row_number() OVER (PARTITION BY p.query_id, m.cell ORDER BY m.doc_id) AS rn
       |  FROM wprobe p JOIN cells m ON m.cell = p.cell) WHERE rn <= $perCell),
       |ws0 AS (SELECT e.query_id, e.doc_id, $wip AS score
       |  FROM went e JOIN wq ON wq.query_id = e.query_id JOIN d dd ON dd.doc_id = e.doc_id)$tail
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM ws$walkRounds)
       |WHERE rank <= $walkK ORDER BY query_id, rank""".stripMargin
  }

  /** V11 codebook-alignment oracle: both codebooks and the Hungarian
    * permutation are inlined as VALUES; DuckDB recomputes each matched
    * pair's L2² cost from the centroid literals, so the replay certifies
    * the (new_code → old_code) pairing AND the cost arithmetic. The
    * optimality of the permutation itself is pinned by IVFSpec's
    * permutation-recovery and greedy-vs-optimal adversarial tests (the
    * reference's linear_sum_assignment, MEVI/pq.py:600-611). */
  def alignSql(old: Codebook, fresh: Codebook,
      perms: Array[Array[Int]]): String = {
    def cbValues(name: String, cb: Codebook): String = {
      val rows = cb.levels.zipWithIndex.flatMap { case (cents, m) =>
        cents.zipWithIndex.map { case (c, code) => s"($m, $code, ${centList(c)})" }
      }.mkString(", ")
      s"$name(level, code, cent) AS (VALUES $rows)"
    }
    val permRows = perms.zipWithIndex.flatMap { case (p, m) =>
      p.zipWithIndex.map { case (oldCode, newCode) => s"($m, $newCode, $oldCode)" }
    }.mkString(", ")
    s"""WITH ${cbValues("oldc", old)},
       |${cbValues("newc", fresh)},
       |perm(level, new_code, old_code) AS (VALUES $permRows)
       |SELECT p.level, p.new_code, p.old_code,
       |  CAST(floor(list_sum(list_transform(list_zip(n.cent, o.cent),
       |    q -> (q[1] - q[2]) * (q[1] - q[2]))) * 1000000 + 0.5) AS BIGINT) AS cost
       |FROM perm p
       |JOIN newc n ON n.level = p.level AND n.code = p.new_code
       |JOIN oldc o ON o.level = p.level AND o.code = p.old_code
       |ORDER BY p.level, p.new_code""".stripMargin
  }

  /** PCA/OPQ rotation oracle: replays PcaRotation.projectExpr — per kept
    * component, a sequential double fold of embedding×component products
    * (same shape as dotSql), then the micro-unit projection
    * (floor(x·1e6 + 0.5), the library-wide float-compare contract). The
    * trained component matrix is inlined as literals. */
  def pcaProjectSql(components: Array[Array[Double]]): String = {
    val comps = components
      .map(c => c.map(dLit).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    s"""SELECT vec_id, array_to_string(list_transform($comps,
       |    c -> CAST(floor(list_sum(list_transform(
       |           list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), c),
       |           p -> p[1] * p[2])) * 1000000 + 0.5) AS BIGINT)), ',') AS proj
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Seeded-LSH near-dup oracle (static — planes derive from the seed)
  // -------------------------------------------------------------------

  def lshNearDupSql(dim: Int, threshold: Double, tables: Int, bits: Int,
      seed: Long): String = {
    val planes = LSHSearch.seededPlanes(tables, bits, dim, seed)
    def bucketSql(t: Int): String =
      (0 until bits).map { b =>
        val plane = planes(t)(b).map(dLit).mkString("[", ", ", "]")
        s"""CASE WHEN list_sum(list_transform(list_zip(v, $plane), p -> p[1] * p[2])) >= 0 THEN '1' ELSE '0' END"""
      }.mkString("concat('" + t + ":', ", ", ", ")")
    val buckets = (0 until tables).map(bucketSql).mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT id, v, unnest([
       |    $buckets]) AS bkey FROM e),
       |p AS (SELECT DISTINCT x.id AS a, y.id AS b FROM b x JOIN b y ON x.bkey = y.bkey AND x.id < y.id),
       |sc AS (SELECT p.a, p.b,
       |  sqrt(list_sum(list_transform(list_zip(ea.v, eb.v), q -> (q[1] - q[2]) * (q[1] - q[2])))) AS dist
       |  FROM p JOIN e ea ON ea.id = p.a JOIN e eb ON eb.id = p.b)
       |SELECT a, b, round(dist, 6) AS dist FROM sc WHERE dist <= ${dLit(threshold)} ORDER BY a, b""".stripMargin
  }

  // -------------------------------------------------------------------
  // BPE tokenizer oracle: replay the TRAINED merge table in SQL
  // -------------------------------------------------------------------

  /** Replays [[graft.pipeline.Bpe.applyMerges]] with the learned merges
    * inlined. A word is encoded as `(h)(e)(l)(l)(o)` — token contents are
    * `[a-z0-9]+` so parentheses never collide — and each merge (l, r)
    * becomes one non-overlapping left-to-right `replace('(l)(r)' →
    * '(lr)')`, which is exactly the engine's accumulator-fold pass: the
    * scan resumes after each replacement, so a just-merged token can't be
    * the left of another match in the same pass, and adjacent runs like
    * `(a)(a)(a)(a)` collapse pairwise `(aa)(aa)` the way the fold does.
    * Merges nest in rank order; symbols are `[a-z0-9]+` so no escaping. */
  def bpeTokenizeSql(merges: Seq[(String, String)]): String = {
    val encoded = "'(' || array_to_string(string_split(w, ''), ')(') || ')'"
    val replayed = merges.foldLeft(encoded) { case (acc, (l, r)) =>
      s"replace($acc, '($l)($r)', '($l$r)')"
    }
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS words
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(list_transform(words, w ->
       |    trim(replace($replayed, ')(', ','), '()')), ',') AS tokens
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Replays [[graft.pipeline.Unigram.tokenize]] with the TRAINED piece
    * table inlined (piece, length, log-prob on the integer micro grid).
    * The Viterbi walk is an UNROLLED dynamic program: dpJ holds, per
    * distinct word, the best segmentation of its first J characters —
    * score = exact BIGINT sum of inlined micro log-probs, ties broken
    * on the lexicographically smallest comma-joined token string, the
    * engine's own rule (within a dp cell no candidate is a string
    * prefix of another, so per-cell pruning is globally consistent —
    * see the Unigram scaladoc). Unrolls to the trained `maxWordLen`
    * (the generator is corpus-specific, like the inlined-round
    * PageRank oracles). Coverage holds because every single character
    * of the training corpus survives pruning and the oracle replays
    * apply-on-the-training-corpus. */
  /** The Viterbi-replay CTE chain parameterized by SOURCE and name
    * prefix, shared by [[unigramTokenizeSql]] and the tokenizer-true
    * export oracles (the curate chain reuses it with prefix `z` over
    * the admitted-docs CTE): `${p}p` inlines the trained piece table
    * (piece, length, micro log-prob, token id = the piece's rank in
    * the sorted table — [[graft.pipeline.Unigram.pieceIds]]), `${p}d`
    * the engine's `[a-z0-9]+` word runs from `src`(doc_id, text),
    * `${p}dw` the distinct words, `${p}dp0..N` the unrolled DP,
    * `${p}best` the winning segmentation per word as BOTH toks
    * (comma-joined pieces) and ids (comma-joined token ids carried
    * through the same fold — pieces are comma-free and distinct, so
    * toks↔ids is a bijection and the toks tie-break orders ids
    * identically). Returns the CTE list WITHOUT a leading WITH. */
  def unigramDpCtes(model: graft.pipeline.Unigram.Model, src: String,
      p: String): String = {
    val mpl = model.maxPieceLen
    val maxLen = model.maxWordLen
    val vals = model.pieces.zipWithIndex
      .map { case ((pc, lp), id) =>
        s"('$pc', ${pc.length}, CAST($lp AS BIGINT), $id)" }
      .mkString(",\n|    ")
    val dps = (1 to maxLen).map { j =>
      val branches = (1 to math.min(mpl, j)).map { l =>
        s"""    SELECT pr.w, pr.wl, pr.s + pc.lp AS s,
           |      CASE WHEN pr.toks = '' THEN pc.piece
           |           ELSE pr.toks || ',' || pc.piece END AS toks,
           |      CASE WHEN pr.ids = '' THEN CAST(pc.tid AS VARCHAR)
           |           ELSE pr.ids || ',' || CAST(pc.tid AS VARCHAR) END AS ids
           |    FROM ${p}dp${j - l} pr JOIN ${p}p pc
           |      ON pc.pl = $l AND substr(pr.w, ${j - l + 1}, $l) = pc.piece
           |    WHERE pr.wl >= $j""".stripMargin
      }.mkString("\n|    UNION ALL\n|")
      s"""${p}dp$j AS (SELECT w, wl, s, toks, ids FROM (
         |  SELECT w, wl, s, toks, ids,
         |    row_number() OVER (PARTITION BY w ORDER BY s DESC, toks ASC) AS rn
         |  FROM (
         |$branches))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n|")
    val best = (1 to maxLen)
      .map(j => s"SELECT w, toks, ids FROM ${p}dp$j WHERE wl = $j")
      .mkString("\n|      UNION ALL ")
    s"""${p}p(piece, pl, lp, tid) AS (VALUES
       |    $vals),
       |${p}d AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS words
       |  FROM $src),
       |${p}dw AS (SELECT DISTINCT w, length(w) AS wl
       |  FROM (SELECT unnest(words) AS w FROM ${p}d)),
       |${p}dp0 AS (SELECT w, wl, CAST(0 AS BIGINT) AS s, '' AS toks, '' AS ids FROM ${p}dw),
       |$dps,
       |${p}best AS ($best)""".stripMargin
  }

  def unigramTokenizeSql(model: graft.pipeline.Unigram.Model): String = {
    s"""WITH ${unigramDpCtes(model, "documents", "")},
       |wx AS (SELECT doc_id, unnest(words) AS w,
       |    generate_subscripts(words, 1) AS i FROM d),
       |tok AS (SELECT wx.doc_id, string_agg(b.toks, ',' ORDER BY wx.i) AS tokens
       |  FROM wx JOIN best b ON b.w = wx.w GROUP BY wx.doc_id)
       |SELECT d2.doc_id, coalesce(tok.tokens, '') AS tokens
       |FROM documents d2 LEFT JOIN tok ON d2.doc_id = tok.doc_id
       |ORDER BY d2.doc_id""".stripMargin
  }

  /** Personalized-PageRank twin of [[pagerankDanglingSql]] on the same
    * forward-only supplier→part fixture: seeds are the supplier nodes
    * (node ≥ 1000000), each getting teleport `15·10⁴·N div |S|` and the
    * per-round dangling share `D div |S|`; non-seeds get only damped
    * contributions. Same cumulative freeze flag for ε-stopping. */
  def pagerankPersonalizedSql(rounds: Int, epsMicro: Long): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey + 1000000 AS src, l_partkey AS dst
        |  FROM lineitem),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |ed AS MATERIALIZED (
        |  SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
        |nodes AS MATERIALIZED (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e),
        |sinks AS MATERIALIZED (
        |  SELECT node FROM nodes
        |  WHERE node NOT IN (SELECT src FROM e)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |ns AS (SELECT count(*) AS n FROM nodes WHERE node >= 1000000),
        |bp AS (SELECT (15 * 10000 * (SELECT n FROM nn))
        |         // (SELECT n FROM ns) AS b),
        |r0 AS MATERIALIZED (
        |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |f0 AS (SELECT FALSE AS f)""".stripMargin
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s"""g$i AS (SELECT coalesce(sum(r.rank), 0) // (SELECT n FROM ns) AS share
         |        FROM r$p r JOIN sinks s ON s.node = r.node),
         |c$i AS (SELECT ed.dst, sum(r.rank // ed.deg) AS s FROM ed
         |        JOIN r$p r ON r.node = ed.src GROUP BY ed.dst),
         |u$i AS MATERIALIZED (
         |        SELECT n.node,
         |          CASE WHEN n.node >= 1000000 THEN (SELECT b FROM bp)
         |               ELSE 0 END
         |          + (85 * (coalesce(c.s, 0)
         |            + CASE WHEN n.node >= 1000000
         |                   THEN (SELECT share FROM g$i) ELSE 0 END)) // 100
         |          AS rank
         |        FROM nodes n LEFT JOIN c$i c ON c.dst = n.node),
         |d$i AS (SELECT max(abs(u.rank - r.rank)) AS d FROM u$i u
         |        JOIN r$p r ON r.node = u.node),
         |r$i AS MATERIALIZED (
         |        SELECT n.node,
         |          CASE WHEN (SELECT f FROM f$p) THEN r.rank
         |               ELSE u.rank END AS rank
         |        FROM nodes n JOIN r$p r ON r.node = n.node
         |        JOIN u$i u ON u.node = n.node),
         |f$i AS MATERIALIZED (
         |        SELECT (SELECT f FROM f$p)
         |          OR ((SELECT d FROM d$i) < $epsMicro) AS f)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$body
       |SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_micro
       |FROM r$rounds ORDER BY node""".stripMargin
  }

  // -------------------------------------------------------------------
  // k-core peeling over the co-supply graph
  // -------------------------------------------------------------------

  /** Unrolls [[graft.pipeline.GraphOps.kCore]]: each round drops all
    * nodes with degree < k and filters edges to survivors. Peeling a
    * stable core is a no-op, so unrolling `rounds` ≥ the engine's
    * (early-stopped) round count replays it exactly — no freeze flag
    * needed. */
  def kcoreSql(k: Int, rounds: Int): String = {
    val head =
      """WITH lo AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM lo a JOIN lo b ON a.o = b.o AND a.p < b.p)""".stripMargin
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT node, count(*) AS d FROM
         |        (SELECT u AS node FROM e$p UNION ALL SELECT v FROM e$p)
         |        GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE d >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$p e
         |  JOIN k$i a ON a.node = e.u JOIN k$i b ON b.node = e.v)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$body
       |SELECT node, count(*) AS core_deg FROM
       |  (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  // -------------------------------------------------------------------
  // Encoder swap: Word2Vec doc vectors → RQ assign/beam → coarse-fine
  // -------------------------------------------------------------------

  /** End-to-end replay of the encoder-agnostic pipeline behind a SECOND
    * encoder: the trained word vectors are inlined as a VALUES table
    * (like the reranker's LR weights), doc vectors are rebuilt from
    * documents.text exactly as [[graft.functions.TextEmbedder
    * .word2vecApply]] does — double sum in token order via
    * `list(… ORDER BY pos)` + `list_reduce`, one multiply by `1.0/n`,
    * float round — and the UNCHANGED RQ assign + beam + coarse-fine
    * chain runs on top with its vector source switched from
    * `embeddings` to the swapped CTE. A hash match certifies that the
    * downstream operators never cared which encoder produced the
    * vectors. */
  def encoderSwapSql(wordVecs: Seq[(String, Array[Float])], cb: Codebook,
      beams: Int, k: Int, maxQueryId: Int): String = {
    val rows = wordVecs
      .map { case (w, v) => s"('${w.replace("'", "''")}', ${centList(v)})" }
      .mkString(", ")
    // all-OOV docs must NOT vanish: word2vecApply emits a zero vector
    // for them (OOV tokens count toward n, contribute zero), so the
    // token→vector join is LEFT with missing vectors coalesced to zero
    val zeroVec = centList(
      Array.fill(wordVecs.headOption.map(_._2.length).getOrElse(0))(0f))
    s"""WITH wv(word, wvec) AS (VALUES $rows),
       |dt AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |       FROM documents WHERE len(string_split_regex(lower(text), '\\s+')) > 0),
       |tp AS (SELECT doc_id, toks, len(toks) AS n,
       |         unnest(range(1, len(toks) + 1)) AS pos FROM dt),
       |tk AS (SELECT doc_id, pos, n, toks[pos] AS w FROM tp),
       |tv AS (SELECT tk.doc_id, tk.pos, tk.n,
       |         coalesce(wv.wvec, $zeroVec) AS wvec
       |       FROM tk LEFT JOIN wv ON wv.word = tk.w),
       |lv AS (SELECT doc_id, any_value(n) AS n,
       |         list(wvec ORDER BY pos) AS vs
       |       FROM tv GROUP BY doc_id),
       |swapvec AS (SELECT doc_id AS vec_id,
       |         list_transform(
       |           list_reduce(vs, (a, b) ->
       |             list_transform(list_zip(a, b), p -> p[1] + p[2])),
       |           x -> CAST(x * (1.0e0 / n) AS REAL)) AS embedding
       |       FROM lv),
       |${assignCtes(cb, "swapvec")},
       |${beamCtesFor(cb, beams, s"WHERE vec_id < $maxQueryId", "", "swapvec")},
       |cand AS (SELECT DISTINCT b.query_id, a.doc_id FROM beams b JOIN assign a ON ${joinCond(cb, "a", "b")}),
       |sc AS (SELECT c.query_id, c.doc_id,
       |  list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM cand c JOIN q qq USING (query_id) JOIN d dd USING (doc_id)),
       |rk AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, rank, doc_id, round(score, 6) AS score
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // Lifecycle: BPE → hash encode → RQ build → serve → ensemble → metrics
  // -------------------------------------------------------------------

  /** ONE statement replaying the full index-build + serve + eval
    * lifecycle (ref entry points MEVI/main.py:267-337 and
    * marco_generate_embedding_n_rq.sh), stage by stage:
    * trained-BPE tokens (merge list inlined, the [[bpeTokenizeSql]]
    * fold) → md5-bucket hash embedding (the v1_hash_embed replay, fed
    * by the BPE tokens) → the inlined RQ codebook's assign + beam CTEs
    * → coarse→fine candidates + exact re-rank → exact-KNN list fused
    * with beam cluster ranks (the ensemble_fuse arithmetic, sentinel =
    * beam width) → Recall/MRR/HitRate@{1,5,10} vs self ground truth.
    * A hash match certifies the composition end to end — every
    * upstream bit moves some rank that moves these six rows. */
  def pipelineIndexServeSql(merges: Seq[(String, String)], cb: Codebook,
      beams: Int, k: Int, maxQueryId: Int, dim: Int = 16): String = {
    val encoded = "'(' || array_to_string(string_split(w, ''), ')(') || ')'"
    val replayed = merges.foldLeft(encoded) { case (acc, (l, r)) =>
      s"replace($acc, '($l)($r)', '($l$r)')"
    }
    val kList = ks(cb).mkString(", ")
    s"""WITH bw AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS words
       |  FROM documents),
       |btk AS (SELECT doc_id,
       |    string_split(array_to_string(list_transform(words, w ->
       |      trim(replace($replayed, ')(', ','), '()')), ','), ',') AS toks
       |  FROM bw WHERE len(words) > 0),
       |hb AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(toks)), 1, 8) AS BIGINT) % $dim AS bucket FROM btk),
       |hc AS (SELECT doc_id, bucket, count(*) AS n FROM hb GROUP BY doc_id, bucket),
       |hm AS (SELECT doc_id, map_from_entries(list(struct_pack(k := bucket, v := n))) AS m
       |       FROM hc GROUP BY doc_id),
       |hd AS (SELECT doc_id,
       |         list_transform(range(0, $dim),
       |           i -> CAST(coalesce(map_extract(m, i)[1], 0) AS DOUBLE)) AS raw
       |       FROM hm),
       |lifevec AS (SELECT doc_id AS vec_id,
       |         list_transform(raw, x ->
       |           CAST(x / sqrt(list_sum(list_transform(raw, v -> v * v))) AS REAL)) AS embedding
       |       FROM hd),
       |${assignCtes(cb, "lifevec")},
       |${beamCtesFor(cb, beams, s"WHERE vec_id < $maxQueryId", "", "lifevec")},
       |cand AS (SELECT DISTINCT bb.query_id, aa.doc_id
       |         FROM beams bb JOIN assign aa ON ${joinCond(cb, "aa", "bb")}),
       |scs AS (SELECT cc.query_id, cc.doc_id,
       |    list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM cand cc JOIN q qq USING (query_id) JOIN d dd USING (doc_id)),
       |srv AS (SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM scs),
       |bf0 AS (SELECT qq.query_id, dd.doc_id,
       |    list_sum(list_transform(list_zip(qq.u0, dd.v0), p -> p[1] * p[2])) AS score
       |  FROM q qq CROSS JOIN d dd),
       |bfr AS (SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM bf0),
       |annl AS (SELECT query_id, doc_id, score FROM bfr WHERE rank <= $k),
       |brk AS (SELECT query_id, $kList,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cum DESC, $kList) AS crank FROM beams),
       |crs AS (SELECT bb.query_id, aa.doc_id, bb.crank
       |        FROM brk bb JOIN assign aa ON ${joinCond(cb, "aa", "bb")}),
       |fz0 AS (SELECT aa.query_id, aa.doc_id,
       |    CASE WHEN cc.crank IS NOT NULL
       |         THEN aa.score + 0.6 / (0.03 * (cc.crank - 1) + 1)
       |         ELSE (aa.score + 0.6 / (0.03 * $beams + 1)) * (1 - 0.02 * 0.6) END AS fused_score
       |  FROM annl aa LEFT JOIN crs cc USING (query_id, doc_id)),
       |fzr AS (SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY fused_score DESC, doc_id) AS rank FROM fz0),
       |kset AS (SELECT unnest([1, 5, 10]) AS kk),
       |qset AS (SELECT query_id FROM q),
       |shit AS (SELECT query_id, min(rank) AS srank FROM srv
       |         WHERE doc_id = query_id AND rank <= $k GROUP BY query_id),
       |fhit AS (SELECT query_id, min(rank) AS frank FROM fzr
       |         WHERE doc_id = query_id AND rank <= $k GROUP BY query_id),
       |perq AS (
       |  SELECT 'coarse_fine' AS source, kset.kk AS k, qset.query_id,
       |    CASE WHEN sh.srank IS NOT NULL AND sh.srank <= kset.kk THEN 1.0 ELSE 0.0 END AS recall,
       |    CASE WHEN sh.srank IS NOT NULL AND sh.srank <= kset.kk THEN 1.0 / sh.srank ELSE 0.0 END AS rr
       |  FROM kset CROSS JOIN qset LEFT JOIN shit sh USING (query_id)
       |  UNION ALL
       |  SELECT 'ensemble', kset.kk, qset.query_id,
       |    CASE WHEN fh.frank IS NOT NULL AND fh.frank <= kset.kk THEN 1.0 ELSE 0.0 END,
       |    CASE WHEN fh.frank IS NOT NULL AND fh.frank <= kset.kk THEN 1.0 / fh.frank ELSE 0.0 END
       |  FROM kset CROSS JOIN qset LEFT JOIN fhit fh USING (query_id))
       |SELECT source, k, round(avg(recall), 6) AS recall, round(avg(rr), 6) AS mrr,
       |  round(avg(recall), 6) AS hitrate, count(*) AS n_queries
       |FROM perq GROUP BY source, k ORDER BY source, k""".stripMargin
  }

  // -------------------------------------------------------------------
  // PageRank with dangling-mass redistribution + ε-stopping
  // -------------------------------------------------------------------

  /** Unrolls [[graft.pipeline.PageRank.run]] on the forward-only
    * supplier→part edge set (every part node is a sink) for `rounds`
    * rounds with ε-stopping replayed via a cumulative freeze flag:
    * per round, g = floor(Σ_sink rank / N) is the dangling share, u the
    * damped update, d = max|u − prev|, and f OR-accumulates (d < ε) —
    * once f is set, later rounds copy ranks unchanged, which is exactly
    * what the engine's early `break` leaves behind. All comparisons and
    * divisions are Long, so the replay is bit-exact whether or not the
    * fixture converges inside `rounds`. Every round CTE is MATERIALIZED:
    * each r/u is referenced up to 4× per round, and DuckDB's default
    * CTE inlining would otherwise replicate the base scan 4^rounds
    * times (measured minutes at sf0.1 vs sub-second materialized). */
  def pagerankDanglingSql(rounds: Int, epsMicro: Long): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey + 1000000 AS src, l_partkey AS dst
        |  FROM lineitem),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |ed AS MATERIALIZED (
        |  SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
        |nodes AS MATERIALIZED (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e),
        |sinks AS MATERIALIZED (
        |  SELECT node FROM nodes
        |  WHERE node NOT IN (SELECT src FROM e)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS MATERIALIZED (
        |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |f0 AS (SELECT FALSE AS f)""".stripMargin
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s"""g$i AS (SELECT coalesce(sum(r.rank), 0) // (SELECT n FROM nn) AS share
         |        FROM r$p r JOIN sinks s ON s.node = r.node),
         |c$i AS (SELECT ed.dst, sum(r.rank // ed.deg) AS s FROM ed
         |        JOIN r$p r ON r.node = ed.src GROUP BY ed.dst),
         |u$i AS MATERIALIZED (
         |        SELECT n.node, 150000 + (85 * (coalesce(c.s, 0)
         |          + (SELECT share FROM g$i))) // 100 AS rank
         |        FROM nodes n LEFT JOIN c$i c ON c.dst = n.node),
         |d$i AS (SELECT max(abs(u.rank - r.rank)) AS d FROM u$i u
         |        JOIN r$p r ON r.node = u.node),
         |r$i AS MATERIALIZED (
         |        SELECT n.node,
         |          CASE WHEN (SELECT f FROM f$p) THEN r.rank
         |               ELSE u.rank END AS rank
         |        FROM nodes n JOIN r$p r ON r.node = n.node
         |        JOIN u$i u ON u.node = n.node),
         |f$i AS MATERIALIZED (
         |        SELECT (SELECT f FROM f$p)
         |          OR ((SELECT d FROM d$i) < $epsMicro) AS f)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$body
       |SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_micro
       |FROM r$rounds ORDER BY node""".stripMargin
  }
}
