package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.Metrics
import graft.index.{ClusterIndexBuilder, CodeAssigner, Codebook, HierarchicalKMeans, RQTrainer}
import graft.search.{BruteForceKNN, CodebookBeamSearch, CoarseFineRetriever, TopK}

/** Corpus, query and index sizes of `serve`. */
final case class VectorSize(docs: Int, dim: Int, centers: Int, sigma: Double,
    queries: Int, exactQueries: Int, latencyBatches: Int,
    levels: Int = 2, k: Int = 32, rqIters: Int = 20,
    hkmK: Int = 8, hkmDepth: Int = 2) {
  val batch = 8
  val beams = 8
  val budget = 50
  val hkmBeams = 4
  val topK = 10
}

/** The seeded planted-cluster corpus, on executors and on the driver. */
final class Corpus(spark: SparkSession, seed: Long, sz: VectorSize) {
  import spark.implicits._
  val gen: Gen.Planted = Gen.Planted(seed, sz.dim, sz.centers, sz.sigma)

  /** (doc_id, vec ARRAY<FLOAT>), persisted and materialized. */
  def frame(): DataFrame = {
    val g = gen
    val df = spark.range(sz.docs.toLong)
      .map(id => (id, g.vec(Gen.DocStream, id)))
      .toDF("doc_id", "vec").persist()
    df.count()
    df
  }

  /** (query_id, qvec) for query ids [from, from + n) of `stream`. */
  def queries(stream: Long, from: Long, n: Int): DataFrame =
    (from until from + n).map(i => (i, gen.vec(stream, i)))
      .toDF("query_id", "qvec")

  lazy val docVecs: Array[Array[Float]] =
    Array.tabulate(sz.docs)(i => gen.vec(Gen.DocStream, i))

  /** The engine's `ip` score: a sequential fold of float products in
    * double precision. */
  def dot(q: Array[Float], d: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < q.length) { s += q(j).toDouble * d(j).toDouble; j += 1 }
    s
  }

  /** Plain-Scala exact top-k: (doc_id, score), best first, ties by id. */
  def exactTopK(q: Array[Float], k: Int): Seq[(Long, Double)] =
    docVecs.indices.map(i => (i.toLong, dot(q, docVecs(i))))
      .sortBy { case (id, s) => (-s, id) }.take(k)
}

/** `serve`: closed-loop query batches against an index built in set-up.
  * Large batches go through the coarse-fine, budgeted, HKM-beam and exact
  * paths; small batches through coarse-fine for latency. The set-up is the
  * index build itself, so `setup_s` covers the write side. */
final class Serve(spark: SparkSession, seed: Long, sz: VectorSize, dir: String)
    extends Workload {
  import Workload._
  private val corpus = new Corpus(spark, seed, sz)

  private var docs: DataFrame = _
  private var assigned: DataFrame = _
  private var paths: DataFrame = _
  private var codebook: Codebook = _
  private var index: DataFrame = _
  private var levels: DataFrame = _
  private var queries: DataFrame = _
  private var exactQueries: DataFrame = _
  private var batches: Seq[DataFrame] = Nil

  // the exact path's top-k input, for its traced sub-call
  private var exactScored: DataFrame = _
  private var traceFacts = Map.empty[String, Any]

  // the last round's outputs
  private var cfHits: Array[Row] = Array.empty
  private var budgetedHits: Array[Row] = Array.empty
  private var hkmHits: Array[Row] = Array.empty
  private var exactHits: Array[Row] = Array.empty
  private var batchHits: Seq[Array[Row]] = Nil

  /** Builds the index the way the offline pipeline does — RQ fit, code
    * assignment, cluster index build, parquet save of index and codebook;
    * HKM level fit and assignment — then loads the saved index to serve
    * from. Returns the RQ and HKM build times. */
  def setup(t: Tracer, req: String): Map[String, Double] = {
    docs = corpus.frame()
    val (_, rqS) = seconds {
      val cb = t.span("index.rq_fit", req) {
        RQTrainer.fit(docs, "vec", sz.levels, sz.k, seed, sz.rqIters)
      }
      assigned = CodeAssigner.assign(docs, cb)
      t.span("io.index_write", req) {
        ClusterIndexBuilder.save(ClusterIndexBuilder.build(assigned), s"$dir/index")
        cb.save(spark, s"$dir/codebook")
      }
    }
    if (t.isTraced) {
      val write = t.lastId
      t.span("index.assign", req, write) { run(assigned) }
      val staged = assigned.localCheckpoint()
      t.span("index.cluster_build", req, write) {
        run(ClusterIndexBuilder.build(staged))
      }
    }
    val (_, hkmS) = seconds {
      levels = t.span("index.hkm_fit", req) {
        HierarchicalKMeans.fitLevels(docs, "vec", sz.hkmK, sz.hkmDepth, seed)
      }
      paths = t.span("index.hkm_assign", req) {
        HierarchicalKMeans.assignByLevels(docs, levels, sz.hkmDepth).localCheckpoint()
      }
    }
    t.span("io.index_read", req) {
      codebook = Codebook.load(spark, s"$dir/codebook")
      index = ClusterIndexBuilder.load(spark, s"$dir/index").persist()
      index.count()
    }
    queries = corpus.queries(Gen.QueryStream, 0, sz.queries)
    exactQueries = corpus.queries(Gen.QueryStream, 0, sz.exactQueries)
    batches = (0 until sz.latencyBatches).map(b =>
      corpus.queries(Gen.LatencyStream, b.toLong * sz.batch, sz.batch))
    Map("rq_build_s" -> rqS, "hkm_build_s" -> hkmS)
  }

  def release(): Unit = ()

  // the three rounds after the warm-up round ran about 28%, 11% and 14%
  // slower than the rounds after them, which stay within a few percent
  override def warmupRounds: Int = 3

  /** The input each path hands its top-k: the path's own output with k
    * set to the corpus size, which keeps every deduplicated candidate. */
  private lazy val pathScored: Seq[DataFrame] = Seq(
    CoarseFineRetriever.retrieve(queries, index, docs, codebook,
      beams = sz.beams, k = sz.docs),
    CoarseFineRetriever.retrieveBudgeted(queries, index, docs, codebook,
      beams = sz.beams, k = sz.docs, budget = sz.budget)
  ).map(_.select("query_id", "doc_id", "score").localCheckpoint())

  /** Candidates and clusters per query on the coarse-fine and budgeted
    * paths, and the share of coarse-fine clusters the budget prunes. */
  private lazy val pathFacts: Map[String, Double] = {
    val members = index.select(col("codes"), explode(col("doc_ids")).as("doc_id"))
    val Seq(cf, bud) = pathScored.map { scored =>
      val cands = Metrics.ndoc(scored, queries = Some(queries)).head().getDouble(0)
      val clusters = scored.join(members, Seq("doc_id"))
        .select("query_id", "codes").distinct().count().toDouble / sz.queries
      (cands, clusters)
    }
    Map(
      "search.coarse_fine.candidates_per_query" -> cf._1,
      "search.budgeted.candidates_per_query" -> bud._1,
      "search.coarse_fine.clusters_per_query" -> cf._2,
      "search.budgeted.clusters_per_query" -> bud._2,
      "search.budgeted.pruned_cluster_frac" -> (1 - bud._2 / cf._2))
  }

  override def prepareTrace(): Unit = {
    exactScored = docs.crossJoin(broadcast(exactQueries))
      .select(col("query_id"), col("doc_id"),
        BruteForceKNN.score("ip")(col("qvec"), col("vec")).as("score"))
      .localCheckpoint()
    def inPerOut(scored: DataFrame, groups: Int) =
      scored.count().toDouble / (groups.toDouble * sz.topK)
    val Seq(cfScored, budgetedScored) = pathScored
    traceFacts = Map(
      "search.topk.rows_in_per_out.exact" -> inPerOut(exactScored, sz.exactQueries),
      "search.topk.rows_in_per_out.coarse_fine" -> inPerOut(cfScored, sz.queries),
      "search.topk.rows_in_per_out.budgeted" -> inPerOut(budgetedScored, sz.queries))
  }

  def round(t: Tracer, req: String): RoundOut = {
    val k = sz.topK
    def beamAndTopK(parent: Int, scored: => DataFrame): Unit = if (t.isTraced) {
      t.span("search.beam", req, parent) {
        run(CodebookBeamSearch.search(queries, codebook, sz.beams))
      }
      t.span("search.topk", req, parent) { run(TopK.ranked(scored, k)) }
    }

    val (cf, cfS) = seconds(t.span("search.coarse_fine", req) {
      CoarseFineRetriever.retrieve(queries, index, docs, codebook,
        beams = sz.beams, k = k).collect()
    })
    beamAndTopK(t.lastId, pathScored(0))

    val (bud, budS) = seconds(t.span("search.budgeted", req) {
      CoarseFineRetriever.retrieveBudgeted(queries, index, docs, codebook,
        beams = sz.beams, k = k, budget = sz.budget).collect()
    })
    beamAndTopK(t.lastId, pathScored(1))

    val (hkm, hkmS) = seconds(t.span("index.hkm_beam", req) {
      HierarchicalKMeans.beamSearchByLevels(queries, levels, sz.hkmDepth,
        sz.hkmBeams).collect()
    })

    val (ex, exS) = seconds(t.span("search.knn_score", req) {
      BruteForceKNN.topK(exactQueries, docs, k).collect()
    })
    if (t.isTraced) {
      t.span("search.topk", req, t.lastId) { run(TopK.ranked(exactScored, k)) }
    }

    val small = batches.zipWithIndex.map { case (b, i) =>
      seconds(t.span("search.batch8", s"$req/b$i") {
        CoarseFineRetriever.retrieve(b, index, docs, codebook,
          beams = sz.beams, k = k).collect()
      })
    }

    cfHits = cf; budgetedHits = bud; hkmHits = hkm; exactHits = ex
    batchHits = small.map(_._1)
    RoundOut(
      Map("coarse_fine_s" -> cfS, "budgeted_s" -> budS, "hkm_beam_s" -> hkmS,
        "exact_s" -> exS),
      small.map(_._2 * 1000), 4 + small.length)
  }

  /** (query_id, rank, doc_id, score) rows → per-query hit lists. */
  private def lists(rows: Array[Row]): Map[Long, Seq[(Int, Long, Double)]] =
    rows.toSeq.map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2) }

  private lazy val queryVecs: Map[(Long, Long), Array[Float]] =
    ((0L until sz.queries).map(i => (Gen.QueryStream, i)) ++
      (0L until sz.latencyBatches.toLong * sz.batch).map(i => (Gen.LatencyStream, i)))
      .map(key => key -> corpus.gen.vec(key._1, key._2)).toMap

  /** Recall@k of coarse-fine against exact over the exact batch. */
  def recall: Double = {
    val cf = lists(cfHits)
    val ex = lists(exactHits)
    val hit = ex.toSeq.map { case (q, hs) =>
      (hs.map(_._2).toSet & cf.getOrElse(q, Nil).map(_._2).toSet).size
    }.sum
    hit.toDouble / (sz.exactQueries * sz.topK)
  }

  def check(c: Checks): Unit = {
    c("the budget prunes clusters on the budgeted path") {
      pathFacts("search.budgeted.pruned_cluster_frac") > 0
    }
    c("every doc has a full code tuple") {
      assigned.where(size(col("codes")) === sz.levels).count() == sz.docs
    }
    c("the saved cluster index holds every doc once") {
      val members = index.select(explode(col("doc_ids")).as("d"))
      members.count() == sz.docs && members.distinct().count() == sz.docs &&
        index.select("codes", "csize").distinct()
          .agg(sum("csize")).head().getLong(0) == sz.docs
    }
    c("the saved codebook reloads with its shape") {
      codebook.numLevels == sz.levels && codebook.k == sz.k && codebook.dim == sz.dim
    }
    c("every doc has an HKM path") {
      paths.where(size(col("path")) >= 1).count() == sz.docs
    }
    val ex = lists(exactHits)
    val sample = (0L until math.min(20, sz.exactQueries).toLong)
    c("exact top-k equals a plain-Scala exact top-k on sampled queries") {
      sample.forall { q =>
        val want = corpus.exactTopK(queryVecs((Gen.QueryStream, q)), sz.topK)
        ex.getOrElse(q, Nil).sortBy(_._1).map(h => (h._2, h._3)) == want
      }
    }
    def exactScores(stream: Long, hits: Array[Row]) = lists(hits).forall {
      case (q, hs) => hs.forall { case (_, d, s) =>
        s == corpus.dot(queryVecs((stream, q)), corpus.docVecs(d.toInt))
      }
    }
    c("coarse-fine scores equal exact dot products") {
      exactScores(Gen.QueryStream, cfHits)
    }
    c("budgeted scores equal exact dot products") {
      exactScores(Gen.QueryStream, budgetedHits)
    }
    c("8-query batch scores equal exact dot products") {
      batchHits.forall(exactScores(Gen.LatencyStream, _))
    }
    c("every ranked list is sorted") {
      (Seq(cfHits, budgetedHits, exactHits) ++ batchHits)
        .forall(h => lists(h).values.forall(sortedRanks))
    }
    c("every query gets a ranked list on every path") {
      Seq(cfHits, budgetedHits).forall(lists(_).size == sz.queries) &&
        ex.size == sz.exactQueries
    }
    c("HKM beams are ranked 1..n by non-increasing score") {
      hkmHits.toSeq.groupBy(_.getLong(0)).size == sz.queries &&
        hkmHits.toSeq.groupBy(_.getLong(0)).values.forall { rs =>
          val byRank = rs.sortBy(_.getLong(1))
          byRank.map(_.getLong(1)) == (1L to byRank.length.toLong) &&
            byRank.sliding(2).forall {
              case Seq(a, b) => a.getDouble(3) >= b.getDouble(3)
              case _ => true
            }
        }
    }
  }

  def facts: Map[String, Any] = Map(
    "docs" -> sz.docs, "dim" -> sz.dim, "planted_centers" -> sz.centers,
    "sigma" -> sz.sigma, "queries" -> sz.queries,
    "exact_queries" -> sz.exactQueries, "batch8_batches" -> sz.latencyBatches,
    "rq" -> s"${sz.levels}x${sz.k}", "beams" -> sz.beams, "budget" -> sz.budget,
    "hkm" -> s"k${sz.hkmK} d${sz.hkmDepth} beams ${sz.hkmBeams}",
    "recall_at_10" -> recall) ++ pathFacts ++ traceFacts
}
