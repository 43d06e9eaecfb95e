package graft.index

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Plain-Scala reference for the HKM trie: the per-node argmin walk, the
  * code-order log-softmax beam and an in-memory level fit, over a
  * (path prefix → centroids) map with root prefix "". The specs compare
  * `HierarchicalKMeans.{fitLevels, assignByLevels, beamSearchByLevels}`
  * against it bit for bit.
  */
object HkmReference {

  type Nodes = Map[String, Array[Array[Float]]]

  /** The trained nodes of a [[HierarchicalKMeans.fitLevels]] frame. */
  def nodes(levels: DataFrame): Nodes = {
    import levels.sparkSession.implicits._
    levels.select("prefix", "cents").as[(String, Array[Array[Float]])]
      .collect().toMap
  }

  private def child(prefix: String, code: Int): String =
    if (prefix.isEmpty) code.toString else s"$prefix,$code"

  /** ‖v − c‖² as a sequential double fold. */
  private def sqDist(v: Array[Float], c: Array[Float]): Double = {
    var d = 0.0
    var j = 0
    while (j < v.length) {
      val f = v(j).toDouble - c(j).toDouble
      d += f * f
      j += 1
    }
    d
  }

  /** Lowest-distance code, ties → lowest code. */
  private def argmin(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    cents.indices.foreach { c =>
      val d = sqDist(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
    }
    best
  }

  /** Per level, argmin over THIS node's centroids, descend to that
    * child; stop where no child node was trained. */
  def assign(nodes: Nodes, vec: Array[Float]): Seq[Int] = {
    val path = mutable.ArrayBuffer.empty[Int]
    var prefix = ""
    while (nodes.contains(prefix)) {
      val code = argmin(vec, nodes(prefix))
      path += code
      prefix = child(prefix, code)
    }
    path.toSeq
  }

  /** Score descending as Spark sorts doubles (NaN first, −0.0 equal to
    * 0.0), then path ascending — the beam window's order. */
  private def before(a: (Seq[Int], Double), b: (Seq[Int], Double)): Boolean = {
    import scala.math.Ordering.Implicits.seqOrdering
    if (a._2 == b._2 || (a._2.isNaN && b._2.isNaN)) Ordering[Seq[Int]].lt(a._1, b._1)
    else a._2.isNaN || (!b._2.isNaN && a._2 > b._2)
  }

  /** Top-`beams` (path, score) of the rows that share one query id:
    * per node the log-softmax of −‖q − child‖² over that node's children,
    * raws / max / Σexp folded in code order, accumulated as
    * `(cum + r) − logz`, each beam against its own row's vector `q`; a
    * beam on a leaf carries unchanged. Every row's beams compete for the
    * `beams` slots, ranked as [[before]]. */
  def beam(nodes: Nodes, qvecs: Seq[Array[Float]], beams: Int)
      : Seq[(Seq[Int], Double)] = {
    def live(path: Seq[Int]): Option[Array[Array[Float]]] =
      nodes.get(path.mkString(","))
    var frontier: Seq[(Int, Seq[Int], Double)] =
      qvecs.indices.map(i => (i, Seq.empty[Int], 0.0))
    while (frontier.exists { case (_, p, _) => live(p).isDefined }) {
      frontier = frontier.flatMap { case (row, path, cum) =>
        live(path) match {
          case Some(cents) =>
            val raws = cents.map(c => -sqDist(qvecs(row), c))
            val mx = raws.max
            var sumExp = 0.0
            raws.foreach(r => sumExp += math.exp(r - mx))
            val logz = mx + math.log(sumExp)
            raws.toSeq.zipWithIndex.map { case (r, c) =>
              (row, path :+ c, cum + r - logz)
            }
          case None => Seq((row, path, cum))
        }
      }.sortWith((a, b) => before((a._2, a._3), (b._2, b._3))).take(beams)
    }
    frontier.map { case (_, p, cum) => (p, cum) }
  }

  /** In-memory level fit: per level, every prefix with at least `minSize`
    * members (1 at the root, 2·k below) trains a local k-means over ALL
    * its members sorted by doc id, seeded from its prefix. Equals the
    * distributed fit whenever no node exceeds its default sample cap. */
  def fit(docs: Seq[(Long, Array[Float])], k: Int, depth: Int, seed: Long,
      maxIter: Int): Nodes = {
    val out = mutable.Map.empty[String, Array[Array[Float]]]
    var frontier = docs.map { case (id, v) => ("", id, v) }
    for (level <- 0 until depth) {
      val minSize = if (level == 0) 1 else 2 * k
      val fitted = frontier.groupBy(_._1).collect {
        case (prefix, members) if members.size >= minSize =>
          require(members.size <= (1 << 16), "the reference fit does not sample")
          val sample = members.sortBy(_._2).map(_._3.map(_.toDouble)).toArray
          prefix -> SampledKMeans.localKMeans(sample, k,
            HierarchicalKMeans.nodeSeed(prefix, seed), maxIter)
      }
      out ++= fitted
      frontier = frontier.flatMap { case (prefix, id, v) =>
        fitted.get(prefix).map(cents => (child(prefix, argmin(v, cents)), id, v))
      }
    }
    out.toMap
  }
}
