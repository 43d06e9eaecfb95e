package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RQ and PQ trainers as they were written on MLlib `KMeans`
  * (k-means|| seeds, `maxIter` distributed Lloyd passes, seed + m per
  * level or slice), kept as the quality reference the specs hold the
  * sampled trainers to: at the same k, seed and `maxIter`, the engine's
  * codebooks must reconstruct no worse than these.
  */
object MllibKMeansReference {

  private def centers(features: DataFrame, col: String, k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] =
    new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol(col).setPredictionCol("cluster")
      .fit(features).clusterCenters.map(_.toArray)

  /** M sequential MLlib fits, each on the previous level's residuals. */
  def rq(df: DataFrame, vecCol: String, numLevels: Int, k: Int, seed: Long,
      maxIter: Int): Codebook = {
    var resid = df.select(array_to_vector(col(vecCol).cast("array<double>")).as("f"))
      .cache()
    val levels = Array.tabulate(numLevels) { m =>
      val cents = centers(resid, "f", k, seed + m, maxIter)
      val subtract = udf { (v: Vector) =>
        val c = cents.minBy(c => Vectors.sqdist(v, Vectors.dense(c)))
        Vectors.dense(Array.tabulate(c.length)(j => v(j) - c(j)))
      }
      resid = resid.select(subtract(col("f")).as("f")).cache()
      cents.map(_.map(_.toFloat))
    }
    Codebook(levels)
  }

  /** M independent MLlib fits, one per contiguous slice. */
  def pq(df: DataFrame, vecCol: String, numSub: Int, k: Int, seed: Long,
      maxIter: Int): PQCodebook = {
    val dim = df.select(size(col(vecCol))).head.getInt(0)
    val subDim = dim / numSub
    val sliced = df.select((0 until numSub).map { m =>
      array_to_vector(slice(col(vecCol).cast("array<double>"), m * subDim + 1, subDim))
        .as(s"f$m")
    }: _*).cache()
    PQCodebook(Array.tabulate(numSub)(m =>
      centers(sliced, s"f$m", k, seed + m, maxIter).map(_.map(_.toFloat))))
  }
}
