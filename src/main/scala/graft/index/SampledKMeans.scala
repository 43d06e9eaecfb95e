package graft.index

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

/** The engine's one k-means trainer, behind [[HierarchicalKMeans]] (a fit
  * per trie node), [[RQTrainer]] (per level) and [[PQTrainer]] (per
  * slice): [[sampledFit]] keeps each group's `sampleCap` rows of lowest
  * [[sampleRank]] in one distributed job, and [[localKMeans]] trains on
  * that sample, sorted by id, inside one reduce task.
  */
private[index] object SampledKMeans {

  /** Rows one group's fit sees at most: HKM's default, RQ's and PQ's cap. */
  val SampleCap: Int = 1 << 16

  /** RQ's and PQ's seed refinement bound. MLlib's k-means|| refines its
    * seeds with up to 30 local Lloyd passes (its `LocalKMeans`) before the
    * `maxIter` distributed ones; here both phases run over the same
    * sample, so they are one Lloyd loop of at most `SeedRefinePasses +
    * maxIter` passes that stops at the first pass changing no assignment. */
  val SeedRefinePasses: Int = 30

  /** Deterministic local Lloyd's k-means with seeded k-means++ init.
    * Input order is the caller's (sorted by doc_id), all arithmetic is
    * double, ties break to the lowest index, empty clusters keep their
    * centroid — bit-reproducible regardless of Spark partitioning. Runs
    * INSIDE an executor task over one group's (bounded) sample; at
    * ≤ sampleCap points × dim doubles it is a per-task in-memory problem.
    * Returns min(k, n) centroids.
    */
  def localKMeans(points: Array[Array[Double]], k: Int,
      seed: Long, maxIter: Int): Array[Array[Float]] = {
    val n = points.length
    require(n > 0, "localKMeans over an empty sample")
    val kk = math.min(k, n)
    val rng = new scala.util.Random(seed)

    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var j = 0
      while (j < a.length) { val f = a(j) - b(j); d += f * f; j += 1 }
      d
    }

    // k-means++ init: first center seeded-uniform, rest D²-weighted
    val centers = mutable.ArrayBuffer[Array[Double]](
      points(rng.nextInt(n)).clone())
    val d2 = Array.fill(n)(Double.MaxValue)
    while (centers.length < kk) {
      val last = centers.last
      var sum = 0.0; var i = 0
      while (i < n) {
        val d = sqDist(points(i), last)
        if (d < d2(i)) d2(i) = d
        sum += d2(i); i += 1
      }
      if (sum <= 0.0) centers += points(centers.length % n).clone()
      else {
        val target = rng.nextDouble() * sum
        var idx = 0; var acc = d2(0)
        while (acc < target && idx < n - 1) { idx += 1; acc += d2(idx) }
        centers += points(idx).clone()
      }
    }

    val dim = points(0).length
    val assignTo = Array.fill(n)(-1)
    var iter = 0; var changed = true
    while (iter < maxIter && changed) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          val d = sqDist(points(i), centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (best != assignTo(i)) { assignTo(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.fill(centers.length)(new Array[Double](dim))
        val counts = new Array[Long](centers.length)
        i = 0
        while (i < n) {
          val s = sums(assignTo(i)); val p = points(i)
          var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
          counts(assignTo(i)) += 1
          i += 1
        }
        var c = 0
        while (c < centers.length) {
          if (counts(c) > 0) { // empty cluster keeps its centroid
            val s = sums(c); val cent = centers(c)
            var j = 0
            while (j < dim) { cent(j) = s(j) / counts(c); j += 1 }
          }
          c += 1
        }
      }
      iter += 1
    }
    centers.map(_.map(_.toFloat)).toArray
  }

  /** Partition-order-independent sample rank: a fixed bijective scramble
    * of the doc id (so "smallest rank" picks a stable pseudo-random
    * subset without any RNG state shared across tasks). */
  def sampleRank(id: Long, seed: Long): Long = {
    var x = id ^ (seed * 0x9E3779B97F4A7C15L)
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  /** Bounded-sample cap-heap: keeps the `cap` members with the smallest
    * (scrambled-id rank, id). Max-heap so the worst kept element pops. */
  private def newSampleHeap[V](): mutable.PriorityQueue[(Long, Long, V)] =
    mutable.PriorityQueue.empty[(Long, Long, V)](
      Ordering.by((t: (Long, Long, V)) => (t._1, t._2)))

  private def heapAdd[V](heap: mutable.PriorityQueue[(Long, Long, V)],
      cap: Int, r: Long, id: Long, vec: V): Unit = {
    if (heap.size < cap) heap.enqueue((r, id, vec))
    else if (r < heap.head._1 || (r == heap.head._1 && id < heap.head._2)) {
      heap.dequeue(); heap.enqueue((r, id, vec))
    }
  }

  /** ONE distributed fit job for every group of `rows` (prefix, id,
    * vector): two-stage bounded sampling — each PARTITION pre-reduces to
    * its `sampleCap` lowest-rank rows per prefix (plus the true member
    * count), so only ~sampleCap rows per (group × partition) ever shuffle,
    * then the per-prefix reduce merges the partial heaps. The kept set is
    * identical to a single global heap (it is the global (rank, id)-
    * minimum), so results are bit-equal to the unreduced form, and no
    * task ever holds more than a sample of the corpus. A group with at
    * least `minSize` members runs `fit(prefix, sample)` on its sample in
    * doc-id order (`toPoint` widens a vector to doubles); a smaller one
    * yields no row.
    */
  def sampledFit[V: TypeTag, R: TypeTag](rows: Dataset[(String, Long, V)],
      minSize: Long, seed: Long, sampleCap: Int, toPoint: V => Array[Double])(
      fit: (String, Array[Array[Double]]) => R): Dataset[(String, R)] = {
    import rows.sparkSession.implicits._
    val partial: Dataset[(String, Long, Array[(Long, Long, V)])] =
      rows.mapPartitions { it =>
        val heaps = mutable.Map.empty[String, mutable.PriorityQueue[(Long, Long, V)]]
        val counts = mutable.Map.empty[String, Long]
        it.foreach { case (prefix, id, vec) =>
          counts.update(prefix, counts.getOrElse(prefix, 0L) + 1L)
          heapAdd(heaps.getOrElseUpdate(prefix, newSampleHeap[V]()),
            sampleCap, sampleRank(id, seed), id, vec)
        }
        heaps.iterator.map { case (prefix, heap) =>
          (prefix, counts(prefix), heap.dequeueAll[(Long, Long, V)].toArray)
        }
      }
    partial
      .groupByKey(_._1)
      .flatMapGroups { (prefix, parts) =>
        val heap = newSampleHeap[V]()
        var n = 0L
        parts.foreach { case (_, cnt, rows) =>
          n += cnt
          rows.foreach { case (r, id, vec) => heapAdd(heap, sampleCap, r, id, vec) }
        }
        if (n < minSize) Iterator.empty
        else {
          // sorted by doc_id so the fit sees a
          // partition-order-independent input
          val sample = heap.dequeueAll[(Long, Long, V)]
            .sortBy(_._2).map(t => toPoint(t._3)).toArray
          Iterator((prefix, fit(prefix, sample)))
        }
      }
  }

  /** RQ's and PQ's fit: one [[sampledFit]] group over every (doc_id,
    * `vecCol`) row with a non-null vector, read as doubles (so IVF-PQ's
    * ARRAY<DOUBLE> residuals keep their precision); `fit` may overwrite
    * the sample's rows. 2 Spark jobs under AQE. A NaN or infinite
    * coordinate, unequal vector lengths in the sample, or no usable row
    * fail with an IllegalArgumentException naming `caller` and `vecCol`.
    */
  def fitCorpus[R: TypeTag](df: DataFrame, vecCol: String, seed: Long,
      caller: String)(fit: Array[Array[Double]] => R): R = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .where(col(vecCol).isNotNull)
      .select(col("doc_id").cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        if (v.exists(x => x.isNaN || x.isInfinite)) throw new IllegalArgumentException(
          s"$caller: $vecCol of doc_id $id has a non-finite coordinate")
        ("", id, v)
      }
    val fitted = try {
      sampledFit(rows, 1L, seed, SampleCap, identity[Array[Double]]) { (_, sample) =>
        require(sample.forall(_.length == sample(0).length),
          s"$caller: $vecCol vectors differ in length")
        fit(sample)
      }.collect()
    } catch { // a task's IllegalArgumentException arrives wrapped: unwrap it
      case e: SparkException =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }.getOrElse(e)
    }
    fitted.headOption.map(_._2).getOrElse(throw new IllegalArgumentException(
      s"$caller: no row has a non-null $vecCol"))
  }
}
