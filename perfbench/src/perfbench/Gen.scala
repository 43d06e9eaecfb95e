package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, id), so executors and the driver regenerate identical
  * inputs independently of partitioning. */
object Gen {

  /** SplitMix64 finalizer: decorrelates (seed, stream, id) triples. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), id))

  val DocStream = 0L
  val QueryStream = 1L
  val LatencyStream = 2L

  /** Unit vectors around `centers` planted unit centroids with Gaussian
    * spread `sigma`. Unit norm makes the inner-product ranking the
    * re-rank uses agree with the L2 geometry the codebook probes, which
    * keeps coarse-fine recall well inside (0, 1). */
  final case class Planted(seed: Long, dim: Int, centers: Int, sigma: Double) {
    private val cents: Array[Array[Double]] = {
      val r = rng(seed, -1L, 0L)
      Array.fill(centers)(unit(Array.fill(dim)(r.nextGaussian())))
    }

    def vec(stream: Long, id: Long): Array[Float] = {
      val r = rng(seed, stream, id)
      val c = cents(r.nextInt(centers))
      unit(Array.tabulate(dim)(j => c(j) + sigma * r.nextGaussian()))
        .map(_.toFloat)
    }
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** The sf-style `documents` table (doc_id, text, lang, source,
    * n_chars) with planted redundancy for the curation chain:
    *
    *  - `base` random documents of 10–100 words over a 30-word vocabulary;
    *  - a share `spanShare` of them carries one of `spanPool` shared
    *    9–12 word spans (the suffix-trim stage's target);
    *  - `exactCopies` verbatim replicas per base document on average
    *    (exact dedup's target) and `nearCopies` replicas with one word
    *    in twenty substituted (the LSH + Jaccard stage's target).
    */
  final case class Documents(seed: Long, base: Int, spanShare: Double,
      spanPool: Int, exactCopies: Double, nearCopies: Double) {

    val vocab: Array[String] = Array("a", "the", "key", "agg", "row", "scan",
      "slow", "fast", "table", "value", "part", "hash", "merge", "batch",
      "spark", "line", "sort", "window", "data", "column", "join", "small",
      "customer", "query", "big", "order", "stream", "group", "filter",
      "vector")
    private val langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")

    private def words(r: SplittableRandom, n: Int): Array[String] =
      Array.fill(n)(vocab(r.nextInt(vocab.length)))

    /** Rows in doc_id order, plus the generated shares. */
    def rows(): (Seq[(Long, String, String, String, Long)], Map[String, Double]) = {
      val pool = {
        val r = rng(seed, 10L, 0L)
        Array.fill(spanPool)(words(r, 9 + r.nextInt(4)))
      }
      val hasSpan = new Array[Boolean](base)
      val baseText = Array.tabulate(base) { i =>
        val r = rng(seed, 11L, i)
        val w = words(r, 10 + r.nextInt(91))
        hasSpan(i) = r.nextDouble() < spanShare
        if (hasSpan(i)) {
          val at = r.nextInt(w.length + 1)
          (w.take(at) ++ pool(r.nextInt(spanPool)) ++ w.drop(at)).mkString(" ")
        } else w.mkString(" ")
      }
      val out = ArrayBuffer.empty[String]
      out ++= baseText
      var withSpan = hasSpan.count(identity)
      val r = rng(seed, 12L, 0L)
      val nExact = math.round(base * exactCopies).toInt
      val nNear = math.round(base * nearCopies).toInt
      for (_ <- 0 until nExact) {
        val src = r.nextInt(base)
        out += baseText(src)
        if (hasSpan(src)) withSpan += 1
      }
      for (_ <- 0 until nNear) {
        val src = r.nextInt(base)
        val w = baseText(src).split(" ")
        val subs = math.max(1, w.length / 20)
        for (_ <- 0 until subs) w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
        out += w.mkString(" ")
        if (hasSpan(src)) withSpan += 1
      }
      val rows = out.indices.map { i =>
        val text = out(i)
        val meta = rng(seed, 13L, i)
        (i.toLong, text, langs(meta.nextInt(langs.length)), s"src${i % 20}",
          text.length.toLong)
      }
      val n = out.length.toDouble
      (rows, Map(
        "docs" -> n, "base_docs" -> base.toDouble,
        "exact_replica_share" -> nExact / n, "near_replica_share" -> nNear / n,
        "shared_span_share" -> withSpan / n))
    }
  }
}
