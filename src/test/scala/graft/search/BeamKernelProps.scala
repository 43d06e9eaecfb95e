package graft.search

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.index.Codebook

/** The flat-array beam kernel ([[CodebookBeamSearch.searchOne]]) against
  * the sort-and-take search it replaced ([[BeamReference.searchOne]]):
  * the same code tuples in the same order and the same score bits (any
  * NaN equal to any NaN), on
  * codebooks built to tie (small integer grids), on NaN and infinite
  * coordinates, at every beam width from 0 to past the full expansion,
  * for both metrics, both score modes and the sampled mode.
  */
object BeamKernelProps extends Properties("beam.kernel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3000)

  private val dim = 4

  /** A coordinate: mostly on a small integer grid (so distances and
    * scores tie), sometimes Gaussian, sometimes NaN or infinite. */
  private val genCoord: Gen[Float] = Gen.frequency(
    12 -> Gen.choose(-2, 2).map(_.toFloat),
    6 -> Gen.choose(-3.0f, 3.0f),
    1 -> Gen.const(Float.NaN),
    1 -> Gen.oneOf(Float.PositiveInfinity, Float.NegativeInfinity))

  private def genVec(coord: Gen[Float]): Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](dim, coord)

  /** Clean grids most of the time: a single NaN poisons a whole level. */
  private val genCodebook: Gen[Codebook] = for {
    levels <- Gen.choose(1, 3)
    k <- Gen.choose(1, 5)
    ragged <- Gen.oneOf(false, false, true) // a different K per level
    hostile <- Gen.oneOf(false, false, false, true)
    coord = if (hostile) genCoord else Gen.choose(-2, 2).map(_.toFloat)
    cents <- Gen.sequence[List[Array[Array[Float]]], Array[Array[Float]]](
      (0 until levels).map { _ =>
        (if (ragged) Gen.choose(1, 5) else Gen.const(k)).flatMap(kk =>
          Gen.containerOfN[Array, Array[Float]](kk, genVec(coord)))
      })
  } yield Codebook(cents.toArray)

  private val genQuery: Gen[Array[Float]] = Gen.oneOf(
    genVec(Gen.choose(-2, 2).map(_.toFloat)), genVec(genCoord))

  /** Codes and score bits; every NaN reads as one, since the JVM leaves
    * a NaN result's sign and payload to the compiled code. */
  private def bits(out: Array[(Array[Int], Double)]): Seq[(Seq[Int], Long)] =
    out.toSeq.map { case (c, s) => (c.toSeq, java.lang.Double.doubleToLongBits(s)) }

  property("the kernel equals the reference search bit for bit") =
    forAllNoShrink(genCodebook, genQuery, Gen.choose(0, 1000)) { (cb, q, b) =>
      val maxK = cb.levels.map(_.length).max
      val beams = b % (maxK * maxK + 2) // 0 to F·K + 1 at F = K
      val cases = for {
        metric <- Seq("l2", "ip")
        mode <- Seq("prod", "last")
        sample <- Seq(false, true)
      } yield (metric, mode, sample)
      Prop.all(cases.map { case (metric, mode, sample) =>
        val got = CodebookBeamSearch.searchOne(cb, q, beams, metric, mode,
          doSample = sample, sampleSeed = b.toLong, salt = s"q$b")
        val want = BeamReference.searchOne(cb, q, beams, metric, mode,
          doSample = sample, sampleSeed = b.toLong, salt = s"q$b")
        Prop(bits(got) == bits(want)) :|
          s"beams=$beams metric=$metric mode=$mode sample=$sample " +
          s"codebook=${cb.levels.map(_.map(_.mkString("[", ",", "]")).mkString).mkString(" | ")} " +
          s"q=${q.mkString(",")} got=${bits(got)} want=${bits(want)}"
      }: _*)
    }
}
