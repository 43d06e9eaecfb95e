package graft.index

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

/** Runs [[HierarchicalKMeans.beamSearchByLevels]] through both of its
  * plans and holds each to the plain-Scala [[HkmReference.beam]]. */
trait HkmBeamPlans { this: SparkSpec =>

  /** (query_id, rank, path, score bits); a NULL query_id reads None. */
  type BeamRow = (Option[Long], Long, Seq[Int], Long)

  /** (query_id, qvec) rows as a LocalRelation — a batch on the driver. */
  def localQueries(rows: Seq[(java.lang.Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("qvec", ArrayType(FloatType))))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) =>
      Row(id, Option(v).map(_.toSeq).orNull) }: _*), schema)
  }

  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  def beamRows(df: DataFrame): Seq[BeamRow] = df.collect().toSeq.map(r =>
    (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
      r.getSeq[Int](2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
    .sortBy(r => (r._1, r._2))

  /** The reference's rows: rows grouped by query id, NULL vectors
    * skipped. */
  def referenceRows(levels: DataFrame, rows: Seq[(java.lang.Long, Array[Float])],
      beams: Int): Seq[BeamRow] = {
    val nodes = HkmReference.nodes(levels)
    rows.filter(_._2 != null).groupBy(r => Option(r._1).map(_.longValue))
      .toSeq.flatMap { case (id, group) =>
        HkmReference.beam(nodes, group.map(_._2), beams).zipWithIndex.map {
          case ((path, score), i) =>
            (id, i + 1L, path, java.lang.Double.doubleToLongBits(score))
        }
      }.sortBy(r => (r._1, r._2))
  }

  /** The beam over `rows` as a local batch (the driver plan) and as a
    * repartitioned copy (the distributed plan): each plan taken as
    * expected, the same schema, and rows equal to the reference to the
    * bit. Returns the rows. */
  def beamBothPlans(rows: Seq[(java.lang.Long, Array[Float])], levels: DataFrame,
      depth: Int, beams: Int): Seq[BeamRow] = {
    val local = localQueries(rows)
    // the optimizer folds a repartitioned batch with no vector into an
    // empty LocalRelation, so that batch's distributed copy is a checkpoint
    val copy =
      if (rows.forall(_._2 == null)) local.localCheckpoint() else local.repartition(3)
    val driver = HierarchicalKMeans.beamSearchByLevels(local, levels, depth, beams)
    val distributed = HierarchicalKMeans.beamSearchByLevels(copy, levels, depth, beams)
    assert(isLocal(driver), "the local batch took the distributed plan")
    assert(!isLocal(distributed), "the repartitioned batch took the driver plan")
    assert(driver.schema == distributed.schema)
    val want = referenceRows(levels, rows, beams)
    assert(beamRows(driver) == want, "the driver plan diverged from the reference")
    assert(beamRows(distributed) == want,
      "the distributed plan diverged from the reference")
    want
  }
}
