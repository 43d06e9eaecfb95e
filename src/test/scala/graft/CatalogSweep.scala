package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** One planning pass over the whole `SparkEntry` catalog, shared by the
  * suites that audit it (EntrySpec's row check, PlanSpec's cartesian and
  * window audits): each query's frame is built once, its pre-AQE physical
  * plan kept, then it runs. Suites in one test JVM share the session, so
  * the pass runs once per SparkContext and fixture dir, whichever suite
  * asks first.
  */
object CatalogSweep {
  final case class Query(name: String, plan: SparkPlan, rows: Long)

  private var swept = Map.empty[(SparkContext, String), Seq[Query]]

  def apply(spark: SparkSession, dir: String): Seq[Query] = synchronized {
    val key = (spark.sparkContext, dir)
    swept.getOrElse(key, {
      val qs = SparkEntry.queries.toSeq.map { case (name, fn) =>
        val df = fn(spark, dir)
        Query(name, df.queryExecution.sparkPlan, df.count())
      }
      swept += key -> qs
      qs
    })
  }
}
