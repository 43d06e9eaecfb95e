package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession(8)

  def sf(scale: String): String = s"/root/testdata/sf$scale"

  /** Runs `body` with `listener` registered, returning only after the
    * listener bus has delivered every event posted so far, so the
    * listener can be read exactly. */
  def withListener[T](listener: SparkListener)(body: => T): T = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs. */
  def countJobs(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    withListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
    n.get()
  }
}
