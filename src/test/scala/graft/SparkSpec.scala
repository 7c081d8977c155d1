package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one [[LocalSession]] per JVM, so specs and
  * plan assertions run under the config Bench, Verify and the benchmark
  * harness use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs: a listener attached between
    * two listener-bus drains, so it sees exactly `body`'s jobs. */
  def jobsDuring(body: => Any): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession.create()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
