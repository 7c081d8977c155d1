package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one [[LocalSession]] per JVM, so specs and
  * plan assertions run under the config Bench, Verify and the benchmark
  * harness use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession.create()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
