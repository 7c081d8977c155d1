package graft

import org.apache.spark.sql.functions.col

import graft.functions.{BloomSketch, HashFunctions}
import graft.operators.Similarity

/** GraftExtensions is the one registration path: the shared session is a
  * [[LocalSession]], built with it, so it and every `newSession()` of it
  * resolve every graft function and run RewriteDotProduct. */
class ExtensionsSpec extends SparkSpec {

  test("withExtensions sessions resolve graft functions in plain SQL") {
    val got = spark.sql(
      "SELECT blake2s_hex('abc', 'graft-record-key', 12) AS h, " +
      "blake2b_hex('abc', '', 64) AS b").collect()(0)
    assert(got.getString(0) === "27729599b715440e4b0fa947")
    assert(got.getString(1).startsWith("ba80a53f981c4d0d"))
  }

  test("every builder name resolves in plain SQL") {
    val sketch = BloomSketch.build(spark.range(3).toDF("id"), "id", 3L)
      .map("%02x".format(_)).mkString
    val calls = Map(
      "blake2s_hex" -> "blake2s_hex('abc', 'graft-record-key', 12)",
      "blake2b_hex" -> "blake2b_hex('abc', '', 64)",
      "graft_dot" -> "graft_dot(array(1d, 2d), array(3d, 4d))",
      "graft_adc" -> "graft_adc(array(0, 1), array(array(1L, 2L), array(3L, 4L)))",
      "graft_minhash" -> "graft_minhash(array(1L, 2L), 4, 7)",
      "graft_nfc" -> "graft_nfc('abc')",
      "graft_nfkc" -> "graft_nfkc('abc')",
      "graft_bloom_contains" -> s"graft_bloom_contains(1L, X'$sketch')")
    // a builder added without a case here fails, not skips
    assert(calls.keySet === HashFunctions.builders.keySet)
    val names = calls.keys.toSeq.sorted
    val row = spark.sql(names.map(n => s"${calls(n)} AS `$n`")
      .mkString("SELECT ", ", ", "")).collect()(0)
    names.zipWithIndex.foreach { case (n, i) => assert(!row.isNullAt(i), n) }
    assert(row.getAs[Double]("graft_dot") === 11d)
    assert(row.getAs[Long]("graft_adc") === 5L)
    assert(row.getAs[Boolean]("graft_bloom_contains"))
  }

  test("newSession() resolves blake2s_hex and rewrites the HOF dot to graft_dot") {
    val fresh = spark.newSession()
    val h = fresh.sql("SELECT blake2s_hex('abc', 'graft-record-key', 12)")
      .collect()(0).getString(0)
    assert(h === "27729599b715440e4b0fa947")
    val q = fresh.read.parquet(s"$sf/embeddings.parquet")
      .select(Similarity.dotHof(col("embedding"), col("embedding")).as("d"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), optimized)
  }
}
