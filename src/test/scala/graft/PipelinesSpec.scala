package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{DemographicsPipeline, MainPipeline, MsoaPipeline}

/** End-to-end invariants of the composed pipelines (SURVEY.md §3). */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("main pipeline emits valid EAV rows with 24-hex hashes") {
    val out = MainPipeline.run(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.where(!col("hash").rlike("^[0-9a-f]{24}$")).count() === 0)
    val metrics = out.select("metric").distinct().as[String].collect().toSet
    assert(metrics === Set("qty", "qtyRollingSum", "qtyChange", "qtyDirection",
      "qtyChangePercentage", "qtyRollingRate"))
    // payload wraps every value, null included, and never in Java exponent form
    assert(out.where(!col("payload").startsWith("{\"value\":")).count() === 0)
    assert(out.where(col("payload").rlike("[0-9]E")).count() === 0)
    assert(out.where(col("payload") === "{\"value\":null}").count() > 0)
    // hash is a true row id: unique per (area, metric, date)
    assert(out.select("hash").distinct().count() === out.count())
    out.unpersist()
  }

  test("payload numbers render as Python repr / DuckDB CAST(DOUBLE AS VARCHAR)") {
    // Java's Double.toString switches to exponent form at 1e7; the reference's
    // json.dumps and the q64 DuckDB oracle stay positional below 1e16
    val cases = Seq(
      1e7 -> "10000000.0", 12345678.9 -> "12345678.9", -12345678.9 -> "-12345678.9",
      123456789012345.6 -> "123456789012345.6", 9999999.0 -> "9999999.0",
      1e16 -> "1e+16", -1.5e17 -> "-1.5e+17", 1.0 -> "1.0", -2.5 -> "-2.5",
      0.0 -> "0.0", 0.001 -> "0.001", 1.5e-4 -> "0.00015", 1e-4 -> "0.0001",
      1e-5 -> "1e-05", 2.5e-300 -> "2.5e-300")
    val got = cases.map(_._1).toDF("x")
      .select(MainPipeline.pyRepr(col("x"))).as[String].collect().toSeq
    assert(got === cases.map(_._2))
    assert(Seq(Option.empty[Double]).toDF("x")
      .select(MainPipeline.pyRepr(col("x"))).as[String].collect().toSeq === Seq(null))
  }

  test("msoa pipeline: suppression + weekly sampling + packed payloads") {
    val out = MsoaPipeline.run(spark, sf).cache()
    assert(out.count() > 0)
    // sampled dates are exactly 7 days apart per area
    val gaps = out.select($"areaCode", $"date")
      .withColumn("gap", datediff($"date",
        lag($"date", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"areaCode").orderBy($"date"))))
      .where($"gap".isNotNull).select("gap").distinct().as[Int].collect()
    assert(gaps.toSeq === Seq(7))
    // suppression: no packed rollingSum below 3 unless null
    val low = out.where(get_json_object($"payload", "$.rollingSum").cast("long") < 3)
    assert(low.count() === 0)
    out.unpersist()
  }

  test("demographics pipeline nests per-band rates deterministically") {
    val input = Seq(
      ("utla", "A", "2021-01-01", "00_04", 2.0),
      ("utla", "A", "2021-01-01", "05_09", 3.0),
      ("utla", "A", "2021-01-08", "00_04", 4.0))
      .toDF("areaType", "areaCode", "date", "age", "newCases")
      .withColumn("date", to_date($"date"))
    val pop = Seq(("A", "00_04", 1000.0), ("A", "05_09", 2000.0))
      .toDF("areaCode", "age", "population")
    val spec = DemographicsPipeline.Spec("age", 7, "newCases", "cases",
      "newCasesAgeDemographics")
    val out = DemographicsPipeline.run(input, spec, pop)
    assert(out.columns.toSeq ===
      Seq("areaType", "areaCode", "date", "newCasesAgeDemographics"))
    assert(out.count() === 2) // two weekly spine dates
    val bands = out.where($"date" === "2021-01-01")
      .select(explode($"newCasesAgeDemographics").as("b"))
      .select("b.age").as[String].collect().sorted
    assert(bands === Array("00_04", "05_09"))
  }
}
