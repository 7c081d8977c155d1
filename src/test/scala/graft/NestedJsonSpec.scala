package graft

import java.nio.file.{Files, Paths}
import graft.sources.NestedJson

/** S1 source: parse the reference's nested main-release JSON shape
  * (FIXTURES.md §1) into the long categorical frame. */
class NestedJsonSpec extends SparkSpec {
  import spark.implicits._

  private val fixture =
    """{
      |  "utla": {
      |    "E06000001": {
      |      "name": {"value": "Hartlepool"},
      |      "newCasesBySpecimenDate": [
      |        {"date": "2021-01-01", "value": "12"},
      |        {"date": "2021-01-02", "value": "15"}
      |      ],
      |      "cumCasesBySpecimenDate": [{"date": "2021-01-02", "value": "345"}]
      |    },
      |    "E06000002": {
      |      "name": {"value": "Middlesbrough"},
      |      "newCasesBySpecimenDate": [{"date": "2021-01-01", "value": "7"}]
      |    }
      |  },
      |  "nation": {
      |    "E92000001": {
      |      "name": {"value": "England"},
      |      "newCasesBySpecimenDate": [{"date": "2021-01-01", "value": "900"}]
      |    }
      |  }
      |}""".stripMargin

  test("nested release JSON shreds to the long categorical frame") {
    val dir = LocalSession.tempDir("nested").toString
    Files.writeString(Paths.get(s"$dir/data.json"), fixture)
    val df = NestedJson.parseRelease(spark, s"$dir/data.json")
    assert(df.count() === 5)
    val row = df.where($"areaCode" === "E06000001" && $"date" === "2021-01-01")
      .select("areaType", "category", "value", "areaName")
      .as[(String, String, Double, String)].collect()
    assert(row === Array(("utla", "newCasesBySpecimenDate", 12.0, "Hartlepool")))
    val nations = df.where($"areaType" === "nation").count()
    assert(nations === 1)
  }

  test("category renames are value-level, not string-level") {
    val df = Seq(("utla", "x", "oldName"), ("utla", "y", "other"))
      .toDF("areaType", "areaCode", "category")
    val out = NestedJson.renameCategories(df, Map("oldName" -> "newName"))
    assert(out.where($"category" === "newName").count() === 1)
    assert(out.where($"category" === "oldName").count() === 0)
  }
}
