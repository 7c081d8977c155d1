package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Serving
import graft.pipeline.{EavStore, MainPipeline}

/** The dashboard's four request kinds over an EAV store, built through
  * [[Serving]] over [[EavStore.read]] the way the benchmark's
  * `eav_release_serve` workload builds them: `latest` and `blob` read one
  * area and metric of release 2, `percentiles` one metric across areas,
  * `delta` one metric's dates from [[DeltaFrom]] on in releases 2 and 1. */
object EavRequests {
  val Kinds = Seq("latest", "blob", "percentiles", "delta")

  val DeltaFrom: java.sql.Date = java.sql.Date.valueOf("1998-06-01")

  def partition(release: Int): String = s"${MainPipeline.releaseDate(release)}|supplier"

  private var built: Option[String] = None

  /** A store holding MainPipeline releases 1 and 2 over `sfDir`, upserted
    * once per JVM; callers only read it. */
  def store(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElse {
      val dir = LocalSession.tempDir("eav_requests").toString + "/store"
      Seq(1, 2).foreach(r => EavStore.upsert(spark, MainPipeline.run(spark, sfDir, r), dir))
      built = Some(dir)
      dir
    }
  }

  private def series(spark: SparkSession, store: String, release: Int,
                     pred: Column): DataFrame =
    EavStore.read(spark, store)
      .where(col("partition_id") === partition(release) && pred)
      .select(col("areaCode"), col("metric"), col("date"),
        get_json_object(col("payload"), "$.value").cast("double").as("value"))

  def apply(spark: SparkSession, store: String, kind: String, area: String,
            metric: String): DataFrame = {
    val one = col("areaCode") === area && col("metric") === metric
    kind match {
      case "latest" =>
        Serving.topNPerGroup(series(spark, store, 2, one).where(col("value").isNotNull),
          Seq("areaCode", "metric"), Seq(col("date").desc), 1)
      case "blob" =>
        Serving.jsonAgg(series(spark, store, 2, one)
          .withColumn("date", col("date").cast("string")),
          Seq("areaCode", "metric"), "date", Seq("value"), "blob")
      case "percentiles" =>
        Serving.percentileDisc(Serving.atLatestDate(
          series(spark, store, 2, col("metric") === metric).where(col("value").isNotNull),
          "date"), Seq("metric"), "value",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      case "delta" =>
        val recent = col("metric") === metric && col("date") >= lit(DeltaFrom)
        Serving.releaseDelta(series(spark, store, 2, recent), series(spark, store, 1, recent),
          Seq("areaCode", "metric", "date"), "value", "delta")
          .select("areaCode", "metric", "date", "delta")
    }
  }
}
