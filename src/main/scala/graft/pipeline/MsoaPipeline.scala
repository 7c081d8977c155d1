package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.operators._
import graft.sources.Tables

/** The MSOA cases pipeline (SURVEY.md §3.3, `msoa_etl_db/processor.py:267-298`)
  * composed end to end:
  *
  *   column-pruned read (S3) → tail zero-pad (R5) → date-spine densify (R3)
  *   → zero-fill → rolling family with small-count substitution
  *   (min_sum_allowed=3, min_sum_sub=2) → rolling rate per 100k →
  *   suppression of the derived family (P11) → every-7th-day periodic
  *   sampling anchored at latest−5 → pack the family into one JSON payload
  *   per date → keyed BLAKE2s row hash.
  *
  * The reference fans out one Azure activity per MSOA (~6,790); here the same
  * grain is one Spark task group per areaCode partition — a single
  * `partitionBy(areaCode)` shuffle replaces the orchestrator.
  */
object MsoaPipeline {

  def run(spark: SparkSession, sfDir: String, releaseId: Int = 1): DataFrame = {
    val keys = Seq("areaCode")
    val metric = "cases"

    // S3: pruned read — only the three columns the pipeline touches.
    val daily = Tables.supplierDaily(spark, sfDir)
      .select(col("l_suppkey").cast("string").as("areaCode"),
        col("date"), col("qty").as(metric))

    // R5 + R3 + zero-fill: pad each area's tail to the global max date, then
    // densify the full range and zero-fill (the MSOA variant zero-fills
    // unconditionally, processor.py `normaliser`).
    val padded = Reshape.zeroPadTail(daily, keys, "date", metric)
    val dense = Reshape.densifyDates(padded, keys, "date")
      .withColumn(metric, coalesce(col(metric), lit(0d)))

    // Rolling family with substitution + suppression (P11).
    val fam = Rolling.changeBySum(dense, keys, "date", metric,
      minSumAllowed = Some(3d), minSumSub = 2d)

    // A4: rolling rate against the broadcast population lookup
    // (msoa_pop2020.csv analogue).
    val pop = Tables.load(spark, sfDir, "supplier")
      .select(col("s_suppkey").cast("string").as("areaCode"),
        abs(col("s_acctbal")).as("population"))
    val rated = Rolling.ratePer(
      fam.join(broadcast(pop), keys, "left"),
      s"${metric}RollingSum", "population", s"${metric}RollingRate").drop("population")

    // Periodic thinning: keep every 7th day anchored at latest-5
    // (processor.py:67-93). The anchor scalar derives from the RAW daily
    // frame — zero-pad/densify never extend past daily's global max, and
    // aggregating the derived frame would make Catalyst recompute the whole
    // pad+densify+window subtree a second time for one max(date) (the q51
    // lesson, PlanSpec-pinned there).
    val anchor = daily.agg(date_sub(max(col("date")), 5).as("__anchor"))
    val sampled = rated.crossJoin(broadcast(anchor))
      .where(col("date") <= col("__anchor") &&
        datediff(col("__anchor"), col("date")) % 7 === 0)
      .drop("__anchor")

    // convert_types: one JSON payload per (area, date) carrying the family.
    val packed = sampled.select(col("areaCode"), col("date"),
      to_json(struct(
        col(s"${metric}RollingSum").cast("long").as("rollingSum"),
        col(s"${metric}Change").cast("long").as("change"),
        col(s"${metric}Direction").as("direction"),
        col(s"${metric}ChangePercentage").as("changePercentage"),
        // DECIMAL(20,1) not DOUBLE: rates can exceed 1e7 where Double.toString
        // switches to scientific notation; decimals render plain in any engine.
        col(s"${metric}RollingRate").cast("decimal(20,1)").as("rollingRate")),
        Map("ignoreNullFields" -> "false")).as("payload"))

    packed
      .withColumn("release_id", lit(releaseId))
      .withColumn("partition_id",
        concat(lit(MainPipeline.releaseDate(releaseId)), lit("|msoa")))
      .withColumn("hash", HashFunctions.blake2sHex(
        concat(date_format(col("date"), "yyyy-MM-dd"), lit("msoa"),
          col("areaCode"), lit(metric), col("release_id").cast("string")),
        MainPipeline.RecordKey, 12))
      .select("hash", "release_id", "areaCode", "partition_id", "date", "payload")
  }
}
