package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.HashFunctions
import graft.operators._
import graft.sources.Tables

/** The flagship end-to-end pipeline — the reference's canonical `process()`
  * order (`db_etl/etl.py:996-1022` + upload `deploy`, SURVEY.md §3.1) composed
  * Spark-first on the supplier daily series:
  *
  *   densify (R3) → normalise zero-fill (W8) → rolling family (A3/W1/W2/W3)
  *   → rates (A4) → trim_end (P5) → melt to EAV (R2) → payload wrap (P8)
  *   → keyed BLAKE2s row hash → partition-keyed EAV rows (S9/S10 shape).
  *
  * Single logical plan: Catalyst shares the (areaCode × date) shuffle across
  * the window stages, dims ride as broadcasts, and the output is partitioned
  * by `partition_id` exactly like the reference's Postgres partition scheme.
  */
object MainPipeline {

  val RecordKey = "graft-record-key" // stands in for the reference's RECORD_KEY env secret

  /** Deterministic stand-in for the release timestamp (`%Y_%-m_%-d` shape,
    * uploader.py:246-252): one value per release, NOT per series row. */
  def releaseDate(releaseId: Int): String = s"2026_8_$releaseId"

  /** A number as Python's `repr` (so `json.dumps`, and DuckDB's
    * `CAST(DOUBLE AS VARCHAR)`) writes it: positional for
    * 1e-4 <= |x| < 1e16, else `<digits>e±XX`. A string cast (like `to_json`)
    * gives Java's `Double.toString`, whose exponent form starts outside
    * 1e-3 <= |x| < 1e7; only that form is rewritten, keeping Java's digits. */
  def pyRepr(x: Column): Column = {
    val s = x.cast("string")
    val re = "^(-?)([0-9])\\.([0-9]+)E(-?[0-9]+)$"
    def part(i: Int) = regexp_extract(s, re, i)
    val (sign, lead, e) = (part(1), part(2), part(4).try_cast("int"))
    val frac = regexp_replace(part(3), "0+$", "")
    val digits = concat(lead, frac)
    val mantissa = concat(lead, when(frac =!= "", concat(lit("."), frac)).otherwise(""))
    val exponent = concat(when(e < 0, "e-").otherwise("e+"), format_string("%02d", abs(e)))
    val tail = call_function("substr", digits, e + 2)
    when(!s.contains("E"), s)
      .when(e >= 16 || e < -4, concat(sign, mantissa, exponent))
      .when(e < 0, concat(sign, lit("0.000"), digits)) // e = -4: Java is positional from 1e-3
      .otherwise(concat(sign, call_function("rpad", digits, e + 1, lit("0")), lit("."),
        when(tail === "", "0").otherwise(tail)))
  }

  def run(spark: SparkSession, sfDir: String, releaseId: Int = 1): DataFrame = {
    HashFunctions.register(spark)
    val keys = Seq("areaType", "areaCode")
    val daily = Tables.supplierDaily(spark, sfDir)
      .select(lit("supplier").as("areaType"),
        col("l_suppkey").cast("string").as("areaCode"),
        col("date"), col("qty"))

    // R3 + W8: dense daily spine, bounded zero-fill
    val dense = Reshape.densifyDates(daily, keys, "date")
    val filled = Fill.zeroFillBounded(dense, keys, "date", "qty")

    // A3/W1/W2/W3 rolling family
    val rolled = Rolling.changeBySum(filled, keys, "date", "qty")

    // A4: rolling rate per 100k against the broadcast population dim
    val pop = Tables.load(spark, sfDir, "supplier")
      .select(col("s_suppkey").cast("string").as("areaCode"),
        abs(col("s_acctbal")).as("population"))
    val rated = Rolling.ratePer(
      rolled.join(broadcast(pop), Seq("areaCode"), "left"),
      "qtyRollingSum", "population", "qtyRollingRate").drop("population")

    // P5: trailing 5-day trim on the event-dated metrics. The cutoff scalar
    // comes from the RAW daily frame (same max date as the dense frame):
    // deriving it from `rated` would re-derive the whole densify subtree a
    // second time just for one max(date) — ~40% of the old q51 plan.
    val trimmed = Trim.trimEnd(rated, "date",
      Seq("qty", "qtyRollingSum", "qtyRollingRate"), daysToTrim = 5,
      cutoffFrom = Some(daily))

    // R2 + P8: melt wide → EAV long with JSON-wrapped payloads
    val metrics = Seq("qty", "qtyRollingSum", "qtyChange", "qtyDirection",
      "qtyChangePercentage", "qtyRollingRate")
    // A null metric wraps as {"value":null} like the reference's json.dumps
    // (uploader.py:501-508), not as {}; numbers are written the way it
    // writes them (see pyRepr), strings are escaped by to_json.
    val types = trimmed.schema
    val wrapped = metrics.foldLeft(trimmed) { (acc, m) =>
      acc.withColumn(m, types(m).dataType match {
        case StringType =>
          to_json(struct(col(m).as("value")), Map("ignoreNullFields" -> "false"))
        case _ => concat(lit("{\"value\":"), coalesce(pyRepr(col(m)), lit("null")), lit("}"))
      })
    }
    val long = Reshape.melt(
      wrapped.select((keys ++ Seq("date") ++ metrics).map(col): _*),
      ids = keys :+ "date", metrics = metrics)

    // Row identity: keyed BLAKE2s over the reference's hash columns
    // (uploader.py:143-192), partition id per (release date, area group).
    // partition_id is keyed by the RELEASE date + area group (reference
    // uploader.py:246-252) — constant per release, so one release writes a
    // handful of partitions, not one per series date.
    long
      .withColumn("release_id", lit(releaseId))
      .withColumn("partition_id",
        concat(lit(releaseDate(releaseId)), lit("|"), col("areaType")))
      .withColumn("hash", HashFunctions.blake2sHex(
        concat(date_format(col("date"), "yyyy-MM-dd"), col("areaType"),
          col("areaCode"), col("metric"), col("release_id").cast("string")),
        RecordKey, 12))
      .select("hash", "release_id", "areaType", "areaCode", "metric",
        "partition_id", "date", "payload")
  }
}
