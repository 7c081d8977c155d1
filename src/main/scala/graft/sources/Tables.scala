package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet sources over the driver test data (SURVEY.md §2.1).
  *
  * The reference reads nested JSON (`db_etl/etl.py:1374-1383`), parquet chunks
  * (`chunk_etl_retriever/retriever.py:97-99`), CSV lookups (`db_etl/etl.py:1146-1151`)
  * and feather intermediates. Here everything at rest is columnar parquet; Catalyst
  * gets column pruning + predicate pushdown for free on every scan.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** S3: parquet source with automatic column pruning/pushdown. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events table with its nanosecond timestamp normalized to Spark's
    * TimestampType (micros). Requires `spark.sql.legacy.parquet.nanosAsLong`
    * (set by Verify/Bench/tests); the nanos ride in as a long and are floored
    * to microseconds, matching a native ns→µs cast. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case _ => raw
    }
  }

  // ---- canonical "time-series" views over the TPC-H-ish tables ------------
  // FIXTURES.md §8 mapping: areaCode ≈ l_suppkey / o_custkey, date ≈ ship/order
  // date, metric value ≈ quantity / totalprice. These are the shared inputs of
  // the operator queries; each is a pure projection+aggregation so the parquet
  // scan stays pruned to the referenced columns.

  /** Daily quantity per supplier — the sparse "wide time-series" analogue.
    * One shuffle (groupBy supplier, date); integral doubles so sums are exact. */
  def supplierDaily(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("date"), col("l_quantity"))
      .groupBy("l_suppkey", "date")
      .agg(sum("l_quantity").cast("double").as("qty"))
}
