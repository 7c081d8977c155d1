package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trim / clamp / suppression operators (SURVEY.md §2.2) — reference
  * `db_etl/processors/trimmer.py`, `converter.py`, `db_etl_upload/uploader.py`.
  */
object Trim {

  /** P3: negative_to_zero (reference `db_etl/etl.py:925-935`). */
  def negativeToZero(df: DataFrame, metrics: Seq[String]): DataFrame =
    metrics.filter(df.columns.toSet).foldLeft(df)((acc, m) =>
      acc.withColumn(m, greatest(col(m), lit(0d))))

  /** P4: ratio → percentage, `x*100` rounded to 1 dp (reference
    * `db_etl/processors/converter.py:33-39`). */
  def ratioToPercentage(df: DataFrame, metrics: Seq[String]): DataFrame =
    metrics.filter(df.columns.toSet).foldLeft(df)((acc, m) =>
      acc.withColumn(m, round(col(m) * 100d, 1)))

  /** P5: trim_end (reference `trimmer.py:39-50`): null the listed metrics on
    * rows whose date is within the trailing `daysToTrim` of the *global* max
    * date (kept where `date <= max - daysToTrim`). The scalar max rides along
    * as a broadcast cross-join — no per-row subquery, no driver collect.
    *
    * `cutoffFrom`: when `df` is an expensive derived plan (a densified,
    * window-stacked pipeline frame), deriving the scalar from `df` itself
    * makes Catalyst RECOMPUTE that whole subtree once more just for one
    * max(date) — there is no common-subtree reuse across a crossJoin. Any
    * upstream frame with the same maximum date (e.g. the raw daily rollup:
    * densify never extends past the observed max) yields the identical
    * cutoff for a fraction of the work. */
  def trimEnd(df: DataFrame, dateCol: String, metrics: Seq[String],
              daysToTrim: Int = 5, cutoffFrom: Option[DataFrame] = None): DataFrame = {
    val cutoff = cutoffFrom.getOrElse(df)
      .agg(date_sub(max(col(dateCol)), daysToTrim).as("__cutoff"))
    val joined = df.crossJoin(broadcast(cutoff))
    metrics.filter(df.columns.toSet).foldLeft(joined)((acc, m) =>
      acc.withColumn(m, when(col(dateCol) <= col("__cutoff"), col(m)))
    ).drop("__cutoff")
  }

  /** P6: trim_sides (reference `db_etl_upload/uploader.py:55-90`) on long/EAV
    * rows, bit-faithful to the pandas positional quirks:
    *
    *  - per (keys, metric), rows sorted by date get positions p = 1..n;
    *  - f = first p where running sum of |payload| > 0, falling back to the
    *    first non-null payload position (non-numeric payloads);
    *  - head trim drops rows with p <= f+1 — the reference's
    *    `dm.loc[:first_nonzero + 1] = NaN` nulls one row *past* the first
    *    non-zero, quirk preserved;
    *  - l = last non-null payload position after the head trim; tail trim drops
    *    p >= l-1 — again one row *before* last valid, per `dm.loc[last_valid-1:]`;
    *  - `variants` metrics are never trimmed (the reference only writes back
    *    inside the non-variants branch, `uploader.py:83-87`);
    *  - metrics with no non-null payload (before or after head trim) are left
    *    untouched.
    */
  def trimSides(df: DataFrame, keys: Seq[String], dateCol: String,
                metricCol: String = "metric", payloadCol: String = "payload",
                noTrimMetrics: Set[String] = Set("variants")): DataFrame = {
    val grp = (keys :+ metricCol).map(col)
    val wOrd = Window.partitionBy(grp: _*).orderBy(col(dateCol))
    // full-frame spec on the same ordering: sort-compatible with wOrd so all
    // four window columns stack on a single exchange + sort
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = col("__p")
    val withPos = df
      .withColumn("__p", row_number().over(wOrd))
      .withColumn("__cum", sum(abs(col(payloadCol))).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val withBounds = withPos
      .withColumn("__f", coalesce(
        min(when(col("__cum") > 0, p)).over(wAll),
        min(when(col(payloadCol).isNotNull, p)).over(wAll)))
    val withTail = withBounds
      .withColumn("__l", max(when(col(payloadCol).isNotNull && p > col("__f") + 1, p)).over(wAll))
    val noTrim: Column =
      if (noTrimMetrics.isEmpty) lit(false)
      else col(metricCol).isin(noTrimMetrics.toSeq.map(_.asInstanceOf[Any]): _*)
    withTail
      .where(
        col("__f").isNull ||                       // metric entirely null: untouched
        noTrim ||
        col("__l").isNull ||                       // nothing survives head trim: untouched
        (p > col("__f") + 1 && p < col("__l") - 1))
      .drop("__p", "__cum", "__f", "__l")
  }

  /** P7: weekly-metric null drop (reference `uploader.py:444-475`): for metrics
    * whose name contains "weekly" (case-insensitive) or is explicitly listed,
    * drop null-payload rows instead of keeping the date gap. */
  def dropWeeklyNulls(df: DataFrame, metricCol: String, payloadCol: String,
                      extraMetrics: Seq[String] = Nil): DataFrame = {
    val isWeekly = lower(col(metricCol)).contains("weekly") ||
      col(metricCol).isin(extraMetrics.map(_.asInstanceOf[Any]): _*)
    df.where(!(isWeekly && col(payloadCol).isNull))
  }

  /** P10: nation override (reference `uploader.py:569-571`). */
  def overrideWhereIn(df: DataFrame, matchCol: String, values: Seq[String],
                      targetCol: String, newValue: String): DataFrame =
    df.withColumn(targetCol,
      when(col(matchCol).isin(values.map(_.asInstanceOf[Any]): _*), newValue)
        .otherwise(col(targetCol)))
}
