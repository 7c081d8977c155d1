package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, when}

import graft.functions.BloomSketch

/** Shared helpers for stores parquet-partitioned by a top-level `release=`
  * directory ([[SignatureStore]], [[GramStore]], the per-release sketch
  * sidecars): the listing, the retention vacuum and the Bloom sketch
  * sidecar. */
private[pipeline] object ReleasePartitions {

  /** The `release=` directories under `path` (metadata only; a missing
    * path lists nothing). */
  private def releaseDirs(spark: SparkSession,
                          path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("release="))
  }

  /** The release names under `path`'s `release=` directories. */
  def releases(spark: SparkSession, path: String): Seq[String] =
    releaseDirs(spark, path).map(_.getPath.getName.stripPrefix("release="))

  /** Delete every release the predicate rejects, loudly failing on a silent
    * delete (Hadoop `fs.delete` reports failure by RETURNING false, not
    * throwing). The session listing cache is refreshed so a plan built
    * after the vacuum cannot read the dropped files' stale listing. */
  def vacuum(spark: SparkSession, path: String,
             keep: String => Boolean): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val dropped = for {
        rel <- releaseDirs(spark, path)
        name = rel.getPath.getName.stripPrefix("release=")
        if !keep(name)
      } yield {
        require(fs.delete(rel.getPath, true),
          s"vacuum failed to delete ${rel.getPath}")
        name
      }
      spark.catalog.refreshByPath(path)
      dropped.distinct
    }
  }

  /** Per-release kilobyte SKETCH SIDECAR — a [[BloomSketch]] of each
    * release partition's stored keys, one `release=` partition per store
    * release under `sketchDir`. It serves one kind of caller: a nightly
    * newness audit that must prove a delta's keys are new to the store
    * ([[IndexStore.sketchHitReleases]], [[GramStore.sketchHitReleases]]).
    * Without sketches that proof is a column-pruned scan of every prior
    * release; with them a clean night reads kilobytes of sketch plus one
    * map pass over the delta, and the scan survives only on a hit.
    *
    * The correctness condition is the owning store's: a release's sketch
    * is always a SUPERSET of its stored keys (every path that adds keys
    * rebuilds it; paths that only remove keys may leave it stale-wide,
    * costing at most a spurious fallback scan), and a release with no
    * sketch is conservatively a hit. `keys`' first column holds the keys. */
  def writeSketch(spark: SparkSession, sketchDir: String, release: String,
                  keys: DataFrame): Unit = {
    import spark.implicits._
    val bytes = BloomSketch.build(keys, keys.columns.head, keys.count())
    Seq((bytes, release)).toDF("sketch", "release")
      .coalesce(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("release").parquet(sketchDir)
  }

  /** Every persisted release sketch, keyed by release name — kilobytes per
    * release, driver-collected. A sketch dir left EMPTY by a vacuum reads
    * as no sketches, not a schema-inference failure. */
  def readSketches(spark: SparkSession, sketchDir: String): Map[String, Array[Byte]] =
    if (releases(spark, sketchDir).isEmpty) Map.empty
    else {
      spark.catalog.refreshByPath(sketchDir)
      spark.read.parquet(sketchDir)
        .select(col("release").cast("string"), col("sketch"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sketch")).toMap
    }

  /** The `priors` that MIGHT hold any key of `delta` (first column): one
    * map pass over the delta evaluates every sketched release's
    * might-contain aggregate at once (sketch bytes ride the plan as
    * literals); releases without a sketch are returned unconditionally.
    * Empty result = proof of no shared key (Bloom `false` is definitive);
    * a listed release = "scan it" — a hit may be a false positive, never
    * the reverse. When the combined sketch bytes exceed
    * [[SketchPlanBudgetBytes]] the consult is skipped and every sketched
    * prior is returned, rather than a plan bloated with hundreds of MB of
    * literals. */
  def sketchHitReleases(spark: SparkSession, sketchDir: String,
                        priors: Seq[String], delta: DataFrame): Seq[String] = {
    if (priors.isEmpty) return Seq.empty
    val sketches = readSketches(spark, sketchDir)
    val (sketched, unsketched) = priors.partition(sketches.contains)
    val hits =
      if (sketched.isEmpty) Seq.empty[String]
      else if (sketched.map(sketches(_).length.toLong).sum > SketchPlanBudgetBytes)
        sketched
      else {
        val key = col(delta.columns.head).cast("long")
        val aggs = sketched.zipWithIndex.map { case (r, i) =>
          max(when(BloomSketch.mightContain(key, sketches(r)), 1L)
            .otherwise(0L)).as(s"__h$i")
        }
        val row = delta.agg(aggs.head, aggs.tail: _*).collect()(0)
        // an empty delta aggregates to nulls: no rows, no possible hit
        sketched.zipWithIndex.collect {
          case (r, i) if !row.isNullAt(i) && row.getLong(i) == 1L => r
        }
      }
    (hits ++ unsketched).sorted
  }

  /** Ceiling on sketch bytes a single consult may embed as plan literals. */
  private val SketchPlanBudgetBytes = 64L << 20
}
