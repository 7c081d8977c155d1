package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, generatePartitionPath, unescapePathName}
import org.apache.spark.sql.functions.{col, max, when}

import graft.functions.BloomSketch

/** The stores' Hive-style partition-directory layout, in one place: a store
  * root holds one `col=value` directory level per partition column, in the
  * order the writer's `partitionBy` names them — `partition_id`
  * ([[EavStore]]), `release` ([[SignatureStore]], [[GramStore]], the
  * per-release sketch sidecars below) or `cell, release` (both tiers of
  * [[IndexStore]]). Names and values are written with Spark's path
  * escaping (`:` becomes `%3A`, `/` becomes `%2F`, `+` stays as it is), so
  * every listing decodes with Spark's own unescaping and every path to one
  * partition is built with Spark's own escaping. All three operations are
  * metadata only: they list, test and delete directories and run no Spark
  * job. */
private[graft] object PartitionDirs {

  /** The filesystem holding `path`. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One leaf partition directory and its decoded values, in column order. */
  final case class Leaf(path: Path, values: Seq[String])

  /** Every leaf partition directory under `root` for the partition columns
    * `cols`, outermost first. A missing root lists nothing; entries that are
    * not `col=value` directories (files, `_`-prefixed sidecars) are skipped.
    * One `listStatus` per directory walked. */
  def list(spark: SparkSession, root: String, cols: Seq[String]): Seq[Leaf] = {
    val fs = this.fs(spark, root)
    def walk(dir: Path, rest: Seq[String], values: Vector[String]): Seq[Leaf] =
      rest match {
        case Seq() => Seq(Leaf(dir, values))
        case c +: tail =>
          val prefix = escapePathName(c) + "="
          fs.listStatus(dir).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
            .flatMap { s =>
              walk(s.getPath, tail,
                values :+ unescapePathName(s.getPath.getName.stripPrefix(prefix)))
            }
      }
    val r = new Path(root)
    if (!fs.exists(r)) Seq.empty else walk(r, cols, Vector.empty)
  }

  /** The directory of the partition `spec` (column -> value, outermost
    * first) under `root`, escaped as Spark's writer escapes it. */
  def locate(root: String, spec: (String, String)*): Path =
    generatePartitionPath(spec.toMap, spec.map(_._1), new Path(root))

  /** Delete every leaf partition whose decoded values `keep` rejects and
    * return those values. A delete that fails fails loudly (Hadoop
    * `fs.delete` reports failure by RETURNING false, not throwing), so a
    * partition is never reported dropped while its rows stay on disk. The
    * session's listing cache is refreshed, so a plan built afterwards cannot
    * read the dropped files' stale listing. */
  def drop(spark: SparkSession, root: String, cols: Seq[String],
           keep: Seq[String] => Boolean): Seq[Seq[String]] = {
    val fs = this.fs(spark, root)
    val dropped = list(spark, root, cols).filterNot(l => keep(l.values)).map { l =>
      require(fs.delete(l.path, true), s"failed to delete partition ${l.path}")
      l.values
    }
    spark.catalog.refreshByPath(root)
    dropped
  }

  /** The release names of a store partitioned by `release` alone. */
  def releases(spark: SparkSession, path: String): Seq[String] =
    list(spark, path, Seq("release")).map(_.values.head)

  /** Drop every release of a `release`-partitioned store that `keep`
    * rejects ([[drop]]); returns the dropped names. */
  def vacuumReleases(spark: SparkSession, path: String,
                     keep: String => Boolean): Seq[String] =
    drop(spark, path, Seq("release"), v => keep(v.head)).map(_.head)

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
