package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted distinct-gram store for INCREMENTAL release-novelty scoring —
  * the companion of [[SignatureStore]] for the q132 metric.
  *
  * Novelty asks "which of this release's n-grams has the corpus never
  * seen?". Rebuilding the corpus-wide gram set per crawl snapshot is a full
  * corpus text pass; this store persists each release's NEW distinct grams
  * once, hashed to 8-byte keys (the same 64-bit trade documented at
  * `Dedup.containmentPairs`), parquet-partitioned by release. Scoring a
  * candidate snapshot then costs one pass over the SNAPSHOT plus a
  * gram-keyed join against the store — O(new slice), never O(corpus) — and
  * accepting the snapshot appends only the grams the store lacked, so the
  * store grows by the novel margin alone.
  *
  * Writes carry the [[SignatureStore]] idempotence contract: a release
  * dynamically overwrites exactly its own partition; re-running a failed
  * ingest converges to the single-run store.
  */
object GramStore {

  val GramSize = 8

  /** Distinct hashed grams of a document set (one map-side pass + one
    * distinct). */
  def grams(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(array_distinct(
        Dedup.shingles(col(textCol), GramSize))).as("__g"))
      .select(xxhash64(col("__g")).as("gram_h")).distinct()

  /** Append a release's NOVEL grams (those absent from OTHER releases'
    * partitions) as the release's own partition. The anti-join excludes the
    * release's own prior rows, so re-running a release — including one that
    * previously failed partway — fully rebuilds and replaces its partition
    * instead of being suppressed by its own partial leftovers. */
  /** @param docGrams MUST equal `grams(docs, textCol)` when supplied —
    *   it exists solely so a caller that already computed that frame
    *   (ReleaseBuild.rollForwardOnDisk shares it with its audit card)
    *   can hand it in instead of re-running the shingle pass; a
    *   mismatched frame would silently write a wrong novel margin. */
  def append(spark: SparkSession, path: String, release: String,
             docs: DataFrame, textCol: String,
             docGrams: Option[DataFrame] = None): Unit = {
    val existing =
      if (exists(spark, path)) {
        // the session FileStatusCache may hold a pre-overwrite listing from
        // an earlier append to this same path; list as committed
        spark.catalog.refreshByPath(path)
        read(spark, path).where(col("release") =!= release).select("gram_h")
      } else grams(docs.limit(0), textCol)
    // materialize the novel-gram set BEFORE the write: the write's commit
    // dynamically replaces files under the same path this plan reads, so
    // the anti-join must not still be scanning the store while (or after)
    // its listing is being replaced — localCheckpoint pins the result.
    // `docGrams` lets a caller that already computed [[grams]] of `docs`
    // (ReleaseBuild.rollForwardOnDisk shares it with its audit card) hand
    // the frame in instead of this append re-running the shingle pass.
    val novel = docGrams.getOrElse(grams(docs, textCol))
      .join(existing, Seq("gram_h"), "left_anti")
      .localCheckpoint()
    if (novel.isEmpty && exists(spark, path))
      // a dynamic overwrite of ZERO rows replaces nothing, so a release
      // whose novel margin emptied (every gram now held elsewhere — e.g. a
      // takedown restore) must drop its stale partition explicitly, or its
      // grams would outlive the documents that carried them
      vacuum(spark, path, name => name != release)
    else if (novel.isEmpty)
      // fresh store, nothing novel: writing an empty frame would create a
      // schema-less directory — leave the store nonexistent ([[read]]
      // returns an empty typed frame for a missing path)
      ()
    else {
      novel
        .withColumn("release", lit(release))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("release")
        .parquet(path)
      PartitionDirs.writeSketch(spark, s"$path/$SketchDir", release, novel)
    }
  }

  /** Per-release kilobyte GRAM SKETCHES — the
    * [[PartitionDirs.writeSketch]] sidecar of each partition's stored
    * `gram_h`s, under `_sketch/` (underscore-prefixed, so [[read]]'s
    * partition discovery never sees it). They serve one caller —
    * [[ReleaseBuild.rollForwardOnDisk]]'s gram-layout audit, which must
    * prove the night's freshly written margin is new to the store.
    *
    * [[append]] REBUILDS a partition wholesale and rebuilds its sketch with
    * it (the only path that adds grams), [[vacuum]] drops sketch and
    * partition together, so a sketch is always exactly its partition's
    * gram set — a sketch-less release (pre-sketch store) is conservatively
    * a hit. */
  private val SketchDir = "_sketch"

  def readSketches(spark: SparkSession, path: String): Map[String, Array[Byte]] =
    PartitionDirs.readSketches(spark, s"$path/$SketchDir")

  /** The releases (excluding `exclude`) that MIGHT hold any of
    * `deltaGrams`' hashes ([[PartitionDirs.sketchHitReleases]]). */
  def sketchHitReleases(spark: SparkSession, path: String,
                        deltaGrams: DataFrame, exclude: String): Seq[String] =
    PartitionDirs.sketchHitReleases(spark, s"$path/$SketchDir",
      PartitionDirs.releases(spark, path).filterNot(_ == exclude), deltaGrams)

  /** The persisted store — (gram_h long, release string). A NONEXISTENT
    * path reads as an EMPTY frame of that schema, because [[append]]
    * legitimately leaves a fresh store unmaterialized when the first
    * release's novel margin is empty (writing a zero-row frame would
    * create a schema-less directory); callers like
    * [[ReleaseBuild.rollForwardOnDisk]] must be able to read straight
    * after such an append (GramStoreSpec pins it). */
  def read(spark: SparkSession, path: String): DataFrame =
    if (!exists(spark, path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("gram_h",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("release",
            org.apache.spark.sql.types.StringType))))
    else spark.read.parquet(path)

  /** Retention vacuum ([[SignatureStore.vacuum]]'s contract) with one
    * caveat this store's NOVEL-MARGIN layout creates: a gram shared by a
    * retracted release and a LIVE one was stored under whichever release
    * introduced it, so retracting that release also forgets grams the
    * corpus still contains. The failure mode is conservative for the
    * novelty gate — scores can only read HIGHER (over-admitting novel
    * content), never wrongly suppress — and exactness is restored by
    * re-appending the remaining releases in order (append rebuilds each
    * release's novel margin against the post-vacuum store; idempotent). */
  def vacuum(spark: SparkSession, path: String,
             keep: String => Boolean): Seq[String] = {
    // a dropped release's gram sketch goes with its partition
    // ([[readSketches]]' invariant)
    PartitionDirs.vacuumReleases(spark, s"$path/$SketchDir", keep)
    PartitionDirs.vacuumReleases(spark, path, keep)
  }

  /** A store "exists" only once it holds a `release=` partition: the
    * directory may predate any data — [[ReleaseBuild.takedownDocs]] pins
    * its `_TAKEDOWN_PENDING` marker here before the restore that writes
    * the first partition — and such a marker-only directory must still
    * read as the empty store, not fail parquet schema inference. */
  private def exists(spark: SparkSession, path: String): Boolean =
    PartitionDirs.releases(spark, path).nonEmpty

  /** Per-document novelty of a candidate slice against the store — the
    * incremental form of `TextAnalysis.gramNovelty` (same integer-permille
    * output columns), reading NO prior-release text. */
  def noveltyAgainst(docs: DataFrame, idCol: String, textCol: String,
                     store: DataFrame): DataFrame = {
    val g = docs.select(col(idCol), explode(array_distinct(
        Dedup.shingles(col(textCol), GramSize))).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("gram_h"))
    g.join(store.select(col("gram_h")).distinct()
        .withColumn("__seen", lit(1)), Seq("gram_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("novelty_permille",
        expr("(n_unseen * 1000) div n_grams"))
  }
}
