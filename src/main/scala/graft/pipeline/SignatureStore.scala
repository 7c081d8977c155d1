package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted MinHash signature store for INCREMENTAL, cross-release
  * deduplication — the reference's release-versioned idempotent-upsert idea
  * (`db_etl_upload/uploader.py:320-325`) applied to the LLM-ops tier.
  *
  * The expensive pass of near-dup detection at corpus scale is shingling +
  * signing every document. A 100 TB corpus built release by release must not
  * re-run that pass over all prior releases each time a new slice lands, so
  * this store persists the per-document signatures once, partitioned by
  * release: release N+1 signs only its OWN documents and joins its band
  * buckets against the stored ones. Prior-release *text* is touched only to
  * exact-verify the (tiny) candidate set.
  *
  * Layout: parquet partitioned by `release`, one row per document —
  * `(doc_id, content_md5, sig array<bigint>)`. The signature row is ~200
  * bytes against multi-KB documents, so the store is orders of magnitude
  * smaller than the corpus and a full-store scan is cheap; band buckets are
  * DERIVED from `sig` at read time (a projection, 8 rows/doc transient) so
  * re-banding with different LSH parameters never requires re-signing.
  *
  * Writes are idempotent by construction: a release is a dynamic-overwrite
  * of exactly its own partition (re-running a failed release replaces it,
  * never duplicates it) — the same S9/S10 contract as [[EavStore.upsert]].
  */
object SignatureStore {

  /** LSH parameters — shared with the corpus-wide q45 path so the recall
    * guarantees RecallSpec establishes there carry over verbatim. */
  val ShingleSize = 3
  val NumHashes = 16
  val Bands = 8

  /** Per-document signature rows: the one map-side pass over a release's
    * text that incremental dedup never re-runs for prior releases. */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_md5"),
        Dedup.shingles(col(textCol), ShingleSize).as("__sh"))
      .select(col("doc_id"), col("content_md5"),
        Dedup.shingleHashes(col("__sh")).as("__bh"))
      .select(col("doc_id"), col("content_md5"),
        Dedup.minhashFromHashes(col("__bh"), NumHashes).as("sig"))

  /** Idempotent release append: sign `docs`, dynamic-overwrite this
    * release's partition only. Clustered to a bounded file count per
    * release (same small-files rationale as [[EavStore.FilesPerPartition]]).
    * An EMPTY release ([[GramStore.append]]'s contract): a dynamic
    * overwrite of zero rows replaces nothing, so an existing partition is
    * vacuumed explicitly (a rerun that now retains nothing must not leave
    * the partial append's ghost rows) and a fresh store is left
    * nonexistent rather than schema-less. */
  def append(spark: SparkSession, path: String, release: String,
             docs: DataFrame, idCol: String, textCol: String): Unit = {
    val sigs = signatures(docs, idCol, textCol)
    if (sigs.isEmpty) vacuum(spark, path, name => name != release)
    else
      sigs
        .withColumn("release", lit(release))
        .repartition(pmod(xxhash64(col("doc_id")), lit(EavStore.FilesPerPartition)))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("release")
        .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Retention vacuum — the license-retraction/GDPR contract every
    * partitioned store here carries through [[PartitionDirs.drop]]: delete
    * the partitions of every release `keep` rejects. Signature partitions
    * are independent (each release stores ALL its own documents' rows), so
    * the vacuum is EXACT — dedup simply stops seeing the retracted
    * releases. Returns the dropped names. */
  def vacuum(spark: SparkSession, path: String,
             keep: String => Boolean): Seq[String] =
    PartitionDirs.vacuumReleases(spark, path, keep)

  /** TAKEDOWN delete — the text tier's [[IndexStore.delete]]+purge in one
    * step (signature rows are strictly per-document, so removal is EXACT
    * and immediate: incremental dedup simply stops seeing the documents;
    * no serve-path exclusion list is needed). Only the release partitions
    * that actually hold the ids are rewritten — discovered with one
    * semi-join bounded by the id list (the scan reads the store's id and
    * partition columns only) — and partitions the delete empties are
    * removed directly, since a dynamic overwrite cannot express "now
    * empty". Idempotent: re-deleting already-absent ids rewrites nothing.
    * Returns rows removed. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Long = {
    val tomb = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    spark.catalog.refreshByPath(path)
    val t = read(spark, path)
    val affected = t.join(broadcast(tomb), Seq("doc_id"), "left_semi")
      .select(col("release").cast("string")).distinct()
      .collect().map(_.getString(0))
    if (affected.isEmpty) 0L
    else {
      val aff = t.where(col("release").isin(affected: _*))
      val nRemoved =
        aff.join(broadcast(tomb), Seq("doc_id"), "left_semi").count()
      val survivors = aff.join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val live = survivors.select(col("release").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val fs = PartitionDirs.fs(spark, path)
      affected.filterNot(live).foreach { r =>
        val p = PartitionDirs.locate(path, "release" -> r)
        if (fs.exists(p))
          require(fs.delete(p, true), s"delete failed to remove $p")
      }
      if (live.nonEmpty)
        survivors
          .repartition(pmod(xxhash64(col("doc_id")),
            lit(EavStore.FilesPerPartition)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("release")
          .parquet(path)
      spark.catalog.refreshByPath(path)
      nRemoved
    }
  }

  /** Band-bucket rows `(doc_id, band, bucket)` derived from signature rows.
    * MUST mirror [[Dedup.minhashCandidates]]'s bucket spelling exactly —
    * a store signed yesterday has to collide with a query banded today. */
  def banded(sigs: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64(lit("band"), col("band"),
          to_json(slice(col("sig"), col("band") * rows + 1, lit(rows)))).as("bucket"))
  }

  /** Near-duplicates of a NEW release against the persisted store and within
    * itself, without re-signing any prior release: candidates come from the
    * (band, bucket) equi-join of the new release's banded signatures against
    * the store's; each candidate is then verified to exact Jaccard ≥
    * `threshold` (LSH has q45's 100%-recall guarantee at these parameters,
    * so the output is exactly the true pair set — and SQL-oracle-checkable).
    *
    * `verifyDocs` supplies text for the exact check (the full corpus table);
    * only candidate ids reach its shingle projection's join, so prior
    * releases pay an id-keyed join probe, never a re-hash.
    *
    * Scale shape: signing is map-side over the NEW slice only; both
    * candidate joins are equi-joins on (band, bucket) — AQE-splittable, no
    * pair fan-out beyond true bucket collisions; verification joins are
    * id-keyed over the candidate set.
    *
    * @return (new_id, dup_id, jaccard) — dup_id from a prior release, or an
    *         earlier id within the new release. */
  def incrementalNearDups(newDocs: DataFrame, idCol: String, textCol: String,
                          storeSigs: DataFrame, verifyDocs: DataFrame,
                          threshold: Double): DataFrame = {
    val nb = banded(signatures(newDocs, idCol, textCol))
    val ob = banded(storeSigs)
    val vsStore = nb
      .join(ob.withColumnRenamed("doc_id", "dup_id"), Seq("band", "bucket"))
      .select(col("doc_id").as("new_id"), col("dup_id"))
    val vsNew = nb
      .join(nb.select(col("band"), col("bucket"), col("doc_id").as("dup_id")),
        Seq("band", "bucket"))
      .where(col("dup_id") < col("doc_id"))
      .select(col("doc_id").as("new_id"), col("dup_id"))
    val cands = vsStore.unionByName(vsNew).distinct()
    val sh = verifyDocs.select(col(idCol).as("__vid"),
      array_distinct(Dedup.shingles(col(textCol), ShingleSize)).as("__s"))
    cands
      .join(sh.select(col("__vid").as("new_id"), col("__s").as("sh_n")), Seq("new_id"))
      .join(sh.select(col("__vid").as("dup_id"), col("__s").as("sh_d")), Seq("dup_id"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_n"), col("sh_d"))).cast("double")
          / size(array_union(col("sh_n"), col("sh_d"))), 4))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("dup_id"), col("jaccard"))
  }

  /** EXACT incremental dedup: the new release's documents that survive
    * content-hash decontamination against every prior release (via the
    * store's `content_md5` column — no prior text touched at all) and
    * keep-first dedup within the new release. The batch twin of the
    * streaming `foreachBatch` ingest path.
    *
    * Scale shape: one anti-join keyed by content hash against the (small)
    * store projection + one hash-keyed keep-first aggregate over the new
    * slice. Nothing prior-release-sized shuffles. */
  def incrementalExactKeep(newDocs: DataFrame, idCol: String, textCol: String,
                           storeSigs: DataFrame): DataFrame = {
    val hashed = newDocs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("content_md5"))
    val fresh = hashed.join(storeSigs.select(col("content_md5")).distinct(),
      Seq("content_md5"), "left_anti")
    // keep-first within the new slice: min id per content hash — a partial-
    // aggregable min, not a window (same skew reasoning as span scrub)
    fresh.groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("content_md5"))
  }
}
