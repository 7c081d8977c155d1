package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** The EAV long store (reference `covid19.time_series`,
  * `db_tables/covid19.py:192-216`): rows
  * `(hash, release_id, area/metric keys, partition_id, date, payload)` at rest
  * as parquet partitioned by `partition_id` — the exact analogue of the
  * reference's `PARTITION OF time_series FOR VALUES IN ('{date}|{group}')`
  * DDL (S10), with Catalyst partition pruning replacing the hand-templated
  * table names.
  *
  * The reference's `INSERT ... ON CONFLICT (hash, partition_id) DO UPDATE`
  * (S9) becomes a dynamic overwrite of only the touched partitions, with
  * each release evaluated once and shuffled once: (1) list the stored
  * partitions, metadata only; (2) pin the release once and merge in stored
  * rows only for partitions it overlaps; (3) one (partition_id, hash bucket)
  * exchange serves both the dedup window and the write's file clustering.
  *
  * The store records its own shape, as the reference declares its table's
  * columns once in DDL: the caller picks the columns (MainPipeline writes
  * 8, with a `date` date; a streaming sink may write 4, with a string
  * `date`), and [[read]] scans with that record instead of inferring a
  * schema from a file footer, which costs a Spark job per read.
  *   - Format: `<path>/_schema.json` ([[SchemaFile]]) holds the upserted
  *     frame's schema as Spark's JSON schema (`StructType.json`), with
  *     every field, array element and map value nullable and no field
  *     metadata: the shape Spark writes its parquet files in. The leading
  *     underscore hides it from Spark's file listing; the `.json` ending
  *     keeps it out of any glob over the `.parquet` data files.
  *   - Write order: the first [[upsert]] into a store writes the record
  *     (to a temporary name, then renamed) before any data file.
  *   - Mismatch rule: an upsert whose schema, nullability aside, differs
  *     from the record fails before it writes anything; so does an upsert
  *     into a store that holds data but no record. There is no inference
  *     fallback: [[read]] of a store without its record fails.
  */
object EavStore {

  /** S9/S10: idempotent upsert. Duplicate (hash, partition_id) rows in `df`
    * keep the earliest `date` (reference `uploader.py:308-312`), incoming rows
    * replace stored ones on the same key, and only `df`'s partitions are
    * rewritten. The first upsert records the store's schema; a later one
    * must match it (see above). On executor loss:
    *   - `df` is persisted MEMORY_AND_DISK once, unless the caller cached it
    *     (only upsert's own pin is unpersisted). A lost block is recomputed
    *     from `df`'s lineage, so `df` must not read the partitions it replaces.
    *   - Stored rows kept in a re-published partition are localCheckpointed
    *     eagerly, as the overwrite deletes their files. A lost block has no
    *     lineage and fails the write before its commit, leaving the store as
    *     it was (dynamic overwrite swaps partitions at commit); re-run it. */
  def upsert(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val stored = partitionDirs(spark, path).map(d => partitionValue(d.getName)).toSet
    val shape = nullable(df.schema).asInstanceOf[StructType]
    recordedSchema(spark, path) match {
      case Some(rec) => require(rec == shape,
        s"upsert into $path: input schema (${shape.toDDL}) differs from " +
          s"the store's recorded schema (${rec.toDDL})")
      case None =>
        require(stored.isEmpty, s"$path holds data but no $SchemaFile record")
        writeSchema(spark, path, shape)
    }
    val pin = stored.nonEmpty && df.storageLevel == StorageLevel.NONE
    if (pin) df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Partition ids are metadata-scale: isin keeps the store read
      // partition-PRUNED (a semi join would shuffle the whole store).
      val overlap = if (stored.isEmpty) Seq.empty
        else df.select("partition_id").distinct().collect()
          .map(_.getString(0)).filter(stored).toSeq
      val merged = if (overlap.isEmpty) df else {
        // Old rows no incoming row claims: disjoint from df by key.
        val keepOld = read(spark, path)
          .where(col("partition_id").isin(overlap.map(_.asInstanceOf[Any]): _*))
          .join(df.select("hash", "partition_id"), Seq("hash", "partition_id"), "left_anti")
        df.unionByName(keepOld.localCheckpoint())
      }
      // One exchange on (partition_id, bounded hash bucket): at most
      // FilesPerPartition files per store partition, spread across the pool.
      // The dedup window reuses it; hash second sorts each file by hash.
      val clustered = merged
        .withColumn("__bucket", pmod(xxhash64(col("hash")), lit(FilesPerPartition)))
        .repartition(col("partition_id"), col("__bucket"))
      overwrite(Dedup.exactFirst(clustered, Seq("partition_id", "hash", "__bucket"), "date")
        .drop("__bucket"), path)
    } finally if (pin) df.unpersist()
  }

  /** Upper bound on parquet files per partition value per write — also the
    * write parallelism per partition value, so it trades file count against
    * concurrent writers. A release writing P partitions uses up to
    * P × FilesPerPartition writer tasks. */
  val FilesPerPartition = 16

  /** The store's rows, scanned with its recorded schema: one small file
    * read on the driver, no Spark job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(recordedSchema(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path has no $SchemaFile record: not a store written by upsert")))
      .parquet(path)

  /** The schema record's file name under the store root. */
  val SchemaFile = "_schema.json"

  private def recordedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val in = try Some(hadoopFs(spark, path).open(new Path(path, SchemaFile)))
      catch { case _: java.io.FileNotFoundException => None }
    in.map { s =>
      try DataType.fromJson(new String(s.readAllBytes(), UTF_8)).asInstanceOf[StructType]
      finally s.close()
    }
  }

  /** Written under a temporary name and renamed, so a crash mid-write
    * leaves no partial record. */
  private def writeSchema(spark: SparkSession, path: String, schema: StructType): Unit = {
    val fs = hadoopFs(spark, path)
    val tmp = new Path(path, s"$SchemaFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.prettyJson.getBytes(UTF_8)) finally out.close()
    require(fs.rename(tmp, new Path(path, SchemaFile)), s"failed to record $path/$SchemaFile")
  }

  /** `t` with every field, array element and map value nullable and no
    * field metadata. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType))
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
    case other => other
  }

  /** Small-file compaction — the maintenance pass a long-lived partitioned
    * store needs: repeated upserts each add up to [[FilesPerPartition]]
    * files per touched partition, and at 100 TB a scan's task count (and
    * the namenode/listing load) degrades with file count, not byte count.
    * Rewrites ONLY partitions holding more than `maxFiles` parquet files,
    * re-clustered to ≤ [[FilesPerPartition]] sized files, leaving healthy
    * partitions untouched (their files are never read or rewritten).
    * Content-preserving by construction: one pruned read + one dynamic
    * partition overwrite of the same rows.
    *
    * The rewritten slice is localCheckpointed because it is read from the
    * very path being overwritten. Compaction holds that slice in
    * executor storage, so at scale callers compact a bounded batch of
    * partitions at a time (the fragmented list is returned for that).
    * Returns the partition values rewritten. */
  def compact(spark: SparkSession, path: String,
              maxFiles: Int = FilesPerPartition): Seq[String] = {
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    val fs = hadoopFs(spark, path)
    val fragmented = partitionDirs(spark, path).collect {
      case d if fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")) > maxFiles =>
        partitionValue(d.getName)
    }
    if (fragmented.nonEmpty) {
      val slice = read(spark, path)
        .where(col("partition_id").isin(fragmented.map(_.asInstanceOf[Any]): _*))
        .localCheckpoint()
      // bucket count honors the caller's bound: rewriting into
      // FilesPerPartition buckets when maxFiles < FilesPerPartition would
      // leave the partition still "fragmented" and re-rewrite it forever
      val buckets = math.min(maxFiles, FilesPerPartition)
      overwrite(slice.repartition(col("partition_id"),
        pmod(xxhash64(col("hash")), lit(buckets))), path)
    }
    fragmented
  }

  /** Retention vacuum: physically drops every store partition whose value
    * fails `keep` — how a release-versioned store stays bounded (the
    * reference deletes old release partitions the same way, via dropped
    * partition tables). A pure metadata/filesystem operation: no data is
    * read or shuffled. Returns the partition values dropped. */
  def vacuum(spark: SparkSession, path: String,
             keep: String => Boolean): Seq[String] = {
    val fs = hadoopFs(spark, path)
    partitionDirs(spark, path)
      .filterNot(d => keep(partitionValue(d.getName)))
      .map { d =>
        // fs.delete reports failure by RETURNING false, not throwing — a
        // silently-failed delete must not be recorded as dropped
        require(fs.delete(d, true), s"vacuum failed to delete $d")
        partitionValue(d.getName)
      }
  }

  /** Dynamic partition overwrite: replaces only the partitions `df` holds. */
  private def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("partition_id").parquet(path)

  private def hadoopFs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partitionDirs(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = hadoopFs(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("partition_id="))
      .map(_.getPath)
  }

  /** Decode a `partition_id=<escaped>` directory name back to its value.
    * Spark/Hive path escaping is %xx percent-encoding ONLY — unlike
    * URLDecoder it never turns `+` into a space (a literal `+` in a
    * partition value is written unescaped, and URLDecoder would corrupt it,
    * making vacuum delete or keep the wrong partitions). */
  private def partitionValue(dirName: String): String = {
    val s = dirName.stripPrefix("partition_id=")
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
