package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{EavStore, MainPipeline}

/** Scale soak: run the full pipeline at the given SF, upsert the ~15M-row EAV
  * output into the partitioned store, re-upsert a second release on top, and
  * prove partition pruning on the read path
  * (`runMain graft.Soak [sfDir] [storeDir]`). */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val store = args.lift(1).getOrElse(LocalSession.tempDir("eav_soak").toString + "/store")
    val spark = LocalSession.create()

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[soak] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
    }

    val r1 = MainPipeline.run(spark, sfDir, releaseId = 1)
    timed("upsert release 1")(EavStore.upsert(spark, r1, store))
    val n1 = timed("full store count")(EavStore.read(spark, store).count())
    println(s"[soak] store rows after r1: $n1")

    // Second release: same keys, new release id → all-new hashes, upsert
    // must replace nothing and double the store.
    val r2 = MainPipeline.run(spark, sfDir, releaseId = 2)
    timed("upsert release 2")(EavStore.upsert(spark, r2, store))
    val n2 = EavStore.read(spark, store).count()
    println(s"[soak] store rows after r2: $n2 (expected ${2 * n1})")

    // Partition-pruned read, asserted on the scan's OWN driver metrics after
    // execution (numPartitions/numFiles reflect the pruned selection —
    // `inputFiles` and the plan string both describe the unpruned relation).
    val target = spark.read.parquet(store).select("partition_id").distinct().limit(1)
      .collect()(0).getString(0)
    val pruned = EavStore.read(spark, store).where(col("partition_id") === target)
    val qe = pruned.queryExecution
    val prunedCount = timed("pruned single-partition read")(qe.toRdd.count())
    val scan = qe.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val filesRead = scan.metrics("numFiles").value
    val partsRead = scan.metrics.get("numPartitions").map(_.value)
    val storeFiles = EavStore.read(spark, store).inputFiles
    val totalFiles = storeFiles.length
    partsRead.foreach(p => require(p == 1L,
      s"partition pruning failed: scan for '$target' read $p partitions"))
    // With a single-partition store a pruned scan legitimately reads every
    // file, so the strict inequality only applies when there is >1 partition.
    // Partition count comes free from the already-listed file paths — no
    // extra store scan.
    val nParts = storeFiles
      .flatMap(_.split("/").find(_.startsWith("partition_id="))).distinct.length
    require(filesRead > 0 && (nParts <= 1 || filesRead < totalFiles),
      s"partition pruning failed: read $filesRead of $totalFiles files ($nParts partitions)")
    println(s"[soak] partition '$target' rows=$prunedCount; scan read " +
      s"$filesRead of $totalFiles files (${partsRead.getOrElse(-1L)} partition)")

    // Maintenance passes over the live store: compaction must preserve the
    // row count while bounding files per partition; vacuuming release 1's
    // partitions must leave exactly release 2's rows.
    val rewritten = timed("compact store")(
      EavStore.compact(spark, store, maxFiles = 4))
    val afterCompact = EavStore.read(spark, store).count()
    require(afterCompact == n2,
      s"compaction changed the row count: $n2 -> $afterCompact")
    println(s"[soak] compacted ${rewritten.length} fragmented partitions")

    val dropped = timed("vacuum release 1")(
      EavStore.vacuum(spark, store, keep = !_.startsWith(MainPipeline.releaseDate(1))))
    val afterVacuum = EavStore.read(spark, store).count()
    require(afterVacuum == n2 - n1,
      s"vacuum kept the wrong rows: expected ${n2 - n1}, got $afterVacuum")
    println(s"[soak] vacuumed ${dropped.length} partitions; " +
      s"store rows now $afterVacuum")
    spark.stop()
  }
}
