package graft

import org.apache.spark.sql.functions._

import graft.pipeline.SignatureStore
import graft.sources.Tables

/** The persisted half of incremental dedup: q120 verifies the SEMANTICS with
  * an inline store; this spec proves the ON-DISK path carries them — append
  * partitioned by release, read back, dedup against the stored (not
  * recomputed) signatures, and re-append idempotence. */
class SignatureStoreSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private val isNew = col("doc_id") % 10 >= 8

  test("dedup against the READ-BACK store equals the inline q120 answer") {
    val dir = LocalSession.tempDir("sigstore").toString + "/store"
    SignatureStore.append(spark, dir, "r1", docs.where(!isNew), "doc_id", "text")
    val fromDisk = SignatureStore.incrementalNearDups(
      docs.where(isNew), "doc_id", "text",
      SignatureStore.read(spark, dir), docs, threshold = 0.5)
    val inline = SparkEntry.queries("q120_incremental_dedup")(spark, sf)
    assert(fromDisk.count() > 0, "fixture should contain cross-release near-dups")
    assert(fromDisk.exceptAll(inline).isEmpty && inline.exceptAll(fromDisk).isEmpty)
  }

  test("append is idempotent and re-running a release replaces its partition") {
    val dir = LocalSession.tempDir("sigstore_idem").toString + "/store"
    val r1 = docs.where(!isNew)
    SignatureStore.append(spark, dir, "r1", r1, "doc_id", "text")
    val once = SignatureStore.read(spark, dir).count()
    SignatureStore.append(spark, dir, "r1", r1, "doc_id", "text")
    assert(SignatureStore.read(spark, dir).count() === once,
      "re-appending the same release must not grow the store")
    // a corrected re-release REPLACES the partition, never unions with it
    SignatureStore.append(spark, dir, "r1", r1.limit(10), "doc_id", "text")
    assert(SignatureStore.read(spark, dir).count() === 10)
  }

  test("releases accumulate as partitions; new release signs only itself") {
    val dir = LocalSession.tempDir("sigstore_rel").toString + "/store"
    SignatureStore.append(spark, dir, "r1", docs.where(!isNew), "doc_id", "text")
    SignatureStore.append(spark, dir, "r2", docs.where(isNew), "doc_id", "text")
    val store = SignatureStore.read(spark, dir)
    assert(store.select("release").distinct().count() === 2)
    assert(store.count() === docs.count())
    // store rows carry exactly the signature schema (id, content hash, sig)
    assert(store.columns.sorted === Array("content_md5", "doc_id", "release", "sig"))
  }

  test("cluster map rolls forward from persisted state to the q123 answer") {
    // the full resumable loop on disk: release-1 signatures AND clusters
    // persisted, release 2 arrives, pairs come from the stored signatures
    // and clusters from star-contracting the stored map — must equal the
    // inline q123 (whose oracle is the from-scratch batch clustering)
    val dir = LocalSession.tempDir("sigstore_cc").toString
    val store = s"$dir/sigs"
    val r1 = docs.where(!isNew)
    SignatureStore.append(spark, store, "r1", r1, "doc_id", "text")
    val oldClusters = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.minhashNearDups(r1, "doc_id", "text", threshold = 0.5),
      "a_id", "b_id")
    oldClusters.write.parquet(s"$dir/clusters_r1")
    val newPairs = SignatureStore.incrementalNearDups(
      docs.where(isNew), "doc_id", "text",
      SignatureStore.read(spark, store), docs, threshold = 0.5)
    val comp = graft.operators.Dedup.incrementalComponents(
      spark.read.parquet(s"$dir/clusters_r1"),
      newPairs.select(col("new_id"), col("dup_id")), "new_id", "dup_id")
    val rolled = docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cluster"), col("doc_id")) === col("doc_id")).as("keeper"))
    val inline = SparkEntry.queries("q123_incremental_clusters")(spark, sf)
    assert(rolled.exceptAll(inline).isEmpty && inline.exceptAll(rolled).isEmpty)
  }

  test("vacuum retracts exactly the rejected releases; dedup stops seeing them") {
    val dir = LocalSession.tempDir("sigstore_vac").toString + "/store"
    SignatureStore.append(spark, dir, "r1", docs.where(!isNew), "doc_id", "text")
    SignatureStore.append(spark, dir, "r2", docs.where(isNew), "doc_id", "text")
    assert(SignatureStore.vacuum(spark, dir, keep = _ == "r2") === Seq("r1"))
    val left = SignatureStore.read(spark, dir)
    assert(left.select("release").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("r2"))
    assert(left.count() === docs.where(isNew).count())
    // retention semantics: near-dups against the post-vacuum store can no
    // longer surface r1 partners — only intra-r2 pairs survive
    val pairs = SignatureStore.incrementalNearDups(
      docs.where(isNew), "doc_id", "text", left, docs, threshold = 0.5)
    val dupIds = pairs.select("dup_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(dupIds.forall(_ % 10 >= 8), "a retracted release's doc resurfaced")
    // vacuuming everything currently kept is a no-op
    assert(SignatureStore.vacuum(spark, dir, keep = _ == "r2") === Seq.empty)
    // GramStore shares the contract (novel-margin caveat documented there)
    val gdir = LocalSession.tempDir("gramstore_vac").toString + "/store"
    graft.pipeline.GramStore.append(spark, gdir, "r1", docs.where(!isNew), "text")
    graft.pipeline.GramStore.append(spark, gdir, "r2", docs.where(isNew), "text")
    assert(graft.pipeline.GramStore.vacuum(spark, gdir, keep = _ == "r2")
      === Seq("r1"))
    assert(graft.pipeline.GramStore.read(spark, gdir)
      .select("release").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("r2"))
  }

  test("an EMPTY release append vacuums its stale partition; a fresh store stays nonexistent") {
    val dir = LocalSession.tempDir("sigstore_empty").toString + "/store"
    val none = docs.where(lit(false))
    // fresh store + empty release: nothing written — no schema-less dir
    SignatureStore.append(spark, dir, "r1", none, "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)),
      "an empty append to a fresh store must not create a schema-less dir")
    // a rerun of a release that NOW retains nothing must drop the partial
    // append's ghost rows (the rerun-converges contract's empty corner)
    SignatureStore.append(spark, dir, "r1", docs.where(!isNew), "doc_id", "text")
    SignatureStore.append(spark, dir, "r2", docs.where(isNew), "doc_id", "text")
    SignatureStore.append(spark, dir, "r2", none, "doc_id", "text")
    spark.catalog.refreshByPath(dir)
    assert(SignatureStore.read(spark, dir)
      .where(col("release") === "r2").isEmpty,
      "re-appending an emptied release must vacuum its stale partition")
    assert(SignatureStore.read(spark, dir).count()
      === docs.where(!isNew).count())
  }

  test("exact incremental keep: store hashes decontaminate without text") {
    val dir = LocalSession.tempDir("sigstore_exact").toString + "/store"
    SignatureStore.append(spark, dir, "r1", docs.where(!isNew), "doc_id", "text")
    val kept = SignatureStore.incrementalExactKeep(
      docs.where(isNew), "doc_id", "text", SignatureStore.read(spark, dir))
    val inline = SparkEntry.queries("q121_incremental_exact")(spark, sf)
    assert(kept.exceptAll(inline).isEmpty && inline.exceptAll(kept).isEmpty)
  }
}
