package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSpec}
import graft.sources.Tables

/** The takedown-vs-maintenance RACE contract: `StreamEntry.deleteIds`
  * documents tombstone deletes running concurrently with the batch-side
  * nightly purge/rebalance, so the store's tombstone list must be
  * (a) append-only on the delete side — a concurrent reader never sees a
  * partially-replaced directory — and (b) cleared by SNAPSHOT SUBTRACTION
  * on the maintenance side — an id tombstoned after the purge pinned its
  * snapshot must stay excluded (a directory wipe would silently un-block
  * it without ever physically removing it: a lost takedown). */
class TombstoneRaceSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def tombFiles(dir: String): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
  }

  private def ids(xs: Long*) = {
    import spark.implicits._
    xs.toDF("cand_id")
  }

  test("delete APPENDS an id file — earlier files are never rewritten") {
    val dir = LocalSession.tempDir("tomb_race1").toString + "/index"
    IndexStore.build(spark, dir, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8,
      iters = 3, release = "r1")
    assert(IndexStore.delete(spark, dir, ids(3L)) === 1L)
    val afterFirst = tombFiles(dir).toSet
    assert(afterFirst.nonEmpty)
    // second delete: the return is the BATCH's distinct ids (never a
    // rescan of the whole history), and the first file survives
    // untouched (append-only — a concurrent reader of the first file set
    // sees a complete committed list at every instant)
    assert(IndexStore.delete(spark, dir, ids(3L, 10L)) === 2L)
    val afterSecond = tombFiles(dir).toSet
    assert(afterFirst.subsetOf(afterSecond),
      "delete must append a new id file, not rewrite the list in place")
    assert(afterSecond.size > afterFirst.size)
    import spark.implicits._
    assert(IndexStore.readTombstones(spark, dir).get
      .as[Long].collect().toSet === Set(3L, 10L))
  }

  test("clearTombstones subtracts only the pinned snapshot — a raced-in delete survives") {
    val dir = LocalSession.tempDir("tomb_race2").toString + "/index"
    IndexStore.build(spark, dir, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8,
      iters = 3, release = "r1")
    // the purge pins {3} as its snapshot; {10} races in before the clear
    IndexStore.delete(spark, dir, ids(3L))
    val pinned = IndexStore.readTombstones(spark, dir).get.localCheckpoint()
    IndexStore.delete(spark, dir, ids(10L))
    IndexStore.clearTombstones(spark, dir, pinned)
    import spark.implicits._
    assert(IndexStore.readTombstones(spark, dir).get
      .as[Long].collect().toSet === Set(10L),
      "an id tombstoned after the snapshot must survive the clear")
    // subtracting the remainder empties the list entirely → reads as None
    IndexStore.clearTombstones(spark, dir,
      IndexStore.readTombstones(spark, dir).get.localCheckpoint())
    assert(IndexStore.readTombstones(spark, dir).isEmpty,
      "a fully-subtracted list must read as no list at all")
    // and clearing an already-empty list is a no-op
    IndexStore.clearTombstones(spark, dir, ids(99L))
    assert(IndexStore.readTombstones(spark, dir).isEmpty)
  }

  test("a corrupted tombstone list fails LOUDLY, never open") {
    val dir = LocalSession.tempDir("tomb_corrupt").toString + "/index"
    IndexStore.build(spark, dir, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8,
      iters = 3, release = "r1")
    // an EMPTY directory (underscore markers only) is the legitimate
    // post-clear state and reads as None...
    val tombDir = new java.io.File(s"$dir/tombstones")
    assert(tombDir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(tombDir, "_SUCCESS").toPath, Array.empty[Byte])
    assert(IndexStore.readTombstones(spark, dir).isEmpty,
      "marker-only directory must read as no list")
    // ...but a directory that HAS an id file which cannot be read must
    // throw: serving falls back to the FULL code table on None, so a
    // swallowed corruption would silently un-block every taken-down id —
    // the unsafe direction for the right-to-be-forgotten path.
    java.nio.file.Files.write(
      new java.io.File(tombDir, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    val thrown = intercept[Exception] {
      IndexStore.readTombstones(spark, dir).foreach(_.count())
    }
    assert(thrown != null)
  }

  test("a delete racing into purge stays excluded and the next purge reclaims it") {
    val dir = LocalSession.tempDir("tomb_race3").toString + "/index"
    IndexStore.build(spark, dir, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8,
      iters = 3, release = "r1")
    // emulate the race deterministically with the same pin-then-clear
    // sequence purge runs: pin {3}, physical purge of {3} via the real
    // purge (list holds only 3), then the raced delete of 10 lands, then
    // the snapshot clear — which purge already ran. Here the public-API
    // equivalent: delete 3, purge (clears 3), delete 10 — the list must
    // now hold exactly 10 and a second purge must physically remove it.
    IndexStore.delete(spark, dir, ids(3L))
    IndexStore.purge(spark, dir)
    IndexStore.delete(spark, dir, ids(10L))
    import spark.implicits._
    assert(IndexStore.readTombstones(spark, dir).get
      .as[Long].collect().toSet === Set(10L))
    val removed = IndexStore.purge(spark, dir)
    assert(removed("codes") === 1L,
      "the raced-in id must be physically removed by the next purge")
    assert(IndexStore.readTombstones(spark, dir).isEmpty)
    assert(IndexStore.readCodes(spark, dir)
      .where(col("cand_id").isin(3L, 10L)).isEmpty)
  }
}
