package graft

import org.apache.spark.sql.functions._

import graft.pipeline.GramStore
import graft.sources.Tables

/** The persisted half of release-novelty scoring: q132 verifies the
  * SEMANTICS against an inline old-slice gram set; this spec proves the
  * on-disk path carries them — novelty against the READ-BACK store equals
  * the batch operator, appends are idempotent, and accepting a release
  * grows the store by exactly its novel margin. */
class GramStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private val isNew = col("doc_id") % 10 >= 8

  test("novelty against the read-back store equals the inline q132 answer") {
    val dir = LocalSession.tempDir("gramstore").toString + "/store"
    GramStore.append(spark, dir, "r1", docs.where(!isNew), "text")
    val fromDisk = GramStore.noveltyAgainst(docs.where(isNew), "doc_id",
        "text", GramStore.read(spark, dir))
      .as[(Long, Long, Long, Long)].collect().toSet
    val inline = SparkEntry.queries("q132_novelty")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fromDisk.nonEmpty)
    assert(fromDisk === inline)
  }

  test("sketchHitReleases: a shared gram hits, a disjoint delta clears, a sketch-less release always lists, vacuum drops the sketch") {
    val dir = LocalSession.tempDir("gramstore_sketch").toString + "/store"
    GramStore.append(spark, dir, "r1", docs.where(!isNew), "text")
    GramStore.append(spark, dir, "r2", docs.where(isNew), "text")
    // a delta that re-presents r1's stored grams MUST hit r1 (this is the
    // corruption-detection direction the self-protecting append can never
    // produce end-to-end — the layout probe is defense-in-depth, so its
    // trigger is pinned at the mechanism level)
    val r1Grams = GramStore.read(spark, dir)
      .where(col("release") === "r1").select("gram_h").limit(50)
      .localCheckpoint()
    assert(GramStore.sketchHitReleases(spark, dir, r1Grams, "r3")
      .contains("r1"))
    // the exclude arm: the same grams probed AS r1 must not hit r1 itself
    assert(!GramStore.sketchHitReleases(spark, dir, r1Grams, "r1")
      .contains("r1"))
    // a disjoint delta (fresh synthetic hashes) clears the whole store —
    // the Bloom miss is definitive, so empty = proof, no scan needed
    val disjoint = (1L to 500L).map(i => -i).toDF("gram_h")
    assert(GramStore.sketchHitReleases(spark, dir, disjoint, "r3").isEmpty)
    // an empty delta clears trivially (the aggregate returns nulls)
    assert(GramStore.sketchHitReleases(spark, dir,
      disjoint.limit(0), "r3").isEmpty)
    // a release whose sketch is missing is conservatively always listed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/_sketch/release=r1"), true))
    spark.catalog.refreshByPath(s"$dir/_sketch")
    assert(GramStore.sketchHitReleases(spark, dir, disjoint, "r3")
      === Seq("r1"))
    // vacuum drops sketch and partition together
    GramStore.vacuum(spark, dir, name => name != "r2")
    assert(GramStore.readSketches(spark, dir).keySet.isEmpty
      || !GramStore.readSketches(spark, dir).contains("r2"))
    assert(GramStore.sketchHitReleases(spark, dir, r1Grams, "r3")
      === Seq("r1"))
  }

  test("a nonexistent store reads as an empty typed frame") {
    val dir = LocalSession.tempDir("gramstore_none").toString + "/store"
    // the fresh-store empty-novel branch of append leaves the path
    // unmaterialized — a caller appending an empty slice then reading
    // (rollForwardOnDisk on an empty retained release) must see empty,
    // not an AnalysisException
    GramStore.append(spark, dir, "r1", docs.limit(0), "text")
    val empty = GramStore.read(spark, dir)
    assert(empty.columns.toSeq === Seq("gram_h", "release"))
    assert(empty.isEmpty)
    assert(GramStore.noveltyAgainst(docs.where(isNew), "doc_id", "text",
      empty).where(col("novelty_permille") =!= 1000).isEmpty,
      "against an empty store every gram is novel")
  }

  test("append is idempotent; accepting a release adds only its novel margin") {
    val dir = LocalSession.tempDir("gramstore_idem").toString + "/store"
    val oldSlice = docs.where(!isNew)
    GramStore.append(spark, dir, "r1", oldSlice, "text")
    val once = GramStore.read(spark, dir).count()
    assert(once === GramStore.grams(oldSlice, "text").count())
    GramStore.append(spark, dir, "r1", oldSlice, "text")
    assert(GramStore.read(spark, dir).count() === once,
      "re-appending the same release must not grow the store")
    // r2 lands: the store gains exactly the grams r1 lacked, so the total
    // equals the corpus-wide distinct gram count
    GramStore.append(spark, dir, "r2", docs.where(isNew), "text")
    assert(GramStore.read(spark, dir).count() ===
      GramStore.grams(docs, "text").count())
    // and a doc made entirely of stored grams now scores zero novelty
    val again = GramStore.noveltyAgainst(docs.where(isNew), "doc_id", "text",
      GramStore.read(spark, dir))
    assert(again.where(col("novelty_permille") =!= 0).count() === 0)
  }
}
