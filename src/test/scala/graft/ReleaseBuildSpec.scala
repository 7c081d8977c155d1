package graft

import org.apache.spark.sql.functions._

import graft.operators.Classifier
import graft.pipeline.{GramStore, ReleaseBuild, SignatureStore}
import graft.sources.Tables

/** The end-to-end nightly roll-forward: q140 verifies the SEMANTICS with
  * inline store frames; this spec proves the persisted-store path carries
  * them — seed release r0 on disk, roll r1 forward against the stores, and
  * re-run the roll-forward to prove the whole job idempotent (the crash-
  * rerun a real release pipeline must survive). */
class ReleaseBuildSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private val isNew = col("doc_id") % 10 >= 8

  private def trainedWeights: Array[Long] = {
    val w = Classifier.trainWeights(docs.where(!isNew), "doc_id", "text",
      col("lang") === "en", d = 256, iters = 2, lr = 0.5)
    Classifier.denseWeights(w, 256)
  }

  test("roll-forward from persisted stores equals the inline q140 answer") {
    val dir = LocalSession.tempDir("relbuild").toString
    SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs.where(!isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", docs.where(!isNew), "text")
    val fromDisk = ReleaseBuild.rollForwardOnDisk(spark, docs.where(isNew),
      "doc_id", "text", "source", docs, s"$dir/sigs", s"$dir/grams", "r1",
      trainedWeights)
    val inline = SparkEntry.queries("q140_release_build")(spark, sf)
    assert(fromDisk.count() > 0, "fixture must retain documents")
    assert(fromDisk.exceptAll(inline).isEmpty && inline.exceptAll(fromDisk).isEmpty)
  }

  test("a clean disk night's gram-layout audit clears the store from sketches alone; a sketch-less store falls back with the same answer") {
    val dir = LocalSession.tempDir("relbuild_sketch").toString
    SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs.where(!isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", docs.where(!isNew), "text")
    assert(GramStore.readSketches(spark, s"$dir/grams").keySet === Set("r0"))
    val out = ReleaseBuild.rollForwardOnDisk(spark, docs.where(isNew),
      "doc_id", "text", "source", docs, s"$dir/sigs", s"$dir/grams", "r1",
      trainedWeights).localCheckpoint()
    // the night's novel margin is disjoint from r0's by construction, and
    // r0's sketch PROVED it — no prior partition was scanned (O(delta))
    assert(ReleaseBuild.lastGramProbeScanned.isEmpty,
      s"clean night scanned ${ReleaseBuild.lastGramProbeScanned}")
    assert(GramStore.readSketches(spark, s"$dir/grams").keySet
      === Set("r0", "r1"))
    // pre-sketch store: same night, sketches deleted → conservative scan
    // of every prior release, identical retained rows
    val dir2 = LocalSession.tempDir("relbuild_nosketch").toString
    SignatureStore.append(spark, s"$dir2/sigs", "r0",
      docs.where(!isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir2/grams", "r0", docs.where(!isNew), "text")
    val fs = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir2/grams/_sketch"), true))
    val out2 = ReleaseBuild.rollForwardOnDisk(spark, docs.where(isNew),
      "doc_id", "text", "source", docs, s"$dir2/sigs", s"$dir2/grams", "r1",
      trainedWeights).localCheckpoint()
    assert(ReleaseBuild.lastGramProbeScanned === Seq("r0"))
    assert(out.exceptAll(out2).isEmpty && out2.exceptAll(out).isEmpty,
      "the sketch fast path must not change the night's answers")
  }

  test("text-tier deepAuditEvery: a torn untouched release survives k-1 nights, aborts the k-th, repairRelease re-arms the clock") {
    import graft.pipeline.StoreAudit
    val dir = LocalSession.tempDir("relbuild_deep").toString
    val s0 = col("doc_id") % 10 < 3
    val s0b = col("doc_id") % 10 >= 3 && col("doc_id") % 10 < 6
    val s1 = col("doc_id") % 10 >= 6 && col("doc_id") % 10 < 8
    val s2 = col("doc_id") % 10 >= 8
    SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs.where(s0), "doc_id", "text")
    SignatureStore.append(spark, s"$dir/sigs", "r0b",
      docs.where(s0b), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", docs.where(s0), "text")
    GramStore.append(spark, s"$dir/grams", "r0b", docs.where(s0b), "text")
    // corruption in a release no nightly will touch: r0's signature
    // partition is torn out (lost append / operator error)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/sigs/release=r0"), true))
    spark.catalog.refreshByPath(s"$dir/sigs")
    val w = trainedWeights
    // night 1 (k-1 survival): release-bounded gates trust untouched r0
    val n1 = ReleaseBuild.rollForwardOnDisk(spark, docs.where(s1),
      "doc_id", "text", "source", docs.where(s0 || s0b || s1), s"$dir/sigs",
      s"$dir/grams", "r1", w, deepAuditEvery = 2).localCheckpoint()
    assert(StoreAudit.readAuditClock(spark, s"$dir/grams") === (1L, 0L))
    // night 2 is the k-th: the full text card runs and catches the tear
    val retained1 = docs.join(n1.select("doc_id"), Seq("doc_id"), "left_semi")
    val verify2 = docs.where(s0 || s0b).unionByName(retained1)
      .unionByName(docs.where(s2))
    def night2() = ReleaseBuild.rollForwardOnDisk(spark, docs.where(s2),
      "doc_id", "text", "source", verify2, s"$dir/sigs", s"$dir/grams",
      "r2", w, deepAuditEvery = 2)
    val thrown = intercept[IllegalStateException] { night2().count() }
    assert(thrown.getMessage.contains("deep audit: signature store"),
      thrown.getMessage)
    // the aborted night leaves the clock unstamped: the audit re-arms
    assert(StoreAudit.readAuditClock(spark, s"$dir/grams") === (1L, 0L))
    // repair the torn release; the rerun passes and stamps the clock
    ReleaseBuild.repairRelease(spark, s"$dir/sigs", s"$dir/grams",
      docs.where(s0), "doc_id", "text", "r0")
    night2().count()
    assert(StoreAudit.readAuditClock(spark, s"$dir/grams") === (2L, 2L))
  }

  test("takedownDocs: exact signature removal, gram margin restored, equals stores built without the docs") {
    val isTomb = col("doc_id") % 9 === 2
    val dir = LocalSession.tempDir("relbuild_tkd").toString
    SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs.where(!isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", docs.where(!isNew), "text")
    val removed = ReleaseBuild.takedownDocs(spark, s"$dir/sigs",
      s"$dir/grams", docs.where(isTomb).select(col("doc_id")),
      docs.where(!isTomb), "doc_id", "text")
    assert(removed === docs.where(!isNew && isTomb).count(),
      "every resident taken-down doc's signature row must be removed")
    // idempotent: a second identical takedown removes nothing
    assert(ReleaseBuild.takedownDocs(spark, s"$dir/sigs", s"$dir/grams",
      docs.where(isTomb).select(col("doc_id")), docs.where(!isTomb),
      "doc_id", "text") === 0L)
    // scrubbed stores ≡ stores built from the live corpus from scratch
    // (single prior release → the gram restore is EXACT, not conservative)
    spark.catalog.refreshByPath(s"$dir/sigs")
    val scrubbed = SignatureStore.read(spark, s"$dir/sigs")
      .select("doc_id", "content_md5", "sig")
    val fresh = SignatureStore.signatures(docs.where(!isNew && !isTomb),
      "doc_id", "text")
    assert(scrubbed.exceptAll(fresh).isEmpty && fresh.exceptAll(scrubbed).isEmpty)
    val scrubbedG = GramStore.read(spark, s"$dir/grams").select("gram_h")
    val freshG = GramStore.grams(docs.where(!isNew && !isTomb), "text")
    assert(scrubbedG.exceptAll(freshG).isEmpty &&
      freshG.exceptAll(scrubbedG).isEmpty,
      "restored gram margin must equal a from-scratch live build")
  }

  test("takedownDocs re-admits a gram stored under one affected release but live only in another") {
    // the inter-affected-release straddle: gram G is STORED under release
    // "b" (first seen there) and suppressed from "a"'s margin; the takedown
    // removes b's holder and an unrelated a doc (both releases affected)
    // while G survives in a's live docs. A single sequential restore pass
    // would drop G from b (its docs no longer carry it) AFTER excluding it
    // from a (b still stalely held it) — lost entirely; the second pass
    // must re-admit it under a.
    val dir = LocalSession.tempDir("relbuild_tkd3").toString
    import spark.implicits._
    val bDocs = Seq((1L, "alpha beta gamma", "s"), (2L, "bravo keeps this", "s"))
      .toDF("doc_id", "text", "source")
    val aDocs = Seq((3L, "alpha beta gamma", "s"), (4L, "alpha only here", "s"))
      .toDF("doc_id", "text", "source")
    SignatureStore.append(spark, s"$dir/sigs", "b", bDocs, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "b", bDocs, "text")
    SignatureStore.append(spark, s"$dir/sigs", "a", aDocs, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "a", aDocs, "text")
    val sharedH = GramStore.grams(bDocs.where($"doc_id" === 1L), "text")
      .head().getLong(0)
    assert(GramStore.read(spark, s"$dir/grams").where($"gram_h" === sharedH)
      .select("release").head().getString(0) === "b",
      "fixture must store the shared gram under release b only")
    val live = bDocs.where($"doc_id" === 2L)
      .unionByName(aDocs.where($"doc_id" === 3L))
    ReleaseBuild.takedownDocs(spark, s"$dir/sigs", s"$dir/grams",
      Seq(1L, 4L).toDF("doc_id"), live, "doc_id", "text")
    assert(ReleaseBuild.lastRestorePasses === 2,
      "the straddle loss must be detected and repaired by a second pass")
    spark.catalog.refreshByPath(s"$dir/grams")
    val after = GramStore.read(spark, s"$dir/grams").select("gram_h")
    val fresh = GramStore.grams(live, "text")
    assert(after.exceptAll(fresh).isEmpty && fresh.exceptAll(after).isEmpty,
      "a gram straddling two affected releases must survive the takedown " +
        "exactly once (restored by the second pass)")
  }

  test("takedownDocs skips pass two when no gram straddles the affected releases") {
    // two affected releases with DISJOINT vocabularies: pass one's margins
    // are already exact, the orphan probe finds nothing, and the second
    // full margin rebuild must not run (the common multi-release takedown
    // pays detection cost only)
    val dir = LocalSession.tempDir("relbuild_tkd4").toString
    import spark.implicits._
    val aDocs = Seq((1L, "alpha beta gamma delta", "s"),
      (2L, "epsilon zeta eta theta", "s")).toDF("doc_id", "text", "source")
    val bDocs = Seq((3L, "iota kappa lambda mu", "s"),
      (4L, "nu xi omicron pi", "s")).toDF("doc_id", "text", "source")
    SignatureStore.append(spark, s"$dir/sigs", "a", aDocs, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "a", aDocs, "text")
    SignatureStore.append(spark, s"$dir/sigs", "b", bDocs, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "b", bDocs, "text")
    val live = aDocs.where($"doc_id" === 2L).unionByName(
      bDocs.where($"doc_id" === 4L))
    ReleaseBuild.takedownDocs(spark, s"$dir/sigs", s"$dir/grams",
      Seq(1L, 3L).toDF("doc_id"), live, "doc_id", "text")
    assert(ReleaseBuild.lastRestorePasses === 1,
      "no straddle → the orphan probe must skip the second rebuild")
    spark.catalog.refreshByPath(s"$dir/grams")
    val after = GramStore.read(spark, s"$dir/grams").select("gram_h")
    val fresh = GramStore.grams(live, "text")
    assert(after.exceptAll(fresh).isEmpty && fresh.exceptAll(after).isEmpty,
      "the single-pass restore must already equal the from-scratch build")
  }

  test("a takedown crashed between delete and restore converges on rerun (marker recovery)") {
    // the crash window the _TAKEDOWN_PENDING marker exists for: the
    // signature delete committed, the process died before any gram
    // restore ran. Without the marker a rerun cannot name the affected
    // releases (membership is gone) and the dropped docs' grams silently
    // outlive the takedown — the unsafe direction.
    val isTomb = col("doc_id") % 9 === 2
    val dir = LocalSession.tempDir("relbuild_tkd5").toString
    SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs.where(!isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", docs.where(!isNew), "text")
    // plant the crashed predecessor: marker pinned, delete committed,
    // no restore
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/grams", ReleaseBuild.TakedownMarker),
      "r0".getBytes("UTF-8"))
    SignatureStore.delete(spark, s"$dir/sigs",
      docs.where(isTomb).select(col("doc_id").cast("long").as("doc_id")))
    val freshG = GramStore.grams(docs.where(!isNew && !isTomb), "text")
    spark.catalog.refreshByPath(s"$dir/grams")
    assert(!GramStore.read(spark, s"$dir/grams").select("gram_h")
      .exceptAll(freshG).isEmpty,
      "fixture must start torn: dropped docs' grams still stored")
    // the replay — at-least-once re-delivery of the same request set —
    // recovers the pinned restore on entry, then no-ops (0 rows left)
    assert(ReleaseBuild.takedownDocs(spark, s"$dir/sigs", s"$dir/grams",
      docs.where(isTomb).select(col("doc_id")), docs.where(!isTomb),
      "doc_id", "text") === 0L)
    spark.catalog.refreshByPath(s"$dir/grams")
    val after = GramStore.read(spark, s"$dir/grams").select("gram_h")
    assert(after.exceptAll(freshG).isEmpty && freshG.exceptAll(after).isEmpty,
      "recovery must restore exactly the gram margin the crashed takedown owed")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/grams", ReleaseBuild.TakedownMarker)),
      "a completed recovery must drop the marker")
  }

  test("the nightly roll-forward converges a crashed takedown before building (step-0 symmetry)") {
    // same torn state as the marker-recovery case, but the next actor is
    // the NIGHTLY, not a takedown replay: rollForwardOnDisk must converge
    // the pinned restore before building on the stores, or the night's
    // novelty margins read grams of documents the corpus no longer holds
    val dir = LocalSession.tempDir("relbuild_tkd6").toString
    import spark.implicits._
    val r0Docs = Seq((1L, "alpha beta gamma delta", "s"),
      (2L, "epsilon zeta eta theta", "s")).toDF("doc_id", "text", "source")
    SignatureStore.append(spark, s"$dir/sigs", "r0", r0Docs, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", r0Docs, "text")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/grams", ReleaseBuild.TakedownMarker),
      "r0".getBytes("UTF-8"))
    SignatureStore.delete(spark, s"$dir/sigs", Seq(1L).toDF("doc_id"))
    val retained = r0Docs.where($"doc_id" =!= 1L)
    val newDocs = Seq((10L, "iota kappa lambda mu and plenty more text here", "s"))
      .toDF("doc_id", "text", "source")
    ReleaseBuild.rollForwardOnDisk(spark, newDocs, "doc_id", "text",
      "source", retained.unionByName(newDocs), s"$dir/sigs", s"$dir/grams",
      "r1", trainedWeights)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/grams", ReleaseBuild.TakedownMarker)),
      "the nightly must converge and drop the pinned takedown marker")
    spark.catalog.refreshByPath(s"$dir/grams")
    val after = GramStore.read(spark, s"$dir/grams")
      .where(col("release") === "r0").select("gram_h")
    val fresh = GramStore.grams(retained, "text")
    assert(after.exceptAll(fresh).isEmpty && fresh.exceptAll(after).isEmpty,
      "r0's gram partition must reflect the takedown before the night builds")
  }

  test("takedownDocs vacuums a release the takedown empties") {
    val dir = LocalSession.tempDir("relbuild_tkd2").toString
    // two releases; every r1 member is taken down
    val r0 = docs.where(!isNew && col("doc_id") % 2 === 0)
    val r1 = docs.where(!isNew && col("doc_id") % 2 =!= 0)
    SignatureStore.append(spark, s"$dir/sigs", "r0", r0, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", r0, "text")
    SignatureStore.append(spark, s"$dir/sigs", "r1", r1, "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r1", r1, "text")
    ReleaseBuild.takedownDocs(spark, s"$dir/sigs", s"$dir/grams",
      r1.select(col("doc_id")), docs.where(!isNew).exceptAll(r1),
      "doc_id", "text")
    spark.catalog.refreshByPath(s"$dir/sigs")
    spark.catalog.refreshByPath(s"$dir/grams")
    assert(SignatureStore.read(spark, s"$dir/sigs")
      .where(col("release") === "r1").isEmpty)
    assert(GramStore.read(spark, s"$dir/grams")
      .where(col("release") === "r1").isEmpty,
      "an emptied release's gram partition must be vacuumed, not left stale")
  }

  test("re-running the roll-forward is idempotent in output and state") {
    val dir = LocalSession.tempDir("relbuild_idem").toString
    SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs.where(!isNew), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r0", docs.where(!isNew), "text")
    val w = trainedWeights
    def roll() = ReleaseBuild.rollForwardOnDisk(spark, docs.where(isNew),
      "doc_id", "text", "source", docs, s"$dir/sigs", s"$dir/grams", "r1", w)
    val first = roll().collect().toSet
    // state after run 1: r1 partitions hold the retained docs' signatures
    // and their novel grams
    spark.catalog.refreshByPath(s"$dir/sigs")
    val sigCount = SignatureStore.read(spark, s"$dir/sigs").count()
    val gramCount = GramStore.read(spark, s"$dir/grams").count()
    // the rerun sees its own r1 partitions in both stores (the crash-
    // between-append-and-publish case) and must converge, not self-suppress
    val second = roll().collect().toSet
    assert(second === first, "rerun must re-deliver the same release")
    spark.catalog.refreshByPath(s"$dir/sigs")
    assert(SignatureStore.read(spark, s"$dir/sigs").count() === sigCount)
    assert(GramStore.read(spark, s"$dir/grams").count() === gramCount)
    assert(SignatureStore.read(spark, s"$dir/sigs")
      .select("release").distinct().count() === 2)
  }
}
