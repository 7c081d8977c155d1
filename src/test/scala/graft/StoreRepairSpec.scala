package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.pipeline.{IndexStore, StoreAudit, VectorRelease}
import graft.sources.Tables

/** The detect → abort → repair loop closed (q208): a torn store — one
  * tier's release partition rewritten or lost while the other survived,
  * the exact corruption a crashed purge leaves — must (a) abort the
  * nightly maintain with the integrity card in the error instead of
  * reporting success, (b) leave the store recoverable, and (c) be
  * repaired by [[IndexStore.repairRelease]] to a state identical to a
  * never-corrupted build. */
class StoreRepairSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private val isEval = col("vec_id") % 50 === 0
  private val isNew = col("vec_id") % 10 >= 8

  private def nodes(d: DataFrame): DataFrame =
    d.select(col("vec_id").cast("long").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))
  private def cands(d: DataFrame): DataFrame =
    d.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))

  private def buildWithTier(idx: String, slice: DataFrame): Unit = {
    IndexStore.build(spark, idx, slice, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    IndexStore.buildRerank(spark, idx, cands(slice))
  }

  /** Tear one (cell, release) partition out of a tier — the torn-purge /
    * bit-rot / operator-error corruption class. Deterministic choice: the
    * `skip`-th (by name) cell dir holding the release. */
  private def tearOnePartition(idx: String, sub: String, release: String,
                               skip: Int = 0): String = {
    val root = new org.apache.hadoop.fs.Path(s"$idx/$sub")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map(_.getPath).sortBy(_.getName)
      .map(c => new org.apache.hadoop.fs.Path(c, s"release=$release"))
      .filter(fs.exists)
      .drop(skip).headOption
      .getOrElse(fail(s"no $sub partition to tear (skip=$skip)"))
    assert(fs.delete(victim, true))
    spark.catalog.refreshByPath(s"$idx/$sub")
    victim.toString
  }

  test("the gate audits what the night touched: a takedown night aborts on a torn purged release; repair + rerun converge to the clean twin") {
    val root = LocalSession.tempDir("repair_gate").toString
    val idx = s"$root/index"
    val isTomb = col("vec_id") % 5 === 0
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    buildWithTier(idx, old)
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    // the corruption: r1 loses one rerank partition while its code twin
    // survives (codes stay healthy, so the health verdict does NOT trip a
    // rebalance). A pending takedown makes the night's purge TOUCH r1, so
    // the release-bounded gate's parity card covers the torn partition.
    tearOnePartition(idx, "rerank/codes", "r1")
    val tomb = old.where(isTomb).select(col("vec_id").as("cand_id"))
    IndexStore.delete(spark, idx, tomb)
    def night(store: String, oldSlice: org.apache.spark.sql.DataFrame) =
      VectorRelease.maintain(spark, store, fresh, oldSlice,
        nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
        kCoarse = 8, maxShareMilli = 300,
        priorGeneration = IndexStore.generation(spark, store))
    val thrown = intercept[IllegalStateException] { night(idx, old).count() }
    assert(thrown.getMessage.contains("rerank_int8") ||
      thrown.getMessage.contains("parity"),
      s"the abort must carry the card: ${thrown.getMessage}")
    // the card names (rerank_int8, r1); the aborted night had already
    // realized the purge, so r1's source slice is now the RETAINED old
    // corpus — the repair re-appends exactly that (the night's r2 append
    // also landed before the gate fired; partition-idempotent, fine)
    IndexStore.repairRelease(spark, idx, old.where(!isTomb),
      "vec_id", "embedding", "r1")
    assert(night(idx, old.where(!isTomb)).count() > 0)
    // converged: the repaired store equals a never-torn store that ran
    // the same takedown night, tier for tier
    val cleanIdx = s"$root/clean"
    buildWithTier(cleanIdx, old)
    IndexStore.delete(spark, cleanIdx, tomb)
    night(cleanIdx, old).count()
    assert(IndexStore.readCodes(spark, idx).collect().toSet ===
      IndexStore.readCodes(spark, cleanIdx).collect().toSet)
    assert(IndexStore.readRerankCodes(spark, idx).collect().toSet ===
      IndexStore.readRerankCodes(spark, cleanIdx).collect().toSet,
      "the repaired int8 tier must equal the never-corrupted one")
  }

  test("corruption in an UNTOUCHED release passes the release-bounded gate; the scheduled full card (q207) catches it; repairRelease heals") {
    val root = LocalSession.tempDir("repair_unt").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    buildWithTier(idx, old)
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    tearOnePartition(idx, "rerank/codes", "r1")
    // a quiet night (no takedown, no rebalance) touches only r2 — the
    // delta-bounded gate must NOT pay a store-sized audit for it, so the
    // r1 tear sails through the night...
    val out = VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300,
      priorGeneration = IndexStore.generation(spark, idx))
    assert(out.count() > 0,
      "an untouched release's corruption must not abort a quiet night")
    // ...and is caught by the SCHEDULED full five-surface card instead
    def parity = StoreAudit.card("rerank_int8",
      IndexStore.readRerankCodes(spark, idx), "cand_id",
      IndexStore.readCodes(spark, idx).select("cand_id", "release"))
    assert(parity.agg(sum("missing")).head().getLong(0) > 0,
      "q207's full parity card must flag the torn untouched release")
    IndexStore.repairRelease(spark, idx, old, "vec_id", "embedding", "r1")
    StoreAudit.assertZero(parity,
      Seq("cross_release_dup", "orphan", "missing"), "post-repair card")
  }

  test("the release-bounded gate's scans partition-prune to the touched release and broadcast the delta") {
    val root = LocalSession.tempDir("gate_plan").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    IndexStore.append(spark, idx, fresh, "vec_id", "embedding", "r2")
    val codes = IndexStore.readCodes(spark, idx)
    // (a) the delta-coverage card reads ONLY the new release's partitions
    val p1 = codes.where(col("release") === "r2")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findAllIn(p1).nonEmpty,
      s"the new-release scan must partition-prune: ${p1.take(1500)}")
    // (b) the delta-newness dup probe is a broadcast semi join over a scan
    // pruned to the id column — no shuffle, no PQ-codes bytes read
    val delta = fresh.select(col("vec_id").cast("long").as("cand_id"))
      .distinct()
    // the gate ends in count(), whose aggregate is what lets Catalyst
    // prune the PQ-codes column out of the scan — plan the same shape
    val p2 = codes.where(col("release") =!= "r2")
      .join(org.apache.spark.sql.functions.broadcast(delta),
        Seq("cand_id"), "left_semi")
      .groupBy().count()
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin") && p2.contains("LeftSemi"),
      s"the dup probe must broadcast the delta: ${p2.take(1500)}")
    assert(!p2.contains("SortMergeJoin"))
    assert("ReadSchema: struct<cand_id:bigint>".r.findAllIn(p2).nonEmpty,
      s"the dup probe must read only the id column: ${p2.take(1500)}")
    // (c) the round-14 sketch-hit FALLBACK scans `release IN (<hits>)` —
    // partition-pruned to exactly the sketch-flagged releases, same
    // broadcast + id-only-column shape
    val p3 = codes.where(col("release").cast("string").isin("r1"))
      .join(org.apache.spark.sql.functions.broadcast(delta),
        Seq("cand_id"), "left_semi")
      .groupBy().count()
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findAllIn(p3).nonEmpty,
      s"the on-hit fallback must partition-prune to the hit releases: " +
        p3.take(1500))
    assert(p3.contains("BroadcastHashJoin") && !p3.contains("SortMergeJoin"))
  }

  test("text repairRelease: torn signature and gram partitions repair to the never-corrupted stores; rerun idempotent") {
    import graft.pipeline.{GramStore, ReleaseBuild, SignatureStore}
    val docs = Tables.load(spark, sf, "documents")
    val isNewDoc = col("doc_id") % 10 >= 8
    val dir = LocalSession.tempDir("repair_text").toString
    SignatureStore.append(spark, s"$dir/sigs", "r1",
      docs.where(!isNewDoc), "doc_id", "text")
    SignatureStore.append(spark, s"$dir/sigs", "r2",
      docs.where(isNewDoc), "doc_id", "text")
    GramStore.append(spark, s"$dir/grams", "r1", docs.where(!isNewDoc), "text")
    GramStore.append(spark, s"$dir/grams", "r2", docs.where(isNewDoc), "text")
    val sigBefore = SignatureStore.read(spark, s"$dir/sigs").collect().toSet
    val gramBefore = GramStore.read(spark, s"$dir/grams").collect().toSet
    // the q209 fault injection: two tiers, two releases
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/sigs/release=r1"), true))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/grams/release=r2"), true))
    spark.catalog.refreshByPath(s"$dir/sigs")
    spark.catalog.refreshByPath(s"$dir/grams")
    assert(SignatureStore.read(spark, s"$dir/sigs").collect().toSet
      !== sigBefore)
    def repairAll(): Unit = {
      ReleaseBuild.repairRelease(spark, s"$dir/sigs", s"$dir/grams",
        docs.where(!isNewDoc), "doc_id", "text", "r1")
      ReleaseBuild.repairRelease(spark, s"$dir/sigs", s"$dir/grams",
        docs.where(isNewDoc), "doc_id", "text", "r2")
      spark.catalog.refreshByPath(s"$dir/sigs")
      spark.catalog.refreshByPath(s"$dir/grams")
    }
    repairAll()
    assert(SignatureStore.read(spark, s"$dir/sigs").collect().toSet ===
      sigBefore, "repaired signature store must equal the never-torn one")
    assert(GramStore.read(spark, s"$dir/grams").collect().toSet ===
      gramBefore, "the repaired gram margins must reproduce bit-for-bit")
    // idempotent: repairing healthy releases rewrites them to themselves
    repairAll()
    assert(SignatureStore.read(spark, s"$dir/sigs").collect().toSet ===
      sigBefore)
    assert(GramStore.read(spark, s"$dir/grams").collect().toSet ===
      gramBefore)
  }

  test("gram repair after an interleaved append: layout zero, novelty set exact, provenance diverges by EXACTLY the adopted straddle") {
    // the documented caveat (ReleaseBuild.repairRelease): release A tears,
    // release B appends BEFORE the repair — A's orphaned grams that B's
    // docs also carry are admitted into B's margin, so the repaired store
    // differs from the never-torn history in PROVENANCE ONLY. This pins
    // the caveat to its exact extent: the divergence is precisely the
    // A∩B straddle set re-homed rA -> rB, with the one-release-per-gram
    // layout and the whole-store gram set (what novelty serves from)
    // bit-identical.
    import graft.pipeline.{GramStore, ReleaseBuild, SignatureStore}
    val docs = Tables.load(spark, sf, "documents")
    val isNewDoc = col("doc_id") % 10 >= 8
    val docsA = docs.where(!isNewDoc)
    // plant a guaranteed straddle: one A doc re-keyed into the B slice
    val docsB = docs.where(isNewDoc).unionByName(
      docsA.limit(1).withColumn("doc_id", col("doc_id") + 1000000L))
    import spark.implicits._
    val gramsA = GramStore.grams(docsA, "text").as[Long].collect().toSet
    val gramsB = GramStore.grams(docsB, "text").as[Long].collect().toSet
    val straddle = gramsA.intersect(gramsB)
    assert(straddle.nonEmpty, "fixture must plant a gram straddle")

    def seed(dir: String): Unit = {
      SignatureStore.append(spark, s"$dir/sigs", "rA", docsA, "doc_id", "text")
      SignatureStore.append(spark, s"$dir/sigs", "rB", docsB, "doc_id", "text")
      GramStore.append(spark, s"$dir/grams", "rA", docsA, "text")
    }
    // never-torn history: A then B
    val clean = LocalSession.tempDir("interleave_clean").toString
    seed(clean)
    GramStore.append(spark, s"$clean/grams", "rB", docsB, "text")
    // torn history: A, tear A, B appends over the torn store, repair A
    val torn = LocalSession.tempDir("interleave_torn").toString
    seed(torn)
    val fs = new org.apache.hadoop.fs.Path(torn)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$torn/grams/release=rA"), true))
    spark.catalog.refreshByPath(s"$torn/grams")
    GramStore.append(spark, s"$torn/grams", "rB", docsB, "text")
    ReleaseBuild.repairRelease(spark, s"$torn/sigs", s"$torn/grams",
      docsA, "doc_id", "text", "rA")
    spark.catalog.refreshByPath(s"$torn/grams")

    def rows(dir: String): Set[(Long, String)] =
      GramStore.read(spark, s"$dir/grams")
        .select(col("gram_h"), col("release").cast("string"))
        .as[(Long, String)].collect().toSet
    val cleanRows = rows(clean)
    val tornRows = rows(torn)
    // layout card: one release per gram, both invariant directions zero
    graft.pipeline.StoreAudit.assertZero(
      graft.pipeline.StoreAudit.card("grams",
        GramStore.read(spark, s"$torn/grams"), "gram_h",
        GramStore.grams(docsA.unionByName(docsB), "text")),
      Seq("cross_release_dup", "orphan", "missing"), "interleaved repair")
    // novelty serves from the gram SET, which is exact
    assert(tornRows.map(_._1) === cleanRows.map(_._1),
      "the whole-store gram set must equal the never-torn history's")
    // the provenance divergence is EXACTLY the straddle, re-homed rA -> rB
    val moved = cleanRows.diff(tornRows).map(_._1)
    assert(moved === straddle,
      s"divergence must be exactly the straddle: ${moved.size} moved vs " +
        s"${straddle.size} straddling")
    assert(tornRows.diff(cleanRows) === straddle.map(g => (g, "rB")),
      "every moved gram must have been adopted by the interleaved release")
  }

  test("repairRelease restores a torn CODE partition to the from-scratch store; other releases untouched") {
    val root = LocalSession.tempDir("repair_codes").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    buildWithTier(idx, old)
    IndexStore.append(spark, idx, fresh, "vec_id", "embedding", "r2")
    IndexStore.appendRerank(spark, idx, cands(fresh), "r2")
    val r2Codes = IndexStore.readCodes(spark, idx)
      .where(col("release") === "r2").collect().toSet
    val before = IndexStore.readCodes(spark, idx).collect().toSet
    val beforeTier = IndexStore.readRerankCodes(spark, idx).collect().toSet
    // tear a code partition AND a DIFFERENT cell's rerank partition of r1
    // (a crash window that rewrote neither tier completely; different
    // cells so the divergence shows in both parity directions)
    tearOnePartition(idx, "codes", "r1", skip = 0)
    tearOnePartition(idx, "rerank/codes", "r1", skip = 1)
    // the card detects BOTH directions before repair
    val codesNow = IndexStore.readCodes(spark, idx)
    val parity = StoreAudit.card("rerank_int8",
      IndexStore.readRerankCodes(spark, idx), "cand_id",
      codesNow.select("cand_id", "release"))
    assert(parity.agg(sum(col("orphan") + col("missing"))).head().getLong(0)
      > 0, "the torn tiers must show non-zero parity invariants")
    IndexStore.repairRelease(spark, idx, old, "vec_id", "embedding", "r1")
    assert(IndexStore.readCodes(spark, idx).collect().toSet === before,
      "repair must restore the code table bit-for-bit")
    assert(IndexStore.readRerankCodes(spark, idx).collect().toSet ===
      beforeTier, "repair must restore the int8 tier bit-for-bit")
    assert(IndexStore.readCodes(spark, idx)
      .where(col("release") === "r2").collect().toSet === r2Codes,
      "repair of r1 must not touch r2's partitions")
    // idempotent: repairing a healthy release changes nothing
    IndexStore.repairRelease(spark, idx, old, "vec_id", "embedding", "r1")
    assert(IndexStore.readCodes(spark, idx).collect().toSet === before)
  }
}
