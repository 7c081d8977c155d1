package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.pipeline.{IndexStore, VectorRelease}
import graft.sources.Tables

/** The vector-tier nightly roll-forward (q180): one incremental job must
  * (a) produce artifacts provably identical to a from-scratch union build
  * under the frozen prior-release model, and (b) be disk-idempotent —
  * re-running the same night leaves bit-identical index codes, graph rows
  * and drop flags (the failed-nightly-rerun contract every persisted store
  * in this repo carries). */
class VectorReleaseSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private val isEval = col("vec_id") % 50 === 0
  private val isNew = col("vec_id") % 10 >= 8

  private def nodes(d: DataFrame): DataFrame =
    d.select(col("vec_id").cast("long").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))
  private def cands(d: DataFrame): DataFrame =
    d.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))

  test("roll-forward equals the from-scratch union build; rerun is disk-idempotent") {
    val root = LocalSession.tempDir("vrel").toString
    val idx = s"$root/index"
    val graphPath = s"$root/graph"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3)

    val out = VectorRelease.rollForward(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2")
      // the rerun below dynamically replaces this run's code files, which
      // would invalidate this plan's listing — pin the rows now
      .localCheckpoint()
    VectorRelease.writeGraph(out, graphPath)

    // (a) graph rows ≡ from-scratch union graph under the same frozen model
    val union = old.unionByName(fresh)
    val scratch = Similarity.withMutualFlag(Similarity.ivfExactGraphEdges(
      nodes(union), cands(union), model.centroids, nProbe = 2, k = 3))
    val gotEdges = out.select("src_id", "dst_id", "score", "rank", "mutual")
    assert(gotEdges.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(gotEdges).isEmpty)

    // (a) drop flags ≡ the frozen-store decontaminate on the union codes
    val drops = IndexStore.decontaminate(spark, idx, nodes(emb.where(isEval)),
        cands(union), nProbe = 2, shortlist = 100, threshold = 0.3)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val flagged = out.where(col("dropped"))
      .select("src_id").distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // every flagged source is on the drop list; a dropped vector missing
    // from the graph output would mean it lost its edges, which the
    // roll-forward must not do
    assert(flagged === drops.intersect(
      out.select("src_id").distinct()
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet))
    assert(drops.nonEmpty, "fixture must plant at least one drop")

    // (a) release provenance comes from the store's own code partitions
    val byRelease = out.select("src_id", "release").distinct()
    val wrong = byRelease.where(
      (col("release") === "r2") =!= (col("src_id") % 10 >= 8))
    assert(wrong.isEmpty, s"release provenance mismatch")

    // (b) run-twice disk idempotence: codes, graph and output all identical
    val codes1 = IndexStore.readCodes(spark, idx).collect().toSet
    val out2 = VectorRelease.rollForward(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2")
      .localCheckpoint()
    VectorRelease.writeGraph(out2, graphPath)
    val codes2 = IndexStore.readCodes(spark, idx).collect().toSet
    assert(codes1 === codes2)
    assert(out2.exceptAll(out).isEmpty && out.exceptAll(out2).isEmpty)
    val g = VectorRelease.readGraph(spark, graphPath)
    val gotPersisted = out.select("src_id", "dst_id", "score", "rank")
    assert(g.exceptAll(gotPersisted).isEmpty &&
      gotPersisted.exceptAll(g).isEmpty)
  }

  test("maintain realizes takedowns: scrub+repair equals the from-scratch servable graph; store purged") {
    val root = LocalSession.tempDir("vrel_tkd").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val model = IndexStore.readModel(spark, idx)
    // prior graph over the FULL old corpus (built before the takedown)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    // takedown between nights: metadata-only delete of vec_id % 7 == 3
    val isTomb = col("vec_id") % 7 === 3
    IndexStore.delete(spark, idx,
      emb.where(isTomb).select(col("vec_id").as("cand_id")))
    val out = VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300).localCheckpoint()
    // no tombstoned endpoint anywhere in the night's graph
    assert(out.where(col("src_id") % 7 === 3 || col("dst_id") % 7 === 3)
      .isEmpty, "a taken-down id survived in the maintained graph")
    // the merged graph ≡ a from-scratch build on the SERVABLE union under
    // the same frozen model — the repairGraph identity (nodes that lost a
    // neighbor were re-scored, all others provably unchanged)
    val union = old.where(!isTomb).unionByName(fresh.where(!isTomb))
    val scratch = Similarity.withMutualFlag(Similarity.ivfExactGraphEdges(
      nodes(union), cands(union), model.centroids, nProbe = 2, k = 3))
    val gotEdges = out.select("src_id", "dst_id", "score", "rank", "mutual")
    assert(gotEdges.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(gotEdges).isEmpty,
      "maintained graph diverged from the from-scratch servable union")
    // the store is physically purged and the list cleared
    assert(IndexStore.readTombstones(spark, idx).isEmpty)
    assert(IndexStore.readCodes(spark, idx)
      .where(col("cand_id") % 7 === 3).isEmpty,
      "purged ids still resident after the maintain night")
    // healthy fixture: the takedown must not have tripped the verdict
    assert(out.select("rebalanced").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(false))
  }

  test("purgeBacklog defers physical reclamation: a below-threshold night keeps the list (serving stays scrubbed); crossing the dial purges and resets") {
    val root = LocalSession.tempDir("vrel_dial").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    val isTomb = col("vec_id") % 7 === 3
    val nTomb = IndexStore.delete(spark, idx,
      emb.where(isTomb).select(col("vec_id").as("cand_id")))
    // below the dial: the night defers the purge — the list survives, the
    // dead bytes stay resident, but every DERIVED artifact is already
    // scrubbed (inputs, graph, drop list): correctness never waits on
    // reclamation
    val deferred = VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300,
      purgeBacklog = nTomb + 1).localCheckpoint()
    assert(deferred.where(col("src_id") % 7 === 3 ||
      col("dst_id") % 7 === 3).isEmpty,
      "a deferred-purge night must still scrub its artifacts")
    assert(IndexStore.readTombstones(spark, idx)
      .map(_.count()).contains(nTomb),
      "below the dial the tombstone list must survive the night")
    assert(!IndexStore.readCodes(spark, idx)
      .where(col("cand_id") % 7 === 3).isEmpty,
      "below the dial the dead bytes stay resident (that is the deferral)")
    // the deferred night's graph equals the realize-now night's — the
    // threshold moves WHEN bytes are reclaimed, never what is served
    val eager = s"$root/eager"
    IndexStore.build(spark, eager, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    IndexStore.delete(spark, eager,
      emb.where(isTomb).select(col("vec_id").as("cand_id")))
    val now = VectorRelease.maintain(spark, eager, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300).localCheckpoint()
    val cols = Seq("src_id", "dst_id", "score", "rank", "mutual", "release",
      "dropped").map(col)
    assert(deferred.select(cols: _*).exceptAll(now.select(cols: _*)).isEmpty
      && now.select(cols: _*).exceptAll(deferred.select(cols: _*)).isEmpty,
      "deferral must not change the night's artifacts")
    // the default dial (0) purges on any backlog: rerunning the same night
    // realizes the deferred takedown and resets the list
    VectorRelease.maintain(spark, idx, fresh, old.where(!isTomb),
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300).count()
    assert(IndexStore.readTombstones(spark, idx).isEmpty,
      "crossing the dial must purge and reset the list")
    assert(IndexStore.readCodes(spark, idx)
      .where(col("cand_id") % 7 === 3).isEmpty,
      "crossing the dial must reclaim the dead bytes")
  }

  test("the nightly gate aborts a delta that re-appends ids a prior release already stores") {
    val root = LocalSession.tempDir("vrel_dup").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    // a misdrawn delta: half the "new" slice is ids r1 already stores —
    // the one cross-release dup an append can introduce, and exactly what
    // the release-bounded gate's delta-newness probe exists to catch
    // (the full card caught it store-wide before round 13)
    val badDelta = emb.where(!isEval && isNew)
      .unionByName(old.where(col("vec_id") % 11 === 0))
    val thrown = intercept[IllegalStateException] {
      VectorRelease.maintain(spark, idx, badDelta, old,
        nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
        kCoarse = 8, maxShareMilli = 300).count()
    }
    assert(thrown.getMessage.contains("already stored under a prior release"),
      s"the abort must name the dup probe: ${thrown.getMessage}")
    // the catch went through the SKETCH-HIT path: r1's id sketch flagged
    // the dup and the fallback scan (pruned to r1) confirmed it
    assert(VectorRelease.lastDupProbeScanned === Seq("r1"),
      s"planted dup must reach the scan via a sketch hit: " +
        s"${VectorRelease.lastDupProbeScanned}")
  }

  test("a clean night's dup audit clears every prior release from sketches alone — no prior release's files are read") {
    val root = LocalSession.tempDir("vrel_sketch").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    // the build persisted r1's id sketch beside the quantizer metadata
    assert(IndexStore.readIdSketches(spark, idx).keySet === Set("r1"))
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300).count()
    // the whole prior store was cleared by its sketches: the O(store)
    // fallback scan never ran (the round-14 headline — the healthy night
    // is O(delta))
    assert(VectorRelease.lastDupProbeScanned.isEmpty,
      s"clean night scanned ${VectorRelease.lastDupProbeScanned}")
    // and the night's own append wrote r2's sketch for tomorrow's audit
    assert(IndexStore.readIdSketches(spark, idx).keySet === Set("r1", "r2"))
  }

  test("a release without a sketch (pre-sketch store) falls back to the scan — conservatively, and with the same answers") {
    val root = LocalSession.tempDir("vrel_nosketch").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    // simulate a store that predates sketches
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(
      new org.apache.hadoop.fs.Path(s"$idx/meta/idsketch"), true))
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    val out = VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300).localCheckpoint()
    // unsketched r1 was scanned (the conservative fallback), and the
    // clean night still passes
    assert(VectorRelease.lastDupProbeScanned === Seq("r1"))
    assert(out.count() > 0)
  }

  test("a deferred purge does not spuriously abort a stale full-card night (deferral-aware cards)") {
    // the round-13 ADVICE case: purge deferred below the dial + a stale
    // generation (crashed predecessor) -> the full-card branch, where the
    // codes still hold the un-purged tombstoned rows while the corpus and
    // the rebuilt int8 tier are scrubbed. The cards must anti-join the
    // pinned list out of both sides instead of aborting a healthy night.
    val root = LocalSession.tempDir("vrel_defer_stale").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    // the int8 tier makes the parity card part of the trap
    IndexStore.buildRerank(spark, idx, cands(old))
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    val isTomb = col("vec_id") % 7 === 3
    val nTomb = IndexStore.delete(spark, idx,
      emb.where(isTomb).select(col("vec_id").as("cand_id")))
    // priorGeneration mismatch forces the stale full-card branch without a
    // rebalance; the dial defers the purge
    val out = VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300, priorGeneration = 999L,
      purgeBacklog = nTomb + 1).localCheckpoint()
    // the deferral held (list + dead bytes survive) and the night served
    // scrubbed artifacts — no spurious abort
    assert(IndexStore.readTombstones(spark, idx)
      .map(_.count()).contains(nTomb))
    assert(!IndexStore.readCodes(spark, idx)
      .where(col("cand_id") % 7 === 3).isEmpty)
    assert(out.where(col("src_id") % 7 === 3 || col("dst_id") % 7 === 3)
      .isEmpty, "deferral night must still scrub its artifacts")
  }

  test("deepAuditEvery mechanizes the scheduled full card: untouched corruption survives k-1 nights, aborts the k-th, repair re-arms; a dial-crossing purge forces it early") {
    val root = LocalSession.tempDir("vrel_deep").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh1 = emb.where(!isEval && isNew && col("vec_id") % 2 === 0)
    val fresh2 = emb.where(!isEval && isNew && col("vec_id") % 2 === 1)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val evals = nodes(emb.where(isEval))
    def priorOf(): DataFrame = {
      val m = IndexStore.readModel(spark, idx)
      Similarity.ivfExactGraphEdges(nodes(old), cands(old), m.centroids,
        nProbe = 2, k = 3).localCheckpoint()
    }
    def corrupt(): Unit = {
      // lose HALF the rows of one of r1's partitions (bit-rot / torn
      // rewrite). Halving — not deleting — keeps every cell populated, so
      // the health verdict stays clean and only an audit can see the loss
      // (deleting the partition would empty a cell and trip the rebalance,
      // which pays the full card immediately — a different test)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val victim = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/codes"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .map(st => new org.apache.hadoop.fs.Path(st.getPath, "release=r1"))
        .find(fs.exists).get
      spark.catalog.refreshByPath(victim.toString)
      val rows = spark.read.parquet(victim.toString).localCheckpoint()
      val half = rows.limit((rows.count() / 2).toInt.max(1)).localCheckpoint()
      assert(half.count() < rows.count(), "fixture partition too small to halve")
      half.coalesce(1).write.mode("overwrite").parquet(victim.toString)
      spark.catalog.refreshByPath(s"$idx/codes")
    }
    corrupt()
    // night 1 (k-1 survival): the release-bounded gate trusts untouched
    // r1 by design — the night passes over the corruption
    val n1 = VectorRelease.maintain(spark, idx, fresh1, old, evals,
      priorOf(), "vec_id", "embedding", "r2", kCoarse = 8,
      maxShareMilli = 300,
      priorGeneration = IndexStore.generation(spark, idx),
      deepAuditEvery = 2).localCheckpoint()
    assert(n1.count() > 0)
    assert(IndexStore.readAuditClock(spark, idx) === (1L, 0L))
    // night 2: the k-th night escalates to the full card and catches it
    val g1 = n1.select("src_id", "dst_id", "score", "rank").localCheckpoint()
    def night2() = VectorRelease.maintain(spark, idx, fresh2,
      old.unionByName(fresh1), evals, g1, "vec_id", "embedding", "r3",
      kCoarse = 8, maxShareMilli = 300,
      priorGeneration = IndexStore.generation(spark, idx),
      deepAuditEvery = 2)
    val thrown = intercept[IllegalStateException] { night2().count() }
    assert(thrown.getMessage.contains("code table vs servable corpus"),
      thrown.getMessage)
    // the aborted night did not advance the clock: the deep audit re-arms
    assert(IndexStore.readAuditClock(spark, idx) === (1L, 0L))
    // repair the torn release, rerun the night: passes and stamps the clock
    IndexStore.repairRelease(spark, idx, old, "vec_id", "embedding", "r1")
    assert(night2().count() > 0)
    assert(IndexStore.readAuditClock(spark, idx) === (2L, 2L))
    // a dial-crossing purge forces the full card ahead of cadence: tear r1
    // again, schedule far-off deep audits, cross a positive dial
    corrupt()
    IndexStore.delete(spark, idx, emb.where(!isEval && !isNew)
      .where(col("vec_id") % 13 === 5).select(col("vec_id").as("cand_id")))
    val thrown2 = intercept[IllegalStateException] {
      VectorRelease.maintain(spark, idx, fresh2,
        old.unionByName(fresh1), evals, g1, "vec_id", "embedding", "r3",
        kCoarse = 8, maxShareMilli = 300,
        priorGeneration = IndexStore.generation(spark, idx),
        purgeBacklog = 1L, deepAuditEvery = 10).count()
    }
    assert(thrown2.getMessage.contains("code table vs servable corpus"),
      thrown2.getMessage)
  }

  test("purgeBudgetBytes: the byte-denominated dial defers at the budget and purges just under it") {
    val root = LocalSession.tempDir("vrel_bytes").toString
    val idx = s"$root/index"
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    IndexStore.build(spark, idx, old, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val model = IndexStore.readModel(spark, idx)
    val prior = Similarity.ivfExactGraphEdges(nodes(old), cands(old),
      model.centroids, nProbe = 2, k = 3).localCheckpoint()
    val isTomb = col("vec_id") % 7 === 3
    val nTomb = IndexStore.delete(spark, idx,
      emb.where(isTomb).select(col("vec_id").as("cand_id")))
    val footprint = nTomb * VectorRelease.TombstoneBytesPerId
    // backlog footprint == budget: not OVER it -> defer (and the byte dial
    // overrides the stricter default row dial, proving precedence)
    VectorRelease.maintain(spark, idx, fresh, old,
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300,
      purgeBudgetBytes = footprint).count()
    assert(IndexStore.readTombstones(spark, idx)
      .map(_.count()).contains(nTomb),
      "at the budget the tombstone list must survive the night")
    assert(!IndexStore.readCodes(spark, idx)
      .where(col("cand_id") % 7 === 3).isEmpty,
      "at the budget the dead bytes stay resident")
    // one byte less: the backlog crosses the budget -> purge and reset
    VectorRelease.maintain(spark, idx, fresh, old.where(!isTomb),
      nodes(emb.where(isEval)), prior, "vec_id", "embedding", "r2",
      kCoarse = 8, maxShareMilli = 300,
      purgeBudgetBytes = footprint - 1L).count()
    assert(IndexStore.readTombstones(spark, idx).isEmpty,
      "over the budget the purge must run and reset the list")
    assert(IndexStore.readCodes(spark, idx)
      .where(col("cand_id") % 7 === 3).isEmpty,
      "over the budget the dead bytes must be reclaimed")
  }

  test("maintain: verdict gates the rebalance, both branches converge, crash between steps recovers") {
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    def mkStore(kc: Int): String = {
      val idx = LocalSession.tempDir("vmnt").toString + "/index"
      IndexStore.build(spark, idx, old, "vec_id", "embedding",
        dim = 64, kCoarse = kc, coarseIters = 4, m = 16, ksub = 8,
        iters = 3, release = "r1")
      idx
    }
    def priorOf(idx: String): DataFrame = {
      val m = IndexStore.readModel(spark, idx)
      Similarity.ivfExactGraphEdges(nodes(old), cands(old), m.centroids,
        nProbe = 2, k = 3)
    }
    def run(idx: String): DataFrame = VectorRelease.maintain(spark, idx,
      fresh, old, nodes(emb.where(isEval)), priorOf(idx),
      "vec_id", "embedding", release = "r2",
      kCoarse = 8, maxShareMilli = 300).localCheckpoint()
    def flag(d: DataFrame): Seq[Boolean] =
      d.select("rebalanced").distinct().collect().map(_.getBoolean(0)).toSeq
    def sameRows(a: DataFrame, b: DataFrame): Boolean = {
      val (x, y) = (a.drop("rebalanced"), b.drop("rebalanced"))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }

    // healthy night: verdict passes, rebalance skipped, generation stays 0
    val hIdx = mkStore(8)
    val hOut = run(hIdx)
    assert(flag(hOut) === Seq(false), "healthy store must not rebalance")
    assert(IndexStore.generation(spark, hIdx) === 0L)

    // degenerate night: the kc2 store trips the 8-cell target, heals, and —
    // because the rebalance retrains with the identical params/sequence —
    // converges to EXACTLY the healthy night's rows (the stale kc2 prior
    // graph passed in must be discarded, not merged)
    val dIdx = mkStore(2)
    val dOut = run(dIdx)
    assert(flag(dOut) === Seq(true), "degenerate store must rebalance")
    assert(IndexStore.generation(spark, dIdx) === 1L)
    assert(sameRows(dOut, hOut), "healed night must equal the healthy night")

    // crash BETWEEN rebalance-commit and append: the rebalance landed, the
    // night died before rolling forward. The rerun passes the SAME inputs
    // the original night had (the degen-model prior graph, generation 0);
    // the verdict now reads the healed store and skips the second
    // rebalance, but the persisted generation mismatch still forces the
    // graph rebuild — rows converge to the uninterrupted answer.
    val cIdx = mkStore(2)
    val stalePrior = priorOf(cIdx) // built under the degen model, gen 0
      .localCheckpoint()
    IndexStore.rebalance(spark, cIdx, old, "vec_id", "embedding",
      kCoarse = 8, coarseIters = 4, pqIters = 3)
    val cOut = VectorRelease.maintain(spark, cIdx, fresh, old,
      nodes(emb.where(isEval)), stalePrior, "vec_id", "embedding",
      release = "r2", kCoarse = 8, maxShareMilli = 300,
      priorGeneration = 0L).localCheckpoint()
    assert(flag(cOut) === Seq(false),
      "the committed rebalance must not run twice")
    assert(sameRows(cOut, hOut), "interrupted night must converge on rerun")

    // crash MID-SWAP (post-marker): stage the healed store's dirs as .next
    // with the marker present — maintain's leading recover completes the
    // swap, then the night proceeds normally
    val sIdx = mkStore(2)
    val stalePrior2 = priorOf(sIdx).localCheckpoint()
    IndexStore.rebalance(spark, sIdx, old, "vec_id", "embedding",
      kCoarse = 8, coarseIters = 4, pqIters = 3)
    val fs = new org.apache.hadoop.fs.Path(sIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$sIdx/meta"),
      new org.apache.hadoop.fs.Path(s"$sIdx/meta.next")))
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$sIdx/codes"),
      new org.apache.hadoop.fs.Path(s"$sIdx/codes.next")))
    fs.create(new org.apache.hadoop.fs.Path(s"$sIdx/_SWAP_READY"), true).close()
    val sOut = VectorRelease.maintain(spark, sIdx, fresh, old,
      nodes(emb.where(isEval)), stalePrior2, "vec_id", "embedding",
      release = "r2", kCoarse = 8, maxShareMilli = 300,
      priorGeneration = 0L).localCheckpoint()
    assert(sameRows(sOut, hOut), "mid-swap crash must converge on rerun")

    // a second full maintain on the healed store is idempotent: healthy
    // verdict, generation-matched prior (this time built under gen 1 and
    // passed as such), identical rows
    val gen = IndexStore.generation(spark, dIdx)
    val dOut2 = VectorRelease.maintain(spark, dIdx, fresh, old,
      nodes(emb.where(isEval)), priorOf(dIdx), "vec_id", "embedding",
      release = "r2", kCoarse = 8, maxShareMilli = 300,
      priorGeneration = gen).localCheckpoint()
    assert(flag(dOut2) === Seq(false))
    assert(sameRows(dOut2, hOut))
  }

  test("maintain rolls the int8 rerank tier forward: frozen-stats append on healthy, rebuild on heal") {
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    def cands(d: DataFrame) = d.select(
      col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
    def mkStore(kc: Int): String = {
      val idx = LocalSession.tempDir("vmnt8").toString + "/index"
      IndexStore.build(spark, idx, old, "vec_id", "embedding",
        dim = 64, kCoarse = kc, coarseIters = 4, m = 16, ksub = 8,
        iters = 3, release = "r1")
      IndexStore.buildRerank(spark, idx, cands(old))
      idx
    }
    def priorOf(idx: String): DataFrame = {
      val m = IndexStore.readModel(spark, idx)
      Similarity.ivfExactGraphEdges(nodes(old), cands(old), m.centroids,
        nProbe = 2, k = 3)
    }
    def run(idx: String): DataFrame = VectorRelease.maintain(spark, idx,
      fresh, old, nodes(emb.where(isEval)), priorOf(idx),
      "vec_id", "embedding", release = "r2",
      kCoarse = 8, maxShareMilli = 300).localCheckpoint()
    def int8Serve(idx: String): DataFrame = IndexStore.serve(spark, idx,
      nodes(emb.where(isEval)), IndexStore.ServeSpec(IndexStore.Int8),
      nProbe = 2, k = 5, shortlist = 100)

    // healthy night: the delta appends under FROZEN stats — stats unchanged,
    // tier covers the union, release-partitioned
    val hIdx = mkStore(8)
    val statsBefore = IndexStore.readRerankStats(spark, hIdx).collect().toSet
    run(hIdx)
    assert(IndexStore.readRerankStats(spark, hIdx).collect().toSet
      === statsBefore, "a healthy night must not retrain the stats")
    spark.catalog.refreshByPath(s"$hIdx/rerank/codes")
    val hTier = spark.read.parquet(s"$hIdx/rerank/codes")
    assert(hTier.count() === old.count() + fresh.count())
    assert(hTier.select("release").distinct().collect().map(_.getString(0))
      .toSet === Set("r1", "r2"))

    // degenerate night: the rebalance rebuilds the tier under the healed
    // cells with retrained stats — the healed store's int8 serve equals a
    // store that was healthy all along (the dOut ≡ hOut pattern extended
    // to the derived tier)
    val dIdx = mkStore(2)
    val dOut = run(dIdx)
    assert(dOut.select("rebalanced").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(true))
    val (hServe, dServe) = (int8Serve(hIdx), int8Serve(dIdx))
    assert(hServe.count() > 0)
    assert(dServe.exceptAll(hServe).isEmpty && hServe.exceptAll(dServe).isEmpty,
      "healed store's int8 serve must equal the healthy store's")

    // crashed predecessor: a committed swap bumped the generation but died
    // before the tier rebuild (emulated by advancing the persisted stamp).
    // The night's rerun sees a healthy verdict + a generation mismatch and
    // must rebuild the tier on the residents — serving converges to the
    // healthy-all-along store instead of tripping the staleness guard.
    val cIdx = mkStore(8)
    val genPath = new org.apache.hadoop.fs.Path(s"$cIdx/meta/_generation")
    val hfs = genPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = hfs.create(genPath, true)
    o.write("1".getBytes(java.nio.charset.StandardCharsets.UTF_8)); o.close()
    val cOut = VectorRelease.maintain(spark, cIdx, fresh, old,
      nodes(emb.where(isEval)), priorOf(cIdx), "vec_id", "embedding",
      release = "r2", kCoarse = 8, maxShareMilli = 300,
      priorGeneration = 0L).localCheckpoint()
    assert(cOut.select("rebalanced").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(false))
    assert(IndexStore.rerankGeneration(spark, cIdx) === Some(1L),
      "the heal must re-stamp the tier at the store's generation")
    val cServe = int8Serve(cIdx)
    assert(cServe.exceptAll(hServe).isEmpty && hServe.exceptAll(cServe).isEmpty)
  }

  test("maintain on an OPQ store: graph in the rotated space, heal retrains the rotation, tier converges") {
    // the store's centroids live in the rotated space, so the night's graph
    // must be built there too — probing rotated centroids with unrotated
    // vectors would cell-prune in a mismatched geometry. The heal must
    // retrain the rotation with the quantizer and still converge to a
    // store that was healthy (OPQ included) all along.
    val old = emb.where(!isEval && !isNew)
    val fresh = emb.where(!isEval && isNew)
    def mkStore(kc: Int): String = {
      val idx = LocalSession.tempDir("vmntq").toString + "/index"
      IndexStore.build(spark, idx, old, "vec_id", "embedding",
        dim = 64, kCoarse = kc, coarseIters = 4, m = 16, ksub = 8,
        iters = 3, release = "r1", opq = true)
      IndexStore.buildRerank(spark, idx, cands(old))
      idx
    }
    def rotated(idx: String, d: DataFrame, embC: String): DataFrame =
      IndexStore.readRotation(spark, idx)
        .fold(d)(w => Similarity.householderRotate(d, embC, w))
    def priorOf(idx: String): DataFrame = {
      val m = IndexStore.readModel(spark, idx)
      Similarity.ivfExactGraphEdges(rotated(idx, nodes(old), "q_emb"),
        rotated(idx, cands(old), "cand_emb"), m.centroids, nProbe = 2, k = 3)
    }
    def run(idx: String): DataFrame = VectorRelease.maintain(spark, idx,
      fresh, old, nodes(emb.where(isEval)), priorOf(idx),
      "vec_id", "embedding", release = "r2",
      kCoarse = 8, maxShareMilli = 300).localCheckpoint()
    def sameRows(a: DataFrame, b: DataFrame): Boolean = {
      val (x, y) = (a.drop("rebalanced"), b.drop("rebalanced"))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }

    // healthy OPQ night: no rebalance, rotation frozen, and the rolled
    // graph ≡ a from-scratch union build in the store's rotated space
    val hIdx = mkStore(8)
    val wBefore = IndexStore.readRotation(spark, hIdx)
    assert(wBefore.nonEmpty, "fixture must actually train a rotation")
    val hOut = run(hIdx)
    assert(hOut.select("rebalanced").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(false))
    assert(IndexStore.readRotation(spark, hIdx).get.toSeq
      === wBefore.get.toSeq, "a healthy night must not touch the rotation")
    val m = IndexStore.readModel(spark, hIdx)
    val unionAll = old.unionByName(fresh)
    val scratch = Similarity.withMutualFlag(Similarity.ivfExactGraphEdges(
      rotated(hIdx, nodes(unionAll), "q_emb"),
      rotated(hIdx, cands(unionAll), "cand_emb"),
      m.centroids, nProbe = 2, k = 3))
    val got = hOut.select("src_id", "dst_id", "score", "rank", "mutual")
    assert(got.exceptAll(scratch).isEmpty && scratch.exceptAll(got).isEmpty,
      "rolled OPQ graph must equal the from-scratch rotated-space build")

    // degenerate OPQ heal: rebalance retrains rotation + quantizer on the
    // residents; rows AND the int8 serve converge to healthy-all-along
    val dIdx = mkStore(2)
    val dOut = run(dIdx)
    assert(dOut.select("rebalanced").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(true))
    assert(IndexStore.readRotation(spark, dIdx).get.toSeq
      === wBefore.get.toSeq,
      "heal must retrain the rotation to the fresh-build answer")
    assert(sameRows(dOut, hOut), "healed OPQ night must equal the healthy one")
    def int8Serve(idx: String): DataFrame = IndexStore.serve(spark, idx,
      nodes(emb.where(isEval)), IndexStore.ServeSpec(IndexStore.Int8),
      nProbe = 2, k = 5, shortlist = 100)
    val (hServe, dServe) = (int8Serve(hIdx), int8Serve(dIdx))
    assert(hServe.count() > 0)
    assert(dServe.exceptAll(hServe).isEmpty && hServe.exceptAll(dServe).isEmpty)
  }

  test("three-night soak: persisted graph/generation handoff, mid-soak rebalance, no drift") {
    // the documented operator workflow, run for real over three growing
    // nights: persist (graph, generation) after each maintain and pass the
    // pair back the next night. Night 2 runs under a tightened share policy
    // (50 milli is unsatisfiable for 8 cells, so the verdict must trip) —
    // the healed quantizer invalidates the persisted night-1 graph via the
    // generation bump, nights 1 and 3 take the incremental merge path, and
    // the final store/graph/drop artifacts must equal a from-scratch build
    // on the full union: no drift accumulates across nights.
    val root = LocalSession.tempDir("vsoak").toString
    val idx = s"$root/index"
    val graphPath = s"$root/graph"
    val m10 = col("vec_id") % 10
    val corpus = emb.where(!isEval)
    val base = corpus.where(m10 <= 5)
    val evals = nodes(emb.where(isEval))
    val nights = Seq(
      ("r2", corpus.where(m10.isin(6, 7)), 300L),
      ("r3", corpus.where(m10 === 8), 50L),
      ("r4", corpus.where(m10 === 9), 300L))

    IndexStore.build(spark, idx, base, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    val m0 = IndexStore.readModel(spark, idx)
    VectorRelease.writeGraph(Similarity.ivfExactGraphEdges(
      nodes(base), cands(base), m0.centroids, nProbe = 2, k = 3), graphPath)

    var gen = IndexStore.generation(spark, idx)
    var resident = base
    var flags = Seq.empty[Boolean]
    var lastOut: DataFrame = null
    for ((rel, slice, share) <- nights) {
      val out = VectorRelease.maintain(spark, idx, slice, resident, evals,
        VectorRelease.readGraph(spark, graphPath), "vec_id", "embedding",
        release = rel, kCoarse = 8, maxShareMilli = share,
        priorGeneration = gen).localCheckpoint()
      VectorRelease.writeGraph(out, graphPath)
      // mid-soak compaction after night 1: squeezing the fresh append to
      // one file per partition must be invisible to every later night —
      // night 2's rebalance re-encodes THROUGH the compacted rows and
      // night 3 appends after it; the final no-drift assertions below
      // prove the composition
      if (rel == "r2") IndexStore.compact(spark, idx, _ == "r2")
      gen = IndexStore.generation(spark, idx)
      resident = resident.unionByName(slice)
      flags = flags ++
        out.select("rebalanced").distinct().collect().map(_.getBoolean(0))
      lastOut = out
    }
    assert(flags === Seq(false, true, false),
      s"exactly night 2's tightened policy must rebalance, got $flags")
    assert(gen === 1L, "one committed rebalance -> one generation bump")

    // night 3's edges ≡ a from-scratch union graph under the CURRENT
    // (night-2-healed) quantizer
    val fm = IndexStore.readModel(spark, idx)
    val scratch = Similarity.withMutualFlag(Similarity.ivfExactGraphEdges(
      nodes(resident), cands(resident), fm.centroids, nProbe = 2, k = 3))
    val got = lastOut.select("src_id", "dst_id", "score", "rank", "mutual")
    assert(got.exceptAll(scratch).isEmpty && scratch.exceptAll(got).isEmpty,
      "three incremental nights must equal the from-scratch union build")

    // release provenance survives the mid-soak rebalance's re-encode:
    // every resident's code row carries the night (or build) that shipped it
    val wrongRel = IndexStore.readCodes(spark, idx)
      .select(col("cand_id"), col("release"))
      .where(col("release") =!= when(col("cand_id") % 10 <= 5, "r1")
        .when(col("cand_id") % 10 <= 7, "r2")
        .when(col("cand_id") % 10 === 8, "r3").otherwise("r4"))
    assert(wrongRel.isEmpty, "release provenance lost across the soak")

    // drop flags ≡ the frozen-store decontaminate on the final union
    val drops = IndexStore.decontaminate(spark, idx, evals, cands(resident),
        nProbe = 2, shortlist = 100, threshold = 0.3)
      .select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val flagged = lastOut.where(col("dropped")).select("src_id").distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val srcs = lastOut.select("src_id").distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(flagged === drops.intersect(srcs))
  }
}
