package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Vector-tier nightly roll-forward — the ANN counterpart of
  * [[ReleaseBuild.rollForward]], making the index/graph/decontamination
  * artifacts roll forward in ONE incremental job instead of rebuilding
  * (the reference's release-versioned roll-forward applied to the vector
  * tier: one release id drives every downstream artifact,
  * `db_etl_orchestrator/orchestrator.py:115-226`).
  *
  * One call per release does, against the FROZEN quantizers of the
  * persisted [[IndexStore]]:
  *
  *  1. **index append** — the new release's vectors are encoded map-only
  *     ([[IndexStore.append]]: centroid/codebook literals ride with the
  *     plan) and dynamic-overwrite exactly their own (cell, release) code
  *     partitions; prior releases' codes are never re-read, re-running a
  *     failed night replaces rather than duplicates.
  *  2. **graph roll-forward** — the prior release's mutual-kNN edge list
  *     merges with a delta scored ONLY against the new slice
  *     ([[Similarity.ivfExactGraphEdges]] old-nodes × new-candidates +
  *     new-nodes × union), then [[Similarity.mergeKnnEdges]]'s bounded
  *     per-source top-k. Exact scores make the merged graph provably
  *     identical to a from-scratch build on the union corpus under the
  *     same frozen quantizer (the q176 kernel; VectorReleaseSpec pins it).
  *     Per night the engine scores O(|V_old| × delta-resident-cells +
  *     |new| × union-cells) — the old corpus is never re-paired with
  *     itself.
  *  3. **eval drop list** — [[IndexStore.decontaminate]] served from the
  *     just-appended frozen index: eval vectors probe their cells, ADC
  *     shortlists run over the partition-pruned union codes, candidates
  *     at/above the threshold land on the drop list with their best eval
  *     match. Zero training jobs.
  *
  * Output: one row per rolled-forward graph edge with the source vector's
  * release and drop status — (src_id, dst_id, score, rank, mutual,
  * release, dropped) — so one frame hash-pins all three artifacts.
  *
  * Scale shape: the only corpus-sized work is the inherent graph surface
  * (cell-keyed equi-joins, bounded TopK aggregates, map-side partials);
  * the index append is map-only over the delta; the drop list's work
  * scales with the probed population. Nothing broadcasts query-sided,
  * nothing prior-release-sized re-encodes.
  */
object VectorRelease {

  /** Serving/graph dials; defaults are the declared q180 fixture's. */
  case class Params(nProbe: Int = 2, k: Int = 3, shortlist: Int = 100,
                    threshold: Double = 0.3)

  /** Largest delta (rows) the integrity gate's fallback dup scan will
    * broadcast — ~32 MB of longs plus overhead; beyond it the probe joins
    * as a keyed left-semi shuffle, which degrades gracefully where an
    * oversized broadcast would fail the night outright. */
  private[graft] val BroadcastRowCeiling = 4000000L

  /** Broadcast footprint of one tombstoned id — the 8-byte long payload
    * each serve's exclusion anti-join ships per id (constant per-broadcast
    * overhead excluded). `purgeBudgetBytes` is denominated through this:
    * the motivating budget is the list's broadcast bytes, and rows were
    * only ever a proxy for it. */
  private[graft] val TombstoneBytesPerId = 8L

  /** The prior releases the LAST maintain night's dup audit actually
    * scanned (empty = the sketches cleared every release and no prior
    * file was read) — test instrumentation only, the
    * [[ReleaseBuild.lastRestorePasses]] idiom; VectorReleaseSpec pins the
    * clean night to Nil and the planted-dup night to a sketch hit. */
  @volatile private[graft] var lastDupProbeScanned: Seq[String] = Nil

  /** The one nightly call, against the persisted index at `path` (already
    * holding the prior releases) and the prior release's edge list.
    *
    * @param newVecs    the new release's vectors (idCol, embCol)
    * @param oldVecs    prior releases' vectors, for the graph delta's
    *                   old-node side (in production the persisted raw-vector
    *                   store; candidate-scoring access only — never
    *                   re-encoded, never self-paired)
    * @param evals      eval/benchmark vectors (q_id long, q_emb
    *                   array<double>)
    * @param priorGraph prior release's edge list (src_id, dst_id, score,
    *                   rank[, mutual]); for an OPQ store it must have been
    *                   built in the store's rotated space (true of any
    *                   graph a previous rollForward/maintain night emitted)
    * @param release    the new release id (code-partition key)
    */
  def rollForward(spark: SparkSession, path: String, newVecs: DataFrame,
                  oldVecs: DataFrame, evals: DataFrame, priorGraph: DataFrame,
                  idCol: String, embCol: String, release: String,
                  p: Params = Params()): DataFrame =
    rollForwardWith(spark, path, newVecs, oldVecs, evals, priorGraph, idCol,
      embCol, release, p, None)

  /** [[rollForward]] with an optionally preloaded [[IndexStore.StoreMeta]]
    * — [[maintain]] reads the (post-rebalance, frozen-for-the-night) meta
    * once and threads it through every sub-step. */
  private[pipeline] def rollForwardWith(spark: SparkSession, path: String,
                                        newVecs: DataFrame,
                                        oldVecs: DataFrame, evals: DataFrame,
                                        priorGraph: DataFrame, idCol: String,
                                        embCol: String, release: String,
                                        p: Params,
                                        metaOpt: Option[IndexStore.StoreMeta])
      : DataFrame = {
    // a rerun of the same night dynamically replaces this release's code
    // partitions — refresh so no stale file listing from a previous attempt
    // survives into this plan (the rollForwardOnDisk contract)
    spark.catalog.refreshByPath(path)
    val meta = metaOpt.getOrElse(IndexStore.readMeta(spark, path))
    // 1. map-only frozen-model append of the new release's codes
    IndexStore.appendWith(spark, path, newVecs, idCol, embCol, release,
      Some(meta))
    val model = meta.model
    // the store's centroids live in its ROTATED space when it carries an
    // OPQ rotation — build the graph there too, or the cell pruning would
    // probe rotated centroids with unrotated vectors. The reflection is
    // orthogonal, so scores are the same dot products; identity (and
    // bit-identical plans) for a plain store. Prior graphs from earlier
    // nights were built in the same frozen space, so merges stay exact.
    val rot = meta.rotation
    def nodes(d: DataFrame) = {
      val n = d.select(col(idCol).cast("long").as("q_id"),
        col(embCol).cast("array<double>").as("q_emb"))
      rot.fold(n)(w => Similarity.householderRotate(n, "q_emb", w))
    }
    def cands(d: DataFrame) = {
      val c = d.select(col(idCol).cast("long").as("cand_id"),
        col(embCol).cast("array<double>").as("cand_emb"))
      rot.fold(c)(w => Similarity.householderRotate(c, "cand_emb", w))
    }
    def candsRaw(d: DataFrame) = d.select(
      col(idCol).cast("long").as("cand_id"),
      col(embCol).cast("array<double>").as("cand_emb"))
    val union = oldVecs.unionByName(newVecs)

    // 2. graph roll-forward under the frozen coarse quantizer. The merged
    //    edge list is consumed TWICE by construction — withMutualFlag
    //    self-joins it against its own reversal — and its producing tree
    //    is the night's most expensive subtree (two exact cell-pruned
    //    scoring passes plus the bounded merge), so pin it once
    //    (localCheckpoint: guide §5, cheap lineage cut for a
    //    twice-consumed intermediate). The pinned frame is |V|·k edge
    //    rows — orders of magnitude below the corpus — and is recomputed
    //    from the night's inputs on every call: a plan pin, not a
    //    cross-run cache.
    val oldDelta = Similarity.ivfExactGraphEdges(nodes(oldVecs),
      cands(newVecs), model.centroids, p.nProbe, p.k)
    val newEdges = Similarity.ivfExactGraphEdges(nodes(newVecs),
      cands(union), model.centroids, p.nProbe, p.k)
    val merged = Similarity.mergeKnnEdges(priorGraph, oldDelta, p.k)
      .unionByName(newEdges).localCheckpoint()
    val graph = Similarity.withMutualFlag(merged)

    // 3. eval drop list served FROM the just-appended index — which
    //    rotates its own inputs, so it gets the RAW candidates
    val drops = Similarity.dropListFromMatches(IndexStore.serve(spark, path,
      evals, IndexStore.ServeSpec(IndexStore.Raw(candsRaw(union))),
      p.nProbe, k = p.shortlist, shortlist = p.shortlist, meta = Some(meta)),
      p.threshold)

    // one frame pinning all three artifacts: edge rows + the source's
    // release (from the store's own codes) + its drop status
    val rel = IndexStore.readCodes(spark, path)
      .select(col("cand_id").as("src_id"), col("release"))
    graph.join(rel, Seq("src_id"))
      .join(drops.select(col("vec_id").as("src_id"), lit(true).as("__d")),
        Seq("src_id"), "left")
      .select(col("src_id"), col("dst_id"), col("score"), col("rank"),
        col("mutual"), col("release"),
        coalesce(col("__d"), lit(false)).as("dropped"))
  }

  /** The UNIFIED nightly maintenance entry point — the operational close of
    * the vector tier: q183 decides ([[IndexStore.healthVerdict]]), q181
    * fixes ([[IndexStore.rebalance]], conditionally), q180 rolls forward
    * ([[rollForward]]) — composed as ONE crash-safe call, mirroring how one
    * release id drives every downstream artifact in the reference
    * (`db_etl_orchestrator/orchestrator.py:115-226`).
    *
    * Decision policy: the store's [[IndexStore.healthVerdict]] against the
    * TARGET geometry (`kCoarse`, `maxShareMilli`). A degenerate store
    * (empty cells vs the target, or a monster cell) is rebalanced — coarse
    * quantizer AND codebooks retrained on `oldVecs` (exactly the resident
    * population, which the rebalance coverage guard enforces) — before the
    * nightly append.
    *
    * After a rebalance the passed `priorGraph` is DISCARDED and the prior
    * edge list is rebuilt from scratch under the healed model: the graph's
    * candidate sets derive from the quantizer's cell geometry, so edges
    * cell-pruned under the degenerate model are not merge-compatible with
    * deltas under the healed one (the [[Similarity.mergeKnnEdges]] identity
    * only holds per frozen quantizer). That rebuild is the honest cost of a
    * quantizer change — a rare, verdict-gated event; every healthy night
    * pays only the incremental [[rollForward]] shape.
    *
    * Crash safety across the step boundary: the rebalance itself commits
    * via the `_SWAP_READY` marker protocol ([[IndexStore.recover]] converges
    * either side of it — this call runs `recover` first). A crash BETWEEN
    * rebalance-commit and append converges on rerun through the persisted
    * MODEL GENERATION ([[IndexStore.generation]]): the caller passes the
    * generation its `priorGraph` was built under, and the graph is merged
    * incrementally ONLY when it matches the store's current generation.
    * On the interrupted night's rerun the verdict reads the already-healed
    * store and skips the second rebalance, but the generation mismatch
    * (bumped by the committed rebalance) still forces the graph rebuild the
    * original run would have done; append/drop-list are idempotent per
    * release. The staleness decision thus lives entirely in persisted
    * state — an in-flight "I just rebalanced" flag would not survive the
    * crash (VectorReleaseSpec pins rerun ≡ uninterrupted-run).
    *
    * Operators persist the pair (graph, generation): after a successful
    * night, record `IndexStore.generation(spark, path)` next to
    * [[writeGraph]]'s output and pass it back as `priorGeneration` the
    * following night.
    *
    * Pending TAKEDOWNS ([[IndexStore.delete]]) are realized first, nightly:
    * the store is purged, the night's vector inputs are scrubbed, and on
    * the incremental graph path the prior edge list is scrubbed of
    * tombstoned endpoints with the nodes that lost a neighbor re-scored
    * against the servable corpus ([[repairGraph]]) — so the merged graph
    * remains provably identical to a from-scratch build on the servable
    * union, and the takedown's nightly cost is bounded by its blast
    * radius.
    *
    * When the store carries the int8 rerank tier ([[IndexStore.hasRerank]])
    * the night rolls it forward too, under the same staleness rule as the
    * graph: generation mismatch rebuilds the tier on the resident corpus
    * (healed cells, stats retrained on exactly the population the
    * rebalance retrained the quantizer on), a healthy night appends the
    * delta under the frozen stats.
    *
    * `purgeBacklog` is the physical-reclamation dial: the nightly
    * [[IndexStore.purge]] runs only when the tombstone BACKLOG (the list
    * every serve broadcasts) exceeds it. The default 0 purges on any
    * pending takedown — the strictest stance, and the one the takedown
    * queries pin. Raising it lets a fleet amortize the purge rewrite over
    * several nights while serving stays correct throughout: the list keeps
    * excluding, inputs/graph are still scrubbed every night, and only the
    * dead bytes' reclamation is deferred (VectorReleaseSpec pins both
    * sides of the threshold). `purgeBudgetBytes >= 0` switches the dial to
    * the quantity the deferral actually budgets — the list's broadcast
    * footprint ([[TombstoneBytesPerId]] per id) that every serve pays —
    * and takes precedence over the row dial (which stays as the compat
    * overload); `0` bytes purges on any backlog, like `purgeBacklog = 0`.
    *
    * `deepAuditEvery = k > 0` mechanizes the full five-surface card's
    * cadence: the release-bounded nightly gate deliberately trusts
    * untouched prior releases, so every k-th night — and any night whose
    * purge crossed a POSITIVE dial — escalates to the full card (the
    * rebalance/stale branch already pays it and stamps the same clock).
    * The counter is persisted in the store ([[IndexStore.readAuditClock]])
    * and only advances on a night whose gates all passed, so an aborted
    * deep audit re-arms until the corruption is repaired. Default 0 keeps
    * the round-13 behavior (full card only on the rebalance/stale branch;
    * q207 as the on-demand cross-tier card).
    *
    * Returns [[rollForward]]'s frame plus a `rebalanced` flag so one output
    * pins the decision branch taken alongside the three artifacts. */
  def maintain(spark: SparkSession, path: String, newVecs: DataFrame,
               oldVecs: DataFrame, evals: DataFrame, priorGraph: DataFrame,
               idCol: String, embCol: String, release: String,
               kCoarse: Int, maxShareMilli: Long, priorGeneration: Long = 0L,
               coarseIters: Int = 4, pqIters: Int = 3,
               purgeBacklog: Long = 0L,
               purgeBudgetBytes: Long = -1L,
               deepAuditEvery: Int = 0,
               p: Params = Params()): DataFrame = {
    lastDupProbeScanned = Nil
    // 0. converge any interrupted predecessor (a crash mid-swap resumes the
    //    committed rebalance here; a crash pre-marker discards the staging)
    IndexStore.recover(spark, path)
    // 0b. realize pending TAKEDOWNS nightly — the q201 lifecycle's
    //     operational close. The delete itself is latency-critical metadata
    //     (serving excludes immediately); the nightly is where physical and
    //     derived state converge: pin the list, PURGE the store (code +
    //     int8-tier partitions), scrub the night's vector inputs, and —
    //     on the incremental graph path below — scrub the prior edge list
    //     of tombstoned endpoints and REPAIR exactly the nodes that lost a
    //     neighbor, so the merged graph stays provably identical to a
    //     from-scratch build on the SERVABLE union. Work is bounded by the
    //     takedown blast radius (the ids + their reverse neighbors), never
    //     corpus-sized.
    val tomb = IndexStore.readTombstones(spark, path).map(t =>
      t.select(col("cand_id").as("__tomb_id")).localCheckpoint())
    val hasTier = IndexStore.hasRerank(spark, path)
    // purge only when the backlog has crossed the dial (default 0 = any
    // pending takedown purges, the historical behavior); the affected
    // RELEASES are named BEFORE the rewrite — they are what the night's
    // closing integrity gate must audit, and post-purge the cleared list
    // can no longer name them. Discovery is a column-pruned scan of each
    // tier's (cand_id, release) with the pinned list broadcast — bounded
    // by the backlog's blast radius, the purge's own discovery shape.
    val backlogRows = tomb.map(_.count()).getOrElse(0L)
    val doPurge =
      if (purgeBudgetBytes >= 0L)
        backlogRows * TombstoneBytesPerId > purgeBudgetBytes
      else backlogRows > purgeBacklog
    val purgedRels: Array[String] =
      if (!doPurge) Array.empty
      else tomb.fold(Array.empty[String]) { t =>
        def rels(d: DataFrame) = d
          .join(broadcast(t), col("cand_id") === col("__tomb_id"), "left_semi")
          .select(col("release").cast("string")).distinct()
        val fromCodes = rels(IndexStore.readCodes(spark, path))
        (if (hasTier) fromCodes
            .unionByName(rels(IndexStore.readRerankCodes(spark, path)))
         else fromCodes)
          .distinct().collect().map(_.getString(0))
      }
    if (doPurge) IndexStore.purge(spark, path)
    def scrubVecs(d: DataFrame) = tomb.fold(d)(t =>
      d.join(broadcast(t), col(idCol).cast("long") === col("__tomb_id"),
        "left_anti"))
    val oldV = scrubVecs(oldVecs)
    val newV = scrubVecs(newVecs)
    // 1. decide — one kilobyte policy row (over the purged, servable store)
    val needsRebalance = IndexStore.healthVerdict(spark, path, kCoarse,
      maxShareMilli).collect()(0).getAs[Boolean]("needs_rebalance")
    // 2. conditionally fix: retrain on the servable resident corpus; the
    //    new release enters through the append inside rollForward as always
    if (needsRebalance)
      IndexStore.rebalance(spark, path, oldV, idCol, embCol, kCoarse,
        coarseIters, pqIters)
    // 3. roll forward. The prior graph merges incrementally ONLY when it
    //    was built under the store's current quantizer generation — a
    //    rebalance this run, or one committed by a crashed predecessor,
    //    bumps the generation and forces the from-scratch rebuild under
    //    the healed model (see scaladoc).
    val stale = IndexStore.generation(spark, path) != priorGeneration
    // the night's model is frozen from here on (the rebalance, if any,
    // already committed) — read the meta ONCE and thread it through every
    // remaining step instead of each sub-step re-reading the meta parquet
    val meta = IndexStore.readMeta(spark, path)
    def cands(d: DataFrame) = d.select(
      col(idCol).cast("long").as("cand_id"),
      col(embCol).cast("array<double>").as("cand_emb"))
    // 2b. the int8 rerank tier is derived model state, so it shares the
    //     graph's staleness rule. This run's own rebalance (step 2) already
    //     rebuilt the tier on the resident corpus — the remaining stale
    //     case is a CRASHED PREDECESSOR that committed its swap but died
    //     before the tier rebuild: rebuild here on the residents, exactly
    //     the population the rebalance retrained the quantizer on, so a
    //     healed store converges to the state of one that was healthy all
    //     along (stats included). The night's delta then appends under
    //     those stats below, like any healthy night.
    if (stale && !needsRebalance && hasTier)
      IndexStore.buildRerank(spark, path, cands(oldV))
    val graphBase =
      if (!stale) tomb.fold(priorGraph)(t =>
        repairGraph(spark, path, priorGraph, t, oldV, idCol, embCol, p,
          Some(meta)))
      else {
        // rebuild in the healed store's native space: an OPQ rebalance
        // retrains the rotation too, so reflect the resident vectors
        // through the NEW frozen w before cell pruning (identity for a
        // plain store — see rollForward's rotation note). oldV is already
        // takedown-scrubbed, so the rebuild is servable-only by input.
        val rot = meta.rotation
        val n0 = oldV.select(col(idCol).cast("long").as("q_id"),
          col(embCol).cast("array<double>").as("q_emb"))
        Similarity.ivfExactGraphEdges(
          rot.fold(n0)(w => Similarity.householderRotate(n0, "q_emb", w)),
          rot.fold(cands(oldV))(w =>
            Similarity.householderRotate(cands(oldV), "cand_emb", w)),
          meta.model.centroids, p.nProbe, p.k)
      }
    val out = rollForwardWith(spark, path, newV, oldV, evals, graphBase,
      idCol, embCol, release, p, Some(meta))
    // 4. append the delta to the rerank tier under the FROZEN stats
    //    (map-only, dynamic-overwrite idempotent) — after rollForward so
    //    the cell lookup reads the release's just-appended codes.
    if (hasTier) IndexStore.appendRerankWith(spark, path, cands(newV),
      release, Some(meta.rotation))
    // 5. INTEGRITY GATE, scoped to what the night TOUCHED — the text
    //    gate's delta-bounded shape ([[ReleaseBuild.rollForwardOnDisk]]);
    //    the full five-surface card stays on q207's scheduled cadence. A
    //    nightly that corrupts its own store must not report success
    //    (mirroring the reference's post-deploy row-count check,
    //    `db_etl_update_db/update.py:24-38`); the abort leaves the store
    //    recoverable — every mutation above is partition-idempotent, so
    //    [[IndexStore.repairRelease]] (or a rerun) converges it.
    val codesNow = IndexStore.readCodes(spark, path)
    // the deep-audit CADENCE (the persisted [[IndexStore.readAuditClock]]):
    // with `deepAuditEvery = k > 0` the engine itself runs the full card
    // every k-th night and after any DIAL-CROSSING purge (a deferral fleet
    // just rewrote partitions the release-bounded gate would otherwise
    // trust) — before round 14 that cadence was prose, and untouched-
    // release corruption waited on an operator remembering q207. The
    // rebalance/stale branch counts as a deep audit (same surfaces,
    // already paid for); an aborted night never advances the clock, so a
    // missed deep audit re-arms until it passes.
    val (nightsSoFar, lastDeepNight) = IndexStore.readAuditClock(spark, path)
    val night = nightsSoFar + 1
    val dialCrossingPurge = doPurge &&
      (if (purgeBudgetBytes >= 0L) purgeBudgetBytes > 0L
       else purgeBacklog > 0L)
    val deepDue = deepAuditEvery > 0 &&
      (night - lastDeepNight >= deepAuditEvery || dialCrossingPurge)
    val fullCardNight = needsRebalance || stale || deepDue
    if (fullCardNight) {
      // the verdict-/crash-gated branch rewrote the store wholesale
      // (rebalance re-encodes every release; a stale night rebuilds the
      // whole tier), so the only honest audit is the full card —
      // proportional to the rewrite the branch just paid for; a scheduled
      // deep-audit night pays it by appointment. Checked: every servable
      // corpus vector has exactly one code row, and full code↔int8 ROW
      // PARITY when the tier exists. DEFERRAL-AWARE: when the purge was
      // deferred below the dial, the tiers legitimately still hold the
      // un-purged tombstoned rows while the corpus (and a stale night's
      // rebuilt rerank tier) are scrubbed — anti-join the PINNED list out
      // of both audit sides, or a healthy deferral night would spuriously
      // abort as orphan/missing (the round-13 ADVICE case;
      // VectorReleaseSpec pins it). After a realized purge the scrub is a
      // no-op.
      def scrubCodes(d: DataFrame) = tomb.fold(d)(t =>
        d.join(broadcast(t), col("cand_id") === col("__tomb_id"),
          "left_anti"))
      val codesAudit = scrubCodes(codesNow)
      val corpusIds = oldV.select(col(idCol).cast("long").as("cand_id"))
        .unionByName(newV.select(col(idCol).cast("long").as("cand_id")))
      // both full cards verify in ONE collect (per-card invariants and
      // abort contexts preserved — StoreAudit.assertZeroAll)
      val codesCheck = (
        StoreAudit.card("codes", codesAudit, "cand_id", corpusIds),
        Seq("cross_release_dup", "orphan", "missing"),
        s"maintain night '$release': code table vs servable corpus")
      val tierCheck =
        if (!hasTier) Nil
        else Seq((StoreAudit.card("rerank_int8",
          scrubCodes(IndexStore.readRerankCodes(spark, path)), "cand_id",
          codesAudit.select("cand_id", "release")),
          Seq("cross_release_dup", "orphan", "missing"),
          s"maintain night '$release': code/int8 row parity"))
      StoreAudit.assertZeroAll(codesCheck +: tierCheck)
    } else {
      // the healthy night touched exactly: the new release's partitions
      // (append/appendRerank) and whatever releases the purge rewrote.
      // Audit those and nothing else — per-night gate cost tracks the
      // night's delta + takedown blast radius, not the resident store.
      // Corruption in an UNTOUCHED release is q207's scheduled card's to
      // catch (StoreRepairSpec pins both sides of that split).
      val touched = (purgedRels :+ release).distinct
      val deltaIds = newV.select(col(idCol).cast("long").as("cand_id"))
        .distinct().localCheckpoint()
      // (a) the new release's partition holds EXACTLY the night's delta
      //     (missing = a lost append, orphan = a crashed attempt's ghost
      //     partition the rerun's dynamic overwrite didn't repopulate)
      // (a) and (d) verify in ONE collect (contexts preserved per card —
      // the d-card moves ahead of probes b/c, which only reorders WHICH
      // abort message surfaces when several independent faults coexist)
      val deltaCheck = (
        StoreAudit.card("codes",
          codesNow.where(col("release") === release), "cand_id",
          deltaIds.withColumn("release", lit(release)),
          dupInvariant = false),
        Seq("orphan", "missing"),
        s"maintain night '$release': new-release delta coverage")
      val parityCheck =
        if (!hasTier) Nil
        else {
          val inTouched =
            col("release").cast("string").isin(touched.toSeq: _*)
          Seq((StoreAudit.card("rerank_int8",
            IndexStore.readRerankCodes(spark, path).where(inTouched),
            "cand_id",
            codesNow.where(inTouched).select("cand_id", "release")),
            Seq("cross_release_dup", "orphan", "missing"),
            s"maintain night '$release': code/int8 parity (touched releases)"))
        }
      StoreAudit.assertZeroAll(deltaCheck +: parityCheck)
      // (b) the delta must be NEW to the store — the only cross-release
      //     dup an append can introduce. The per-release id sketches are
      //     consulted FIRST ([[IndexStore.sketchHitReleases]]): a Bloom
      //     miss is definitive absence, so a clean night proves newness
      //     with kilobytes of sketch + one map pass over the delta and
      //     reads NO prior release's files; the column-pruned scan
      //     survives only as the on-hit fallback, partition-pruned to the
      //     hit releases (a hit may be a false positive — the scan, not
      //     the sketch, decides the abort). This removes the last
      //     per-night term that grew with the resident store instead of
      //     the delta. The fallback broadcasts the delta only below
      //     [[BroadcastRowCeiling]]; above it a keyed left-semi shuffle
      //     degrades gracefully instead of risking the driver.
      val hitRels = IndexStore.sketchHitReleases(spark, path, deltaIds,
        release)
      lastDupProbeScanned = hitRels
      val nDup =
        if (hitRels.isEmpty) 0L
        else {
          val probe =
            if (deltaIds.count() <= BroadcastRowCeiling) broadcast(deltaIds)
            else deltaIds
          codesNow.where(col("release").cast("string")
              .isin(hitRels: _*))
            .join(probe, Seq("cand_id"), "left_semi").count()
        }
      if (nDup > 0) throw new IllegalStateException(
        s"store integrity audit failed (maintain night '$release'): " +
          s"$nDup delta ids already stored under a prior release")
      // (c) purge verification: no tombstoned id survives in a touched
      //     partition (partition-pruned to the touched releases; the list
      //     was pinned before the purge cleared it)
      tomb.foreach { t =>
        val nLeft = codesNow
          .where(col("release").cast("string").isin(touched.toSeq: _*))
          .join(broadcast(t), col("cand_id") === col("__tomb_id"),
            "left_semi").count()
        if (nLeft > 0) throw new IllegalStateException(
          s"store integrity audit failed (maintain night '$release'): " +
            s"$nLeft tombstoned rows survive in touched partitions")
      }
      // (d) code↔int8 ROW PARITY on exactly the touched releases — the
      //     torn-purge divergence (one tier rewritten, the other not) can
      //     only appear where this night wrote; both scans partition-prune.
      //     Verified above, unioned with (a) into one collect.
    }
    // every gate passed — the night is committed: advance the clock (an
    // aborted night deliberately leaves it untouched, so the due deep
    // audit re-arms on the rerun)
    StoreAudit.writeAuditClock(spark, path, night,
      if (fullCardNight) night else lastDeepNight)
    out.withColumn("rebalanced", lit(needsRebalance))
  }

  /** Scrub + repair the prior edge list after takedowns, under the store's
    * CURRENT frozen model (callers reach here only on the generation-match
    * path, where that is also the model the graph was built under):
    *
    *   - edges FROM a tombstoned node drop (the node is gone);
    *   - edges TO a tombstoned node name the nodes that lost a neighbor —
    *     dropping the edge alone would leave those nodes with < k edges
    *     (the HNSW-style lazy-delete hole), so each affected node's full
    *     top-k is RE-SCORED against the servable corpus instead;
    *   - every other node's top-k is provably unchanged (it contained no
    *     tombstoned member, and removing non-members from the candidate
    *     pool cannot alter an exact top-k), so the repaired graph equals a
    *     from-scratch build on the servable corpus — the identity the
    *     nightly merge step requires (VectorReleaseSpec pins it).
    *
    * Cost: two broadcast anti/semi joins over the edge list plus one exact
    * cell-pruned scoring pass bounded by |affected| ≈ the takedown ids'
    * reverse-neighbor count — blast-radius-sized, never corpus-sized. */
  private def repairGraph(spark: SparkSession, path: String,
                          priorGraph: DataFrame, tomb: DataFrame,
                          oldServable: DataFrame, idCol: String,
                          embCol: String, p: Params,
                          metaOpt: Option[IndexStore.StoreMeta] = None)
      : DataFrame = {
    val affected = priorGraph
      .join(broadcast(tomb), col("dst_id") === col("__tomb_id"), "left_semi")
      .select(col("src_id")).distinct()
      .join(broadcast(tomb), col("src_id") === col("__tomb_id"), "left_anti")
      .localCheckpoint()
    val keep = priorGraph
      .join(broadcast(tomb), col("src_id") === col("__tomb_id"), "left_anti")
      .join(broadcast(tomb), col("dst_id") === col("__tomb_id"), "left_anti")
      .join(broadcast(affected), Seq("src_id"), "left_anti")
    val meta = metaOpt.getOrElse(IndexStore.readMeta(spark, path))
    val model = meta.model
    val rot = meta.rotation
    val n0 = oldServable
      .join(broadcast(affected), col(idCol).cast("long") === col("src_id"),
        "left_semi")
      .select(col(idCol).cast("long").as("q_id"),
        col(embCol).cast("array<double>").as("q_emb"))
    val c0 = oldServable.select(col(idCol).cast("long").as("cand_id"),
      col(embCol).cast("array<double>").as("cand_emb"))
    val repaired = Similarity.ivfExactGraphEdges(
      rot.fold(n0)(w => Similarity.householderRotate(n0, "q_emb", w)),
      rot.fold(c0)(w => Similarity.householderRotate(c0, "cand_emb", w)),
      model.centroids, p.nProbe, p.k)
    keep.select("src_id", "dst_id", "score", "rank")
      .unionByName(repaired.select("src_id", "dst_id", "score", "rank"))
  }

  /** Persist the rolled-forward edge list. The graph is rewritten whole —
    * unlike the code table, old sources' rows legitimately CHANGE when the
    * delta merges into their top-k, so release partitions are not immutable
    * here; the table is |V|·k edge rows (k small), orders of magnitude
    * below the raw corpus, and the write is idempotent by construction
    * (same frozen model + same releases → identical rows).
    * `localCheckpoint` pins the plan before overwrite so a graph that READS
    * the previous night's files can safely replace them (the
    * [[ReleaseBuild.rollForwardOnDisk]] reasoning). */
  def writeGraph(graph: DataFrame, graphPath: String): Unit =
    graph.localCheckpoint().write.mode("overwrite").parquet(graphPath)

  /** The persisted edge list, schema-normalized. */
  def readGraph(spark: SparkSession, graphPath: String): DataFrame =
    spark.read.parquet(graphPath)
      .select(col("src_id").cast("long").as("src_id"),
        col("dst_id").cast("long").as("dst_id"),
        col("score").cast("double").as("score"),
        col("rank").cast("long").as("rank"))

  /** Persist the model generation a just-written graph was built under —
    * the second half of the (graph, generation) pair [[maintain]]'s
    * staleness contract asks operators to record after every night. One
    * kilobyte one-row parquet next to the graph; overwrite is atomic
    * enough for the contract because a crash that loses this write only
    * leaves a STALE generation behind, and a stale generation can at worst
    * force the conservative branch (the from-scratch graph rebuild), never
    * an incorrect incremental merge. */
  def writeGeneration(spark: SparkSession, genPath: String, gen: Long): Unit = {
    import spark.implicits._
    Seq(gen).toDF("generation").coalesce(1)
      .write.mode("overwrite").parquet(genPath)
  }

  /** The persisted generation stamp (see [[writeGeneration]]). */
  def readGeneration(spark: SparkSession, genPath: String): Long = {
    spark.catalog.refreshByPath(genPath)
    spark.read.parquet(genPath).collect()(0).getLong(0)
  }
}
