package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Similarity
import graft.operators.Similarity.IvfPqModel

/** Persisted IVFADC index (Jégou et al. 2011 §IV) — the serving lifecycle
  * around [[Similarity.ivfPqTopK]]'s verified kernels: train and encode ONCE,
  * persist, then answer every query against the frozen index with ZERO
  * training jobs. The reference's serving tier works exactly this way — its
  * query workers read precomputed stores, never re-running the ETL that
  * built them (`despatch_ops_workers/<worker>/queries.py`); this store is that
  * contract for the ANN tier, on the [[SignatureStore]]/[[GramStore]] idiom.
  *
  * Layout under `path`:
  *   - `meta/centroids` — (cell int, cvec array<double>): kCoarse × dim,
  *     kilobytes.
  *   - `meta/codebooks` — (sub int, cluster int, cvec array<double>):
  *     m × ksub × dim/m, kilobytes.
  *   - `meta/rotation` — (i int, w double), OPTIONAL: the frozen OPQ-lite
  *     Householder direction for a store built with `opq = true`; absent =
  *     identity (a plain store). Every lifecycle step reflects through it.
  *   - `meta/_generation` — the monotone model generation ([[generation]]):
  *     quantizer-epoch stamp for derived-artifact staleness decisions.
  *   - `codes` — (cand_id long, codes array<int>), parquet PARTITIONED BY
  *     (cell, release): m small ints per vector at rest (the 100 TB side).
  *     Partitioning by `cell` means a query's probed cells map to directories
  *     — the scan never lists, let alone reads, unprobed cells' files;
  *     partitioning by `release` makes appends idempotent dynamic overwrites
  *     of exactly their own partitions (the S9/S10 contract).
  *   - `tombstones` — (cand_id long): the takedown list ([[delete]]).
  * The serve path reads these five tables with the schemas declared beside
  * their writers ([[CentroidsSchema]], [[CodebooksSchema]],
  * [[RotationSchema]], [[CodesSchema]], [[TombstoneSchema]]), so no serve
  * runs a schema-inference job; IndexStoreSpec checks every file a build,
  * append, delete and rebalance write against them.
  *
  * Lifecycle:
  *   - [[build]]: train quantizers on the seed corpus, encode it, persist
  *     everything (full overwrite — a build IS the index).
  *   - [[append]]: encode a NEW release against the FROZEN quantizers —
  *     map-only (centroid/codebook literals broadcast with the plan), prior
  *     releases' vectors never re-read — and dynamic-overwrite its own
  *     (cell, release) partitions. Re-running a failed append replaces, never
  *     duplicates. This composes the q124 (frozen-centroid cell assign) and
  *     q127 (frozen-codebook encode) halves into the store.
  *   - [[serve]]: load the metadata (a kilobyte driver read), probe, prune
  *     the code scan to the probed cells (a literal partition filter — the
  *     collected probe set is ≤ |queries| × nProbe cells), ADC-score, exact
  *     rerank. Work scales with the probed population, not the corpus.
  */
object IndexStore {

  /** Train on `df`, encode it, persist as a fresh index (full overwrite).
    *
    * `opq = true` additionally trains the OPQ-lite Householder rotation
    * ([[Similarity.opqDirection]], `opqIters` power iterations) on the seed
    * corpus, persists it as kilobyte metadata (`meta/rotation`), and
    * quantizes the ROTATED space: coarse cells, residual codebooks and
    * codes all live post-rotation, which balances sub-quantizer variance
    * (the q144 distortion win) — and every later lifecycle step
    * ([[append]], [[query]], [[decontaminate]], [[knnGraph]],
    * [[rebalance]]) reflects through the same frozen w automatically. The
    * reflection is an isometry, so the exact rerank's rotated dots equal
    * the original-space dots up to fp rounding; serving answers change only
    * where the better codebooks change the ADC shortlist. */
  def build(spark: SparkSession, path: String, df: DataFrame,
            idCol: String, embCol: String, dim: Int, kCoarse: Int,
            coarseIters: Int, m: Int, ksub: Int, iters: Int,
            release: String, opq: Boolean = false,
            opqIters: Int = 3): Unit = {
    val rot =
      if (opq) Similarity.opqDirection(df, idCol, embCol, dim, opqIters)
      else None
    val dfR = rotate(df, embCol, rot)
    val model = Similarity.ivfPqTrain(dfR, idCol, embCol, dim, kCoarse,
      coarseIters, m, ksub, iters)
    // a rebuild OVER an existing store is a new quantizer epoch exactly like
    // a rebalance — bump the generation so graphs derived from the previous
    // build read as stale (a fresh path starts at 0)
    val gen =
      if (fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/meta")))
        generation(spark, path) + 1
      else 0L
    writeModel(spark, s"$path/meta", model)
    writeGeneration(spark, s"$path/meta", gen)
    writeRotation(spark, s"$path/meta", rot)
    writeCodes(dfR, idCol, embCol, model, release, s"$path/codes",
      dynamic = false)
    // a build IS the store: stale sketches of a previous incarnation's
    // releases must not survive into the fresh one
    val sketchDir = new org.apache.hadoop.fs.Path(s"$path/$IdSketchDir")
    if (fsOf(spark, path).exists(sketchDir))
      require(fsOf(spark, path).delete(sketchDir, true),
        s"build failed to reset $sketchDir")
    writeIdSketch(spark, path, release,
      df.select(col(idCol).cast("long").as("cand_id")))
  }

  /** Apply the store rotation (if any) to `embCol`, values widened to
    * array<double> first so the reflection's IEEE sequence is identical
    * wherever it runs (build, append, query, rebalance — and the Python
    * oracle). Identity when the store has no rotation. */
  private def rotate(df: DataFrame, embCol: String,
                     w: Option[Array[Double]]): DataFrame = {
    val cast = df.withColumn(embCol, col(embCol).cast("array<double>"))
    w.fold(cast)(arr => Similarity.householderRotate(cast, embCol, arr))
  }

  /** The frozen OPQ rotation, or None for a plain (identity) store. */
  def readRotation(spark: SparkSession, path: String): Option[Array[Double]] = {
    val fs = fsOf(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/meta/rotation"))) None
    else Some(spark.read.schema(RotationSchema).parquet(s"$path/meta/rotation")
      .select(col("i").cast("int"), col("w").cast("double"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2))
  }

  /** The shape [[writeRotation]] writes and [[readRotation]] reads. */
  val RotationSchema: StructType = StructType.fromDDL("i INT, w DOUBLE")

  /** Persist (or clear) the rotation under `metaPath` — None must DELETE a
    * leftover file so a plain rebuild over an OPQ store cannot serve
    * through a stale reflection. */
  private def writeRotation(spark: SparkSession, metaPath: String,
                            w: Option[Array[Double]]): Unit = w match {
    case Some(arr) =>
      import spark.implicits._
      arr.zipWithIndex.map { case (x, i) => (i, x) }.toSeq.toDF("i", "w")
        .coalesce(1).write.mode("overwrite").parquet(s"$metaPath/rotation")
    case None =>
      val fs = fsOf(spark, metaPath)
      val p = new org.apache.hadoop.fs.Path(s"$metaPath/rotation")
      if (fs.exists(p)) require(fs.delete(p, true), s"failed to delete $p")
  }

  /** The store's monotone MODEL GENERATION: 0 at first [[build]], bumped by
    * every committed [[rebalance]] (and by a rebuild over an existing
    * store). Derived artifacts whose shape depends on the quantizer's cell
    * geometry — above all the mutual-kNN graph — record the generation they
    * were built under; a mismatch tells [[VectorRelease.maintain]] the
    * artifact is stale and must be rebuilt rather than incrementally merged.
    * This makes staleness a property of PERSISTED state, so a night that
    * crashes between rebalance-commit and the downstream steps converges on
    * rerun (the in-flight "I just rebalanced" flag does not survive a crash;
    * the generation does). Absent marker (pre-generation store) reads 0. */
  def generation(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/meta/$GenFile")
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private val GenFile = "_generation"

  /** `metaPath` is the meta directory (or its `.next` staging copy). */
  private def writeGeneration(spark: SparkSession, metaPath: String,
                              gen: Long): Unit = {
    val fs = fsOf(spark, metaPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$metaPath/$GenFile"), true)
    try out.write(gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** JVM-memoized [[build]] for READ-ONLY serving queries: the build is
    * fully deterministic in (corpus, params), so queries that only SERVE
    * from the same frozen index (q146/q156/q170/q175/q178/q182) share one
    * on-disk store per (tag, params) instead of each re-training it —
    * the production lifecycle (build once, serve many) instead of the
    * self-contained-harness artifact of ~8 s of quantizer re-training per
    * query. `tag` must uniquely name the corpus (the sf dir + the filter
    * applied); callers MUST NOT mutate the returned store — mutating
    * queries (append/rebalance/vacuum roll-forwards) build their own
    * private copies. Returns the store path. */
  def sharedBuild(spark: SparkSession, tag: String, df: => DataFrame,
                  idCol: String, embCol: String, dim: Int, kCoarse: Int,
                  coarseIters: Int, m: Int, ksub: Int, iters: Int,
                  release: String, opq: Boolean = false,
                  opqIters: Int = 3): String =
    sharedBuilds.computeIfAbsent(
      s"$tag|$idCol|$embCol|$dim|$kCoarse|$coarseIters|$m|$ksub|$iters|" +
        s"$release|$opq|$opqIters",
      _ => {
        val path = graft.LocalSession.tempDir("graft-shared-index").toString
        build(spark, path, df, idCol, embCol, dim, kCoarse, coarseIters,
          m, ksub, iters, release, opq, opqIters)
        path
      })

  private val sharedBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The driver-resident metadata one serving/maintenance call needs —
    * frozen quantizers + optional OPQ rotation — read ONCE per call and
    * passed down ([[VectorRelease.maintain]]/[[VectorRelease.rollForward]])
    * instead of each sub-step re-reading the meta parquet: the night's
    * model is frozen for its whole duration (any rebalance happens before
    * the read), so the repeated reads were pure per-step job overhead —
    * and at scale, repeated driver round-trips to storage. */
  final case class StoreMeta(model: IvfPqModel, rotation: Option[Array[Double]])

  def readMeta(spark: SparkSession, path: String): StoreMeta =
    StoreMeta(readModel(spark, path), readRotation(spark, path))

  /** Encode a new release against the frozen quantizers and append it —
    * map-only over the new slice (through the frozen rotation, if the
    * store has one), idempotent per release. Writes the release's id
    * sketch alongside ([[readIdSketches]]) so the nightly delta-newness
    * audit can clear prior releases without scanning them. */
  def append(spark: SparkSession, path: String, newVecs: DataFrame,
             idCol: String, embCol: String, release: String): Unit =
    appendWith(spark, path, newVecs, idCol, embCol, release, None)

  /** [[append]] with an optionally preloaded [[StoreMeta]] (read lazily:
    * the empty-release branch never needs it). */
  private[pipeline] def appendWith(spark: SparkSession, path: String,
                                   newVecs: DataFrame, idCol: String,
                                   embCol: String, release: String,
                                   meta: Option[StoreMeta]): Unit =
    if (newVecs.isEmpty)
      // the empty-release contract every release-partitioned store here
      // carries (SignatureStore/GramStore.append): a dynamic overwrite of
      // zero rows replaces nothing, so a rerun whose delta emptied (e.g.
      // a takedown scrubbed the whole night) must drop the partial
      // append's ghost partitions — code table AND rerank tier — itself
      vacuum(spark, path, name => name != release)
    else {
      val m = meta.getOrElse(readMeta(spark, path))
      writeCodes(rotate(newVecs, embCol, m.rotation),
        idCol, embCol, m.model, release, s"$path/codes", dynamic = true)
      writeIdSketch(spark, path, release,
        newVecs.select(col(idCol).cast("long").as("cand_id")))
    }

  /** Per-release kilobyte ID SKETCHES — the
    * [[ReleasePartitions.writeSketch]] sidecar of each release partition's
    * stored `cand_id`s, persisted beside the quantizer metadata. They exist
    * for ONE caller: the nightly delta-newness audit
    * ([[VectorRelease.maintain]] step b), which must prove the night's
    * delta ids are new to the store without scanning every prior release's
    * id column — the last per-night cost that grows with the RESIDENT
    * STORE rather than the delta.
    *
    * Maintenance invariant (the correctness condition): a release's sketch
    * is always a SUPERSET of its stored ids. Every path that ADDS ids to a
    * partition rebuilds its sketch ([[build]], [[append]],
    * [[repairRelease]] via append); paths that only REMOVE rows
    * ([[purge]], a tombstone-scrubbing [[rebalance]]) may leave the sketch
    * stale-wide, which costs at most a spurious fallback scan, never a
    * missed duplicate. A release with NO sketch (a store predating them)
    * is conservatively treated as a hit. */
  private val IdSketchDir = "meta/idsketch"

  private def writeIdSketch(spark: SparkSession, path: String,
                            release: String, ids: DataFrame): Unit =
    ReleasePartitions.writeSketch(spark, s"$path/$IdSketchDir", release, ids)

  def readIdSketches(spark: SparkSession, path: String): Map[String, Array[Byte]] =
    ReleasePartitions.readSketches(spark, s"$path/$IdSketchDir")

  /** The prior releases that MIGHT share an id with `deltaIds`
    * ([[ReleasePartitions.sketchHitReleases]]) — the sketch consult that
    * makes a clean night's dup audit O(delta). */
  def sketchHitReleases(spark: SparkSession, path: String,
                        deltaIds: DataFrame, exclude: String): Seq[String] =
    ReleasePartitions.sketchHitReleases(spark, s"$path/$IdSketchDir",
      listCodeReleases(spark, path).filterNot(_ == exclude), deltaIds)

  /** The index store's AUDIT CLOCK ([[StoreAudit.readAuditClock]]) lives
    * at the store ROOT — NOT under `meta/`, which a rebalance swap
    * replaces wholesale; the clock must survive the swap. */
  def readAuditClock(spark: SparkSession, path: String): (Long, Long) =
    StoreAudit.readAuditClock(spark, path)

  /** Distinct release names present in the code table, from the partition
    * directory listing (no file reads — the [[vacuum]] walk). */
  private def listCodeReleases(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/codes")
    val fs = fsOf(spark, path)
    if (!fs.exists(root)) Seq.empty
    else (for {
      cell <- fs.listStatus(root).toSeq
      if cell.isDirectory && cell.getPath.getName.startsWith("cell=")
      rel <- fs.listStatus(cell.getPath).toSeq
      if rel.isDirectory && rel.getPath.getName.startsWith("release=")
    } yield rel.getPath.getName.stripPrefix("release=")).distinct
  }

  /** Where a [[serve]]'s exact rerank reads full vectors from. */
  sealed trait Rerank

  /** An external raw corpus (cand_id long, cand_emb array<double>). Only
    * |queries| × shortlist ids are read from it, via broadcast joins; an
    * OPQ store reflects it through the frozen rotation (an isometry, so the
    * rotated dots equal the original-space dots up to fp rounding). */
  final case class Raw(fullVecs: DataFrame) extends Rerank

  /** The store's own int8 tier ([[buildRerank]]), dequantized and pruned to
    * the probed cells — no raw-corpus access at all. */
  case object Int8 extends Rerank

  /** One serve request against the frozen index: the rerank side, plus two
    * optional restrictions of the pruned code scan — a keep-set of
    * candidate ids (`cand_id`) and a set of release tags. */
  final case class ServeSpec(rerank: Rerank,
                             keep: Option[DataFrame] = None,
                             releases: Option[Seq[String]] = None)

  /** The serve kernel of the frozen index — every serving read runs
    * through it: no training, no encoding — metadata load (or the caller's
    * `meta`), probe, cell-pruned ADC, exact rerank. `queries` is (q_id
    * long, q_emb array<double>). Identical answers to
    * [[Similarity.ivfPqTopK]] on the same corpus by construction — both
    * run [[Similarity.ivfPqServe]] on the same encode output.
    *
    * Pruning: the probed-cell set is ≤ |queries| × nProbe ints, collected
    * and applied as a LITERAL partition filter on the servable code scan
    * (tombstones already excluded), so only the probed cells' directories
    * are read — static pruning, no reliance on runtime DPP; IndexStoreSpec
    * pins the PartitionFilters in the plan.
    *
    * `keep` is FILTERED serving (serve within a source, a licence class,
    * not-in-a-blocklist …): a broadcast left-semi join on the pruned scan,
    * BEFORE the ADC shortlist — pre-filtering, not post-filtering. Dropping
    * excluded candidates after the shortlist would waste shortlist slots on
    * them and can starve the final top-k when the filter is selective;
    * with the filter first the answer is exactly the unfiltered chain run
    * on the eligible sub-corpus under the same frozen quantizer (cells are
    * probed by query geometry, unchanged by the filter). The keep-set is
    * distinct-projected and broadcast — right for id-bounded filters; one
    * too large to broadcast belongs in the layout as a partition column of
    * the code table (release already works this way) — prune, don't join.
    *
    * `releases` is AS-OF serving, the time-travel read the (cell, release)
    * layout makes free: a second static partition filter beside the cell
    * one, so serving "what release N saw" reads exactly those releases'
    * partitions of the probed cells. As-of selects the RESIDENT SET under
    * the store's CURRENT frozen quantizer: appends never retrain, so before
    * any rebalance the answer is bit-identical to what the store served
    * when `releases` was its whole population (spec-pinned); after a
    * rebalance the healed model re-encoded every release with provenance
    * kept, so as-of reads the old residents through the healed cells — the
    * only sound choice, since the swapped-out quantizer epoch is vacuumed.
    *
    * `Int8` reranks against the int8 tier, both scans partition-pruned to
    * the probed cells. Dequantization is the q184 audit's exact IEEE
    * spelling, so the recall delta against a `Raw` rerank is exactly what
    * q184 bounds. Decontamination is [[Similarity.dropListFromMatches]]
    * over this kernel with `k = shortlist` (see [[decontaminate]]). */
  def serve(spark: SparkSession, path: String, queries: DataFrame,
            spec: ServeSpec, nProbe: Int, k: Int, shortlist: Int,
            meta: Option[StoreMeta] = None): DataFrame = {
    spec.releases.foreach(r =>
      require(r.nonEmpty, "an as-of serve needs at least one release tag"))
    val m = meta.getOrElse(readMeta(spark, path))
    val q = rotate(queries, "q_emb", m.rotation)
    val probedCells = Similarity.ivfPqProbe(q, m.model, nProbe)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val inCells = col("cell").isin(probedCells.map(Int.box): _*)
    val scan = servableCodes(spark, path).where(spec.releases.fold(inCells)(
      r => inCells && col("release").isin(r: _*)))
    val enc = spec.keep.fold(scan)(ids => scan.join(broadcast(ids
        .select(col("cand_id").cast("long").as("cand_id")).distinct()),
      Seq("cand_id"), "left_semi"))
    val cands = spec.rerank match {
      case Raw(fullVecs) => rotate(fullVecs, "cand_emb", m.rotation)
      case Int8 => rerankVecs(spark, path, probedCells)
    }
    Similarity.ivfPqServe(q, enc, cands, m.model, nProbe, k, shortlist)
  }

  /** [[serve]] with a raw-corpus rerank. */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            fullVecs: DataFrame, nProbe: Int, k: Int,
            shortlist: Int): DataFrame =
    serve(spark, path, queries, ServeSpec(Raw(fullVecs)), nProbe, k, shortlist)

  /** [[serve]] with a raw-corpus rerank and a keep-set of candidate ids. */
  def queryFiltered(spark: SparkSession, path: String, queries: DataFrame,
                    fullVecs: DataFrame, keepIds: DataFrame, nProbe: Int,
                    k: Int, shortlist: Int): DataFrame =
    serve(spark, path, queries, ServeSpec(Raw(fullVecs), keep = Some(keepIds)),
      nProbe, k, shortlist)

  /** Build the INT8 RERANK TIER: the store's own at-rest copy of the
    * resident vectors, scalar-quantized per dimension (q82's 4× compression)
    * and partitioned by the SAME (cell, release) layout as the ADC codes —
    * so an [[Int8]] [[serve]]'s exact rerank reads only the probed cells'
    * directories, from a table 4× smaller than the raw float64 corpus.
    *
    * At 100 TB this is the biggest remaining constant factor on the serve
    * path: the ADC codes are tiny (m bytes/vector) but the rerank
    * traditionally goes back to the raw-vector store — 8 bytes × dim per
    * candidate of scan budget. The int8 tier caps that at 1 byte × dim AND
    * removes the external dependency: the store answers entirely from
    * itself. Recall cost is bounded by the q184 audit (dequantized top-k vs
    * float truth); q188 serves through this tier under that audit.
    *
    * For an OPQ store the quantization lives in the ROTATED space (the
    * space the rerank dots are computed in), so an [[Int8]] serve never
    * re-rotates candidates. Layout under `path/rerank`:
    *   - `stats` — (i int, lo double, hi double): per-dim range, kilobytes.
    *   - `codes` — (cand_id long, q8 array<int>) PARTITIONED BY
    *     (cell, release), mirroring the ADC code layout.
    * Covers exactly the store's residents (the codes table drives the cell
    * lookup); rebuild after appends/rebalances, like any derived tier. */
  def buildRerank(spark: SparkSession, path: String,
                  fullVecs: DataFrame): Unit = {
    val fv = rotate(fullVecs, "cand_emb", readRotation(spark, path))
    val ex = fv.select(col("cand_id"),
      posexplode(col("cand_emb")).as(Seq("i", "v")))
    // stamp the tier with the model generation it was built under: the
    // tier's (cell, q8) rows are derived model state, and a serve against
    // a tier from another generation would partition-prune on stale cell
    // keys — [[rerankVecs]] refuses the mismatch loudly (the crash window
    // between a rebalance's swap-commit and its tier rebuild)
    val stats = ex.groupBy("i").agg(min("v").as("lo"), max("v").as("hi"))
      .withColumn("gen", lit(generation(spark, path)))
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/rerank/stats")
    writeRerankCodes(spark, path, ex, stats, dynamic = false)
  }

  /** The model generation the rerank tier was last (re)built under — None
    * for a tier persisted before generation stamping existed. */
  def rerankGeneration(spark: SparkSession, path: String): Option[Long] = {
    val s = readRawRerankStats(spark, path)
    if (s.columns.contains("gen")) Some(s.select("gen").head().getLong(0))
    else None
  }

  /** True when the store carries the int8 rerank tier. */
  def hasRerank(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/rerank/stats")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The int8 tier's code rows — (cand_id, cell, release, q8), an empty
    * typed frame when the store has no tier. The audit surface for q207's
    * code↔int8 ROW-PARITY invariant ([[StoreAudit.card]] with the code
    * table as the release-sliced universe): a purge or append that
    * touched one tier but not the other shows as orphan/missing rows. */
  def readRerankCodes(spark: SparkSession, path: String): DataFrame = {
    val p = s"$path/rerank/codes"
    val fs = fsOf(spark, path)
    // emptiness is decided by LISTING (the readTombstones fail-closed
    // idiom): a vacuum that dropped every release leaves empty cell dirs
    // with no footers to infer a schema from — that is a legitimate empty
    // tier; an unreadable file in a non-empty tree still fails loudly
    def hasDataFiles: Boolean = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
    if (!fs.exists(new org.apache.hadoop.fs.Path(p)) || !hasDataFiles)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cand_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("release",
            org.apache.spark.sql.types.StringType))))
    else {
      spark.catalog.refreshByPath(p)
      spark.read.parquet(p)
        .select(col("cand_id").cast("long").as("cand_id"),
          col("cell").cast("int").as("cell"),
          col("release").cast("string").as("release"))
    }
  }

  /** The rerank tier's per-dim quantization range — kilobytes; FROZEN at
    * [[buildRerank]] time exactly like the centroids and codebooks (a
    * rebalance-triggered rebuild retrains it, an append does not). */
  def readRerankStats(spark: SparkSession, path: String): DataFrame =
    readRawRerankStats(spark, path)
      .select(col("i").cast("int").as("i"), col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"))

  private def readRawRerankStats(spark: SparkSession,
                                 path: String): DataFrame = {
    spark.catalog.refreshByPath(s"$path/rerank/stats")
    spark.read.parquet(s"$path/rerank/stats")
  }

  /** The tier's frozen per-dim ranges (i, lo, hi), sorted by i, from ONE
    * parquet read that also carries the tier's generation stamp: a tier
    * stamped under another model generation than the store's is refused
    * with `refusal(tierGen, storeGen)`. An unstamped tier passes. */
  private def frozenRerankStats(spark: SparkSession, path: String,
                                refusal: (Long, Long) => String)
      : Array[(Int, Double, Double)] = {
    val raw = readRawRerankStats(spark, path)
    val gen = if (raw.columns.contains("gen")) col("gen").cast("long")
      else lit(null).cast("long")
    val rows = raw.select(col("i").cast("int"), col("lo").cast("double"),
      col("hi").cast("double"), gen).collect()
    rows.headOption.filterNot(_.isNullAt(3)).map(_.getLong(3)).foreach { g =>
      val cur = generation(spark, path)
      require(g == cur, refusal(g, cur))
    }
    rows.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
  }

  /** Roll the int8 rerank tier FORWARD with a nightly append: the new
    * release's vectors quantize under the store's FROZEN stats (the stats
    * are model state, like the codebooks — retrained only by a rebalance's
    * rebuild) and dynamic-overwrite exactly their own (cell, release)
    * partitions, so reruns converge and prior releases are never re-read.
    * A delta value outside the frozen [lo, hi] clamps to the range edge —
    * the standard frozen-quantizer saturation, bounded like everything on
    * this path by the q184 recall audit. Call AFTER [[append]] (the cell
    * lookup reads the release's just-written codes);
    * [[graft.pipeline.VectorRelease.maintain]] does both. */
  def appendRerank(spark: SparkSession, path: String, newVecs: DataFrame,
                   release: String): Unit =
    appendRerankWith(spark, path, newVecs, release, None)

  /** [[appendRerank]] with an optionally preloaded frozen rotation. */
  private[pipeline] def appendRerankWith(spark: SparkSession, path: String,
                                         newVecs: DataFrame, release: String,
                                         rot: Option[Option[Array[Double]]])
      : Unit = {
    // same epoch guard as the serve path: appending under another
    // generation's frozen stats would quantize with dead ranges and mix
    // quantizer epochs in one tier — rebuild first (see [[rerankVecs]])
    val stats = frozenRerankStats(spark, path, (g, cur) =>
      s"int8 rerank tier is stamped with model generation $g but the " +
        s"store is at generation $cur — rebuild it before appending")
    val fv = rotate(newVecs, "cand_emb",
      rot.getOrElse(readRotation(spark, path)))
    val ex = fv.select(col("cand_id"),
      posexplode(col("cand_emb")).as(Seq("i", "v")))
    import spark.implicits._
    writeRerankCodes(spark, path, ex, stats.toSeq.toDF("i", "lo", "hi"),
      dynamic = true, codesFilter = col("release") === release)
  }

  /** Shared quantize-and-write tail of [[buildRerank]]/[[appendRerank]]:
    * identical IEEE spelling to Similarity.quantizeInt8 / the q184 audit,
    * plus range clamping (a no-op when `stats` derive from `ex` itself, so
    * a full build is unchanged by it; only a frozen-stats append can
    * saturate). */
  private def writeRerankCodes(spark: SparkSession, path: String,
                               ex: DataFrame, stats: DataFrame,
                               dynamic: Boolean,
                               codesFilter: Column = lit(true)): Unit = {
    val q8 = ex.join(broadcast(stats), Seq("i"))
      .withColumn("q", when(col("hi") === col("lo"), 0L)
        .otherwise(least(lit(255L), greatest(lit(0L),
          round((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / 255d)).cast("long")))))
      .groupBy(col("cand_id"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("q")))),
        x => x.getField("q")).cast("array<int>").as("q8"))
    val out = q8.join(readCodes(spark, path).where(codesFilter)
        .select("cand_id", "cell", "release"), Seq("cand_id"))
      .repartition(col("cell"), pmod(xxhash64(col("cand_id")),
        lit(EavStore.FilesPerPartition)))
      .write.mode("overwrite")
    (if (dynamic) out.option("partitionOverwriteMode", "dynamic") else out)
      .partitionBy("cell", "release")
      .parquet(s"$path/rerank/codes")
  }

  /** JVM-memoized [[buildRerank]] for read-only serving queries sharing a
    * [[sharedBuild]] store: the tier is deterministic in (store, residents)
    * and purely ADDITIVE (nothing else reads `rerank/`), so one build per
    * store path serves every int8 query. */
  def sharedRerank(spark: SparkSession, path: String,
                   fullVecs: => DataFrame): String =
    sharedReranks.computeIfAbsent(path, _ => {
      buildRerank(spark, path, fullVecs); path
    })

  private val sharedReranks =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The rerank tier's candidates for the probed cells, DEQUANTIZED to the
    * q184 audit's exact IEEE spelling (lo + q·(hi−lo)/255, per-dim [lo, hi]
    * as kilobyte driver literals) — the [[Int8]] rerank side of [[serve]].
    * Partition-pruned to `probedCells`; for an OPQ store the values are
    * already rotated (the space every serve-side dot is computed in). */
  private def rerankVecs(spark: SparkSession, path: String,
                         probedCells: Array[Int]): DataFrame = {
    // refuse a tier from another model generation: its (cell, release)
    // partitions are keyed by a different coarse layout, so the pruned
    // scan below would silently drop shortlisted candidates. This window
    // exists only when a rebalance committed its swap and crashed before
    // the tier rebuild — VectorRelease.maintain heals it on rerun.
    val stats = frozenRerankStats(spark, path, (g, cur) =>
      s"int8 rerank tier was built under model generation $g but the " +
        s"store is at generation $cur — rebuild it (IndexStore." +
        "buildRerank on the residents, or rerun VectorRelease.maintain)")
    // single array literals (codegen references): every store's dequantize
    // plan shares one compiled stage (the Similarity.litVec reasoning)
    val loArr = Similarity.litVec(stats.map(_._2))
    val hiArr = Similarity.litVec(stats.map(_._3))
    // an appendRerank may have dynamically grown this table since a prior
    // read in this session — drop any cached file listing first
    spark.catalog.refreshByPath(s"$path/rerank/codes")
    spark.read.parquet(s"$path/rerank/codes")
      .where(col("cell").cast("int").isin(probedCells.map(Int.box): _*))
      .select(col("cand_id").cast("long").as("cand_id"),
        transform(col("q8"), (v, i) => {
          val lo = element_at(loArr, i + 1)
          val hi = element_at(hiArr, i + 1)
          lo + v.cast("double") * ((hi - lo) / lit(255.0))
        }).as("cand_emb"))
  }

  /** Eval-set decontamination served FROM the frozen index — the 100 TB
    * shape of q152: the corpus is never scanned; each eval vector probes its
    * `nProbe` cells, ADC-scores only their persisted codes (partition-pruned
    * scan), exact-reranks its top-`shortlist`, and every candidate at/above
    * `threshold` joins the drop list with its best eval match. Shortlist-
    * bounded by construction: a contaminated vector outside ALL of its eval
    * matches' ADC top-`shortlist` is missed — size `shortlist` to the
    * expected per-eval contamination count (the standard recall/cost dial
    * every ADC serving path has). Zero training jobs; work scales with the
    * probed population, exactly like [[serve]]. */
  def decontaminate(spark: SparkSession, path: String, evals: DataFrame,
                    fullVecs: DataFrame, nProbe: Int, shortlist: Int,
                    threshold: Double): DataFrame =
    Similarity.dropListFromMatches(serve(spark, path, evals,
      ServeSpec(Raw(fullVecs)), nProbe, k = shortlist, shortlist = shortlist),
      threshold)

  /** Mutual-kNN graph served FROM the frozen index — the 100 TB shape of
    * the graph build: every encoded vector probes its cells, ADC-scores
    * only resident codes, exact-reranks its shortlist, and edges carry the
    * in-list rank plus the reciprocity flag. Unlike [[query]], the query
    * side IS the corpus: no literal cell-pruning win exists (every cell is
    * probed by someone) and nothing query-sided may broadcast — the ADC
    * pass is the plain cell-keyed equi-join of
    * [[graft.operators.Similarity.ivfPqGraphEdges]]. Zero training jobs;
    * work = Σ_cell probing-nodes × resident codes, the graph's inherent
    * cost under the frozen quantizer.
    *
    * On executor loss: the edge list is localCheckpointed eagerly, so its
    * blocks live only in executor storage and have no lineage. A lost block
    * fails the action that reads the returned frame; nothing is written
    * here, so the store is untouched — re-run the call. */
  def knnGraph(spark: SparkSession, path: String, nodes: DataFrame,
               fullVecs: DataFrame, nProbe: Int, k: Int,
               shortlist: Int): DataFrame = {
    val model = readModel(spark, path)
    val rot = readRotation(spark, path)
    // the mutual flag self-joins the edge list — pin it once so the ADC
    // scoring tree runs once, not twice (|V|·k rows, recomputed per call)
    val edges = Similarity.ivfPqGraphEdges(rotate(nodes, "q_emb", rot),
      servableCodes(spark, path),
      rotate(fullVecs, "cand_emb", rot), model, nProbe, k, shortlist)
      .localCheckpoint()
    val rev = edges.select(col("dst_id").as("src_id"),
      col("src_id").as("dst_id"), lit(1).as("__m"))
    edges.join(rev, Seq("src_id", "dst_id"), "left")
      .select(col("src_id"), col("dst_id"), col("score"), col("rank"),
        col("__m").isNotNull.as("mutual"))
  }

  /** One-row health VERDICT over the frozen store — the decision layer
    * between the q178 detector and the q181 fix: populated-cell count,
    * empty cells (vs the quantizer's kCoarse), extreme shares, and the
    * `needs_rebalance` flag (any empty cell, or a monster cell above
    * `maxShareMilli`). One cell-keyed count reduced to one row; the
    * policy is pure arithmetic on it. */
  def healthVerdict(spark: SparkSession, path: String, kCoarse: Int,
                    maxShareMilli: Long): DataFrame = {
    val codes = readCodes(spark, path)
    val tot = codes.agg(count(lit(1)).as("n_total"))
    codes.groupBy(col("cell")).agg(count(lit(1)).as("n_codes"))
      .crossJoin(broadcast(tot))
      .select(col("cell"), expr("div(n_codes * 1000, n_total)").as("share"))
      .agg(count(lit(1)).as("n_cells_populated"),
        max(col("share")).as("max_share_milli"),
        min(col("share")).as("min_share_milli"))
      // a COMPLETELY empty codes table is the most degenerate store of all:
      // the zero-row aggregates would yield null shares and a null flag —
      // coalesce to 0-shares and needs_rebalance = true so the empty store
      // trips the policy instead of NPE-ing downstream getBoolean reads
      .select(col("n_cells_populated"),
        (lit(kCoarse.toLong) - col("n_cells_populated")).as("n_empty_cells"),
        coalesce(col("max_share_milli"), lit(0L)).as("max_share_milli"),
        coalesce(col("min_share_milli"), lit(0L)).as("min_share_milli"),
        coalesce(col("max_share_milli") > maxShareMilli ||
          col("n_cells_populated") < kCoarse, lit(true)).as("needs_rebalance"))
  }

  /** Recall audit GRID over the frozen index: for every (nProbe, shortlist)
    * combo, the served top-`k` measured against the brute-force truth,
    * micro-averaged to one integer milli recall per combo (total hits /
    * total truth edges — deterministic, no per-query float averaging).
    * The q175 audit widened to the full dial surface. One serve pass per
    * combo — an audit is an offline sweep; each pass is the verified
    * cell-pruned [[query]] path. Output: (n_probe, shortlist, n_true,
    * n_hits, recall_milli), |grid| rows. */
  def recallAudit(spark: SparkSession, path: String, queries: DataFrame,
                  fullVecs: DataFrame, k: Int,
                  grid: Seq[(Int, Int)]): DataFrame = {
    require(grid.nonEmpty, "grid must be non-empty")
    val truth = Similarity.bruteForceTopK(queries, fullVecs, k)
      .select(col("q_id"), col("cand_id"))
    grid.map { case (p, s) =>
      val served = query(spark, path, queries, fullVecs, p, k, s)
        .select(col("q_id"), col("cand_id"), lit(1L).as("__hit"))
      truth.join(served, Seq("q_id", "cand_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .select(lit(p.toLong).as("n_probe"), lit(s.toLong).as("shortlist"),
          col("n_true"), col("n_hits"),
          expr("div(n_hits * 1000, n_true)").as("recall_milli"))
    }.reduce(_ unionByName _)
  }

  /** Close the loop between the recall audit and the serve path: for each
    * recall floor, the CHEAPEST audited dial meeting it — cost order
    * (n_probe asc, shortlist asc): the probed population dominates serve
    * cost, the shortlist only sizes the rerank. A floor no combo meets
    * falls back to the best-recall combo (cheapest among ties), flagged
    * `met = false` so the operator sees the floor is unreachable on this
    * grid. The audit frame is |grid| rows — kilobyte driver state, the
    * k-means-centroid idiom — so the argmin runs on the driver and the
    * result returns as literals. Output: (floor_milli, n_probe, shortlist,
    * recall_milli, met). */
  def recallDial(spark: SparkSession, path: String, queries: DataFrame,
                 fullVecs: DataFrame, k: Int, grid: Seq[(Int, Int)],
                 floors: Seq[Int]): DataFrame = {
    require(floors.nonEmpty, "floors must be non-empty")
    val audit = recallAudit(spark, path, queries, fullVecs, k, grid)
      .select("n_probe", "shortlist", "recall_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chosen = floors.map { f =>
      val meeting = audit.filter(_._3 >= f)
      if (meeting.nonEmpty) {
        val (p, s, rec) = meeting.minBy { case (p, s, _) => (p, s) }
        (f.toLong, p, s, rec, true)
      } else {
        val (p, s, rec) = audit.minBy { case (p, s, rec) => (-rec, p, s) }
        (f.toLong, p, s, rec, false)
      }
    }
    import spark.implicits._
    chosen.toDF("floor_milli", "n_probe", "shortlist", "recall_milli", "met")
  }

  /** TOMBSTONE a set of resident ids — the takedown / right-to-be-forgotten
    * verb of the store lifecycle. A delete is a METADATA write: the ids join
    * the persisted tombstone list (`path/tombstones`, id-only parquet) and
    * every serving read (the [[serve]] kernel — every [[ServeSpec]], and
    * [[query]], [[queryFiltered]] and [[decontaminate]] over it — and
    * [[knnGraph]]) excludes them from the pruned code
    * scan BEFORE the ADC shortlist — so k still fills from eligible
    * candidates and no tombstoned id can appear in any answer, at the cost
    * of one broadcast anti-join. Physical reclamation is deferred to
    * [[purge]] (or the next [[rebalance]], which re-encodes only servable
    * residents and clears the list).
    *
    * Semantics are blocklist-by-id: a tombstoned id stays excluded even if
    * a later [[append]] re-ingests it under a new release — the desired
    * takedown behavior (the block outlives re-ingestion) — until a [[purge]]
    * physically removes its rows AND clears the list. Tombstones live at
    * the store top level, NOT under `meta/`, so a rebalance's meta swap
    * cannot drop them. Idempotent: re-deleting an id (or deleting an id
    * that was never resident) is harmless. Returns the total tombstoned ids
    * after the write.
    *
    * Scale shape: the list is takedown-request-sized (it broadcasts on the
    * serve path), not corpus-sized — a list that outgrows broadcast should
    * be purged, which resets it to empty.
    *
    * Concurrency: the write is an APPEND of one new id file, never a
    * read-modify-overwrite of the list — a concurrent serving read (the
    * [[graft.streaming.StreamEntry.deleteIds]] contract runs takedown
    * deletes alongside serving) always sees a complete committed set of
    * files, at worst missing the newest append; it can never observe an
    * empty or partially-replaced directory. Duplicate ids across appends
    * (re-deletes) are absorbed by [[readTombstones]]' distinct.
    *
    * Returns THIS BATCH's distinct id count — deliberately not the total
    * list size, which would re-scan the whole takedown history per call
    * (the streaming [[graft.streaming.StreamEntry.deleteIds]] path deletes
    * every micro-batch; its per-trigger work must stay batch-bounded).
    * Callers that need the total read [[readTombstones]] explicitly. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Long = {
    val add = ids
      .select(col(ids.columns.head).cast("long").as("cand_id")).distinct()
      .localCheckpoint()
    add.coalesce(1).write.mode("append").parquet(s"$path/$TombDir")
    spark.catalog.refreshByPath(s"$path/$TombDir")
    add.count()
  }

  private val TombDir = "tombstones"

  /** The shape [[delete]] and [[clearTombstones]] write and the tombstone
    * reads read. */
  val TombstoneSchema: StructType = StructType.fromDDL("cand_id BIGINT")

  /** The persisted tombstone list — (cand_id long, distinct), None when the
    * store has never had a delete (or the last [[purge]]/[[rebalance]]
    * cleared it). A directory left EMPTY by a clear (id files subtracted,
    * none re-appended) reads as None too — decided by LISTING the
    * directory (no non-underscore files), never by swallowing a read
    * error: a list that HAS id files but cannot be read must fail LOUDLY,
    * because every serving read falls back to the full code table when
    * this returns None — a swallowed corruption would silently un-block
    * every taken-down id, the unsafe direction for the
    * right-to-be-forgotten path (TombstoneRaceSpec pins both cases). */
  def readTombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = fsOf(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/$TombDir")
    if (!fs.exists(dir)) None
    else if (fs.listStatus(dir)
        .forall(st => !st.isFile || st.getPath.getName.startsWith("_"))) None
    else {
      spark.catalog.refreshByPath(s"$path/$TombDir")
      Some(spark.read.schema(TombstoneSchema).parquet(s"$path/$TombDir")
        .select(col("cand_id").cast("long").as("cand_id")).distinct())
    }
  }

  /** Subtract a PINNED purged-id snapshot from the persisted tombstone
    * list WITHOUT un-blocking ids that raced in after the snapshot was
    * taken — [[graft.streaming.StreamEntry.deleteIds]] runs takedown
    * deletes concurrently with nightly maintenance, so a plain
    * directory delete at the end of [[purge]]/[[rebalance]] would
    * silently drop (and never physically remove) any id tombstoned
    * mid-job: a lost takedown. The rewrite is MONOTONE for concurrent
    * readers: the surviving ids are appended as a new file first, and
    * only the id files that existed at the snapshot listing are then
    * deleted — at every instant a reader sees a superset of the
    * surviving list (transient re-exclusion of just-purged ids is the
    * safe direction; under-exclusion never happens). A crash between
    * the append and the per-file deletes leaves duplicates, which
    * [[readTombstones]]' distinct absorbs and the next clear removes. */
  private[pipeline] def clearTombstones(spark: SparkSession, path: String,
                                        purged: DataFrame): Unit = {
    val fs = fsOf(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/$TombDir")
    if (!fs.exists(dir)) return
    val oldFiles = fs.listStatus(dir).filter(_.isFile)
      .map(_.getPath).filterNot(_.getName.startsWith("_"))
    if (oldFiles.isEmpty) return
    val survivors = spark.read.schema(TombstoneSchema)
      .parquet(oldFiles.map(_.toString): _*)
      .select(col("cand_id").cast("long").as("cand_id")).distinct()
      .join(broadcast(purged
          .select(col("cand_id").cast("long").as("cand_id"))),
        Seq("cand_id"), "left_anti")
      .localCheckpoint()
    if (!survivors.isEmpty)
      survivors.coalesce(1).write.mode("append").parquet(s"$path/$TombDir")
    oldFiles.foreach { f =>
      require(fs.delete(f, false), s"tombstone clear failed to delete $f")
    }
    spark.catalog.refreshByPath(s"$path/$TombDir")
  }

  /** The SERVABLE code table: [[readCodes]] minus tombstoned ids (one
    * broadcast anti-join; a plain scan when the list is empty). Every
    * serving read goes through this; maintenance reads ([[rebalance]]'s
    * provenance map aside — it handles tombstones itself, [[healthVerdict]],
    * [[compact]], [[vacuum]]) see the PHYSICAL table: cell-balance and
    * layout are properties of the bytes on disk, which tombstoned rows
    * still occupy until a purge. */
  private def servableCodes(spark: SparkSession, path: String): DataFrame = {
    val codes = readCodes(spark, path)
    readTombstones(spark, path).fold(codes)(t =>
      codes.join(broadcast(t), Seq("cand_id"), "left_anti"))
  }

  /** Physically remove every tombstoned row — code table AND int8 rerank
    * tier — then clear the tombstone list. Only the (cell, release)
    * partitions that actually contain tombstoned rows are touched: the
    * affected-partition set is discovered with one semi-join (bounded by
    * the tombstone list), survivors are rewritten with a dynamic partition
    * overwrite of exactly those partitions, and partitions left EMPTY by
    * the purge — which a dynamic overwrite cannot express — are deleted
    * directly, [[vacuum]]-style.
    *
    * Crash-safe by ordering: the tombstone list is cleared LAST, so an
    * interruption anywhere leaves serving correct (the anti-join still
    * excludes whatever rows survive) and a rerun converges — already-purged
    * partitions simply stop matching the semi-join. Returns rows removed
    * per table. Release id sketches are left as-is: a purge only REMOVES
    * ids, so the sketches stay valid supersets ([[readIdSketches]]). */
  def purge(spark: SparkSession, path: String): Map[String, Long] =
    readTombstones(spark, path) match {
      case None => Map("codes" -> 0L, "rerank/codes" -> 0L)
      case Some(tomb0) =>
        // pin the list: the loop below rewrites tables while the plan that
        // produced `tomb0` may still be lazily read, and the clear at the
        // end deletes its files
        val tomb = tomb0.localCheckpoint()
        val fs = fsOf(spark, path)
        val removed = Seq("codes", "rerank/codes").map { sub =>
          val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
          if (!fs.exists(root)) sub -> 0L
          else {
            spark.catalog.refreshByPath(s"$path/$sub")
            val t = spark.read.parquet(s"$path/$sub")
            // ONE pass discovers the affected partitions AND both counts:
            // a left join against the (distinct) pinned list feeds one
            // (cell, release) aggregation carrying rows-total and
            // rows-tombstoned per pair — affected = tombstoned > 0,
            // left-empty-by-purge = total == tombstoned, removed = their
            // sum. Replaces the former three-job chain (discovery
            // semi-join collect, removed count, post-rewrite live collect)
            // with one map-side-partial aggregation (guide §1.2 fewer
            // passes, §2.3 aggregate before you shuffle).
            val tombD = tomb.select(col("cand_id")).distinct()
              .withColumn("__t", lit(1))
            val stats = t.join(broadcast(tombD), Seq("cand_id"), "left")
              .groupBy(col("cell").cast("string").as("__c"),
                col("release").cast("string").as("__r"))
              .agg(count(lit(1)).as("__n"), count(col("__t")).as("__nt"))
              .where(col("__nt") > 0)
              .collect()
              .map(r => ((r.getString(0), r.getString(1)),
                (r.getLong(2), r.getLong(3))))
            val affected = stats.map(_._1)
            if (affected.isEmpty) sub -> 0L
            else {
              // two prunable per-column IN filters (cell and release each
              // drive partition pruning) narrowed to the EXACT pair set by
              // one struct-IN — compiled to a hash probe, so a large
              // takedown batch never builds an OR-chain plan
              val affCells = affected.map(_._1).distinct
              val affRels = affected.map(_._2).distinct
              val inAffected =
                col("cell").cast("string").isin(affCells: _*) &&
                  col("release").cast("string").isin(affRels: _*) &&
                  struct(col("cell").cast("string"),
                    col("release").cast("string")).isin(
                    affected.map { case (c, r) => struct(lit(c), lit(r)) }: _*)
              val aff = t.where(inAffected)
              val nRemoved = stats.map(_._2._2).sum
              val survivors =
                aff.join(broadcast(tomb), Seq("cand_id"), "left_anti")
                  .localCheckpoint()
              // live/empty derive from the same aggregation: a pair whose
              // every row is tombstoned is left empty by the rewrite
              val live = stats.collect {
                case (pair, (n, nt)) if n > nt => pair
              }.toSet
              affected.filterNot(live).foreach { case (c, r) =>
                val p = new org.apache.hadoop.fs.Path(
                  s"$path/$sub/cell=$c/release=$r")
                if (fs.exists(p))
                  require(fs.delete(p, true), s"purge failed to delete $p")
              }
              if (live.nonEmpty)
                survivors.repartition(col("cell"), col("release"))
                  .write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("cell", "release")
                  .parquet(s"$path/$sub")
              spark.catalog.refreshByPath(s"$path/$sub")
              sub -> nRemoved
            }
          }
        }.toMap
        // subtract exactly the snapshot this purge physically removed —
        // a delete that raced in mid-purge stays listed (and excluded
        // from serving) until the next purge removes its rows too
        clearTombstones(spark, path, tomb)
        removed
    }

  /** Retention vacuum: delete the code partitions of every release `keep`
    * rejects — [[EavStore.vacuum]]'s contract on the (cell, release) layout
    * (quantizer metadata is release-independent and stays). Returns the
    * distinct dropped release names. A release append after a vacuum simply
    * re-encodes that release map-only. */
  def vacuum(spark: SparkSession, path: String,
             keep: String => Boolean): Seq[String] = {
    // the rerank tier mirrors the code table's (cell, release) layout and
    // must vacuum with it — a rejected release's tier rows are never
    // servable (the shortlist can no longer contain its ids) but would
    // accumulate as dead scan bytes in every probed-cell rerank pass
    def sweep(sub: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) Seq.empty
      else for {
        cell <- fs.listStatus(root).toSeq
        if cell.isDirectory && cell.getPath.getName.startsWith("cell=")
        rel <- fs.listStatus(cell.getPath).toSeq
        if rel.isDirectory && rel.getPath.getName.startsWith("release=")
        name = rel.getPath.getName.stripPrefix("release=")
        if !keep(name)
      } yield {
        // fs.delete reports failure by RETURNING false, not throwing — a
        // silently-failed delete must not be recorded as dropped
        require(fs.delete(rel.getPath, true),
          s"vacuum failed to delete ${rel.getPath}")
        name
      }
    }
    // a dropped release's id sketch goes with it ([[readIdSketches]] —
    // otherwise the dup consult would keep naming a release whose
    // partitions no longer exist; harmless for correctness, but the clean
    // night's "no prior files touched" claim should hold by construction)
    ReleasePartitions.vacuum(spark, s"$path/$IdSketchDir", keep)
    (sweep("codes") ++ sweep("rerank/codes")).distinct
  }

  /** REPAIR a corrupted release under the frozen model — the bounded
    * recovery verb the integrity card ([[StoreAudit.card]], q207/q208)
    * points at: the card names the torn (tier, release) — a purge or
    * append that rewrote one tier and crashed before the other, a
    * bit-rotted partition, an operator-deleted directory — and this op
    * drops EVERY (cell, release) partition of that release in BOTH tiers
    * and re-appends them from the release's source slice. Deleting first
    * matters: the torn state may hold rows in cells the re-encode no
    * longer populates (a partial purge's stale partitions), which a
    * dynamic overwrite alone would leave behind. Idempotent and
    * partition-bounded — the [[EavStore]] upsert idea applied to the
    * index store: cost is one map-only re-encode of ONE release's slice
    * (plus its int8 quantization when the tier exists), never a retrain,
    * never another release's bytes. `vecs` is the release's source slice
    * exactly (the same frame a rerun of that night's append would get);
    * after repair the release's partitions equal a never-corrupted
    * append's (IndexStoreSpec pins store ≡ from-scratch). */
  def repairRelease(spark: SparkSession, path: String, vecs: DataFrame,
                    idCol: String, embCol: String, release: String): Unit = {
    vacuum(spark, path, name => name != release)
    append(spark, path, vecs, idCol, embCol, release)
    if (hasRerank(spark, path))
      appendRerank(spark, path,
        vecs.select(col(idCol).cast("long").as("cand_id"),
          col(embCol).cast("array<double>").as("cand_emb")), release)
  }

  /** Compact the selected releases' (cell, release) partitions — code table
    * and int8 rerank tier alike — down to ONE file each.
    *
    * Every nightly [[append]]/[[appendRerank]] bounds its files per
    * partition at write time ([[EavStore.FilesPerPartition]]), but the
    * bound is per WRITE: a year of releases still accumulates
    * cells × releases × that bound, and every probed-cell serve pays the
    * listing/open tax on all of them — the classic small-files problem.
    * Compaction rewrites the targeted partitions in place with rows,
    * provenance, layout and pruning untouched, so serve answers are
    * bit-identical and append/vacuum/rebalance see the same table.
    *
    * Operational contract, sized for 100 TB: call with a BOUNDED `target`
    * batch (e.g. the releases older than the retention watermark, or last
    * week's, one batch per night) — the batch's rows pin in executor
    * storage for the rewrite (the repo's localCheckpoint overwrite idiom),
    * so a batch should be night-delta-sized, not corpus-sized. The write
    * is a dynamic partition overwrite of exactly the partitions read: a
    * crash before the job commit leaves the originals in place, and the
    * rerun converges (idempotent by construction — same rows, same
    * partitions). Returns the release ids compacted per table. */
  def compact(spark: SparkSession, path: String,
              target: String => Boolean): Map[String, Seq[String]] = {
    def one(sub: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) Seq.empty
      else {
        val rels = (for {
          cell <- fs.listStatus(root).toSeq
          if cell.isDirectory && cell.getPath.getName.startsWith("cell=")
          rel <- fs.listStatus(cell.getPath).toSeq
          if rel.isDirectory && rel.getPath.getName.startsWith("release=")
          name = rel.getPath.getName.stripPrefix("release=")
          if target(name)
        } yield name).distinct.sorted
        if (rels.isEmpty) Seq.empty
        else {
          spark.catalog.refreshByPath(s"$path/$sub")
          // pin the batch's rows before overwriting the files they came
          // from (the rollForwardOnDisk self-overwrite contract), then
          // route each (cell, release) combo to one task → one file
          val pinned = spark.read.parquet(s"$path/$sub")
            .where(col("release").isin(rels.map(r => r: Any): _*))
            .localCheckpoint()
          pinned.repartition(col("cell"), col("release"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell", "release")
            .parquet(s"$path/$sub")
          spark.catalog.refreshByPath(s"$path/$sub")
          rels
        }
      }
    }
    Map("codes" -> one("codes"), "rerank/codes" -> one("rerank/codes"))
  }

  /** Rebalance a degenerate index (q178's detector found empty/monster
    * cells): retrain the coarse quantizer on the raw vectors — sampled by
    * `sampleMod` (deterministic id-mod sample, the repo's RNG-free idiom;
    * 1 = train on everything) — re-encode the RESIDENT population map-only
    * against the new frozen model, and atomically swap the new store in
    * (write-new + vacuum-old). Residual codebooks retrain with the coarse
    * quantizer by default (`retrainCodebooks = false` freezes the old
    * ones — cheaper, codes stay valid residual quantizers, just tuned to
    * the old cell geometry).
    *
    * Only vectors already resident in the store are re-encoded (each keeps
    * its release partition — the provenance survives the rebalance); new
    * vectors enter through [[append]] as always.
    *
    * Crash safety is the marker protocol: the new `meta.next`/`codes.next`
    * are fully written, then a `_SWAP_READY` marker commits the rebalance,
    * then the swap (delete old, rename next) runs. [[recover]] makes any
    * interruption converge: before the marker the old store is untouched
    * (stale `.next` dirs are deleted); after it the swap completes
    * idempotently. Serving reads are single-writer-nightly semantics, as
    * everywhere in this store family.
    *
    * Scale shape: ONE training job over the sample (kilobyte driver
    * state), one map-only encode of the corpus (model literals ride with
    * the plan) plus an id-keyed equi-join to carry each vector's release,
    * one partitioned write. Nothing pair-joins. */
  def rebalance(spark: SparkSession, path: String, vectors: DataFrame,
                idCol: String, embCol: String, kCoarse: Int,
                coarseIters: Int, pqIters: Int,
                retrainCodebooks: Boolean = true,
                sampleMod: Int = 1, opqIters: Int = 3): Unit = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    recover(spark, path) // converge any interrupted predecessor first
    val old = readModel(spark, path)
    val sample =
      if (sampleMod == 1) vectors
      else vectors.where(pmod(col(idCol).cast("long"), lit(sampleMod.toLong)) === 0)
    require(!sample.isEmpty,
      s"rebalance sample is empty (sampleMod=$sampleMod matches no ids) — " +
        "the retrained quantizer would be degenerate")
    // Coverage guard, fused onto the encode pass (round 15): the re-encode
    // below is keyed against the resident id set, so a caller passing a
    // partial corpus would silently SHRINK the store. The guard used to be
    // a standalone anti-join count — one corpus-sized job before every
    // retrain; the encode's resident join visits exactly the same rows, so
    // keeping every servable resident (right join) and counting the
    // encode-side misses in a CollectMetrics node rides the guard on the
    // write for free (guide §1.2: don't compute things twice). The
    // loud-failure contract is unchanged — same message, and the abort
    // still leaves the serving store exactly as it was (the staged .next
    // dirs are discarded below; no swap marker exists yet). The failure
    // night now pays the retrain before aborting; that prices a caller
    // bug, not the healthy path. Tombstoned residents stay exempt: a
    // rebalance re-encodes only the servable population — it IS a natural
    // [[purge]] point, so the caller need not supply vectors for
    // taken-down ids (and must not expect them to survive the swap).
    // pin the tombstone snapshot the re-encode realizes: only THESE ids
    // are guaranteed absent from the swapped-in codes, so only these may
    // be cleared from the list afterwards (a delete racing in during the
    // rebalance must survive the swap to keep excluding its id)
    val tombSnap = readTombstones(spark, path).map(_.localCheckpoint())
    val codesAll = readCodes(spark, path)
    val relMap = tombSnap.fold(codesAll)(t =>
        codesAll.join(broadcast(t), Seq("cand_id"), "left_anti"))
      .select(col("cand_id"), col("release"))
    // An OPQ store's quantizer family survives the rebalance: with a full
    // retrain the rotation retrains on the same sample (`opqIters` power
    // iterations — the same kilobyte driver state as the centroids); with
    // retrainCodebooks = false the OLD rotation is kept — the frozen
    // codebooks were trained in the old rotated space and retraining only
    // the reflection would silently invalidate them.
    val hadRot = readRotation(spark, path)
    val newRot =
      if (hadRot.isEmpty) None
      else if (retrainCodebooks)
        Similarity.opqDirection(sample, idCol, embCol, old.dim, opqIters)
      else hadRot
    val sampleR = rotate(sample, embCol, newRot)
    val model =
      if (retrainCodebooks)
        Similarity.ivfPqTrain(sampleR, idCol, embCol, old.dim, kCoarse,
          coarseIters, old.m, old.codebooks(0).length, pqIters)
      else {
        val cents = Similarity.kMeansCentroids(sampleR, idCol, embCol,
          kCoarse, coarseIters)
        IvfPqModel(old.dim, cents, old.codebooks)
      }
    // resident population only, release provenance carried through; the
    // RIGHT join keeps residents the caller's frame missed (null-cell
    // rows) so the coverage guard counts them during the write itself —
    // they are filtered back out before the partitioned write, so the
    // written rows are exactly the former inner join's
    val guard = org.apache.spark.sql.Observation("rebalance_coverage")
    val enc = Similarity.ivfPqEncode(
        rotate(vectors.select(col(idCol), col(embCol)), embCol, newRot),
        idCol, embCol, model)
      .join(relMap, Seq("cand_id"), "right")
      // the guard relies on two optimizer behaviours: Catalyst does not
      // push `cell IS NOT NULL` below this CollectMetrics node, and does
      // not turn the right join into an inner join through it. Either
      // rewrite would hide the uncovered rows from the count; the
      // IndexStoreSpec case "rebalance refuses a partial vectors frame
      // instead of shrinking the store" trips if a Spark upgrade does so.
      .observe(guard,
        count(when(col("cell").isNull, lit(1))).as("uncovered"))
      .where(col("cell").isNotNull)
      .repartition(col("cell"), pmod(xxhash64(col("cand_id")),
        lit(EavStore.FilesPerPartition)))
    writeModel(spark, s"$path/meta.next", model)
    writeRotation(spark, s"$path/meta.next", newRot)
    // the swapped-in store is a new quantizer epoch: stamp the staged meta
    // with the bumped generation so the commit is atomic with the swap
    writeGeneration(spark, s"$path/meta.next", generation(spark, path) + 1)
    // carry the per-release id sketches across the swap (the meta dir is
    // replaced wholesale): a rebalance re-encodes the SAME resident ids —
    // minus the realized tombstones — so the old sketches stay valid
    // supersets ([[readIdSketches]]' invariant; a scrubbed id costs at
    // most a spurious fallback scan)
    val oldSketches = new org.apache.hadoop.fs.Path(s"$path/$IdSketchDir")
    if (fsOf(spark, path).exists(oldSketches))
      org.apache.hadoop.fs.FileUtil.copy(fsOf(spark, path), oldSketches,
        fsOf(spark, path),
        new org.apache.hadoop.fs.Path(s"$path/meta.next/idsketch"),
        false, spark.sparkContext.hadoopConfiguration)
    enc.write.mode("overwrite").partitionBy("cell", "release")
      .parquet(s"$path/codes.next")
    // the guard's verdict, collected by the write above at zero extra jobs;
    // a trip aborts BEFORE the swap marker, so the serving store is
    // untouched (recover() discards the staged .next dirs of an
    // uncommitted attempt) — the message and exception type match the
    // former standalone require() exactly
    val nUncovered = guard.get("uncovered").asInstanceOf[Long]
    if (nUncovered != 0L) {
      val examples = relMap.select(col("cand_id"))
        .join(vectors.select(col(idCol).cast("long").as("cand_id")),
          Seq("cand_id"), "left_anti")
        .limit(5).collect().map(_.getLong(0)).mkString(", ")
      recover(spark, path)
      throw new IllegalArgumentException("requirement failed: " +
        s"rebalance vectors frame is missing $nUncovered resident ids " +
        s"(e.g. $examples) — " +
        "a partial corpus would silently shrink the store; pass every " +
        "resident vector (or vacuum the releases you mean to drop first)")
    }
    val fs = fsOf(spark, path)
    fs.create(new org.apache.hadoop.fs.Path(s"$path/$SwapMarker"), true).close()
    finishSwap(spark, path)
    // the swapped-in codes carry no id from the PINNED snapshot (relMap
    // anti-joined it above), so exactly that snapshot is realized —
    // subtract it; deletes that raced in during the rebalance survive to
    // keep excluding any of their ids the re-encode carried through. A
    // crash between the swap and this clear is benign: leftover
    // tombstones exclude ids that no longer have code rows, and the next
    // purge/rebalance clears them.
    tombSnap.foreach(t => clearTombstones(spark, path, t))
    // the int8 rerank tier is keyed by the OLD cell layout — after the swap
    // its partition-pruned scan would silently drop shortlisted candidates
    // whose tier rows sit under stale cell numbers, so rebuild it on the
    // resident population (the same vectors the quantizer just retrained
    // on). A crash between the swap and this rebuild converges through
    // VectorRelease.maintain's generation-mismatch rebuild.
    if (hasRerank(spark, path))
      buildRerank(spark, path, vectors.select(
        col(idCol).cast("long").as("cand_id"),
        col(embCol).cast("array<double>").as("cand_emb")))
  }

  /** Converge an interrupted [[rebalance]]: with the `_SWAP_READY` marker
    * present the new store is complete — finish the swap; without it any
    * `.next` leftovers are an uncommitted attempt — delete them, leaving
    * the old store exactly as it was. Safe to call any time (no-op on a
    * healthy store). */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/$SwapMarker")))
      finishSwap(spark, path)
    else
      Seq(s"$path/meta.next", s"$path/codes.next").foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) require(fs.delete(hp, true), s"failed to delete $p")
      }
  }

  private val SwapMarker = "_SWAP_READY"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed swap, each step idempotent so a crashed swap resumes:
    * for meta then codes — if `.next` exists, delete the old dir and
    * rename `.next` in; finally drop the marker. */
  private def finishSwap(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    Seq("meta", "codes").foreach { d =>
      val next = new org.apache.hadoop.fs.Path(s"$path/$d.next")
      val cur = new org.apache.hadoop.fs.Path(s"$path/$d")
      if (fs.exists(next)) {
        if (fs.exists(cur))
          require(fs.delete(cur, true), s"swap failed to delete $cur")
        require(fs.rename(next, cur), s"swap failed to rename $next")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/$SwapMarker"), false)
    // both trees were delete+renamed — invalidate BOTH cached file listings
    // (a session that cached a FileIndex over the old meta parquet would
    // otherwise read deleted files or a stale model after the swap)
    spark.catalog.refreshByPath(s"$path/codes")
    spark.catalog.refreshByPath(s"$path/meta")
  }

  /** The persisted code table, schema-normalized: (cand_id, cell int,
    * codes array<int>, release). */
  def readCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CodesSchema).parquet(s"$path/codes")
      .select(col("cand_id").cast("long").as("cand_id"),
        col("cell").cast("int").as("cell"),
        col("codes").cast("array<int>").as("codes"),
        col("release").cast("string").as("release"))

  /** The frozen quantizers, reassembled from the meta files (one kilobyte
    * driver read; `dim` is inferred from the centroid rows). */
  def readModel(spark: SparkSession, path: String): IvfPqModel = {
    val cents = spark.read.schema(CentroidsSchema).parquet(s"$path/meta/centroids")
      .select(col("cell").cast("int"), col("cvec").cast("array<double>"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(cents.nonEmpty, s"empty centroid table at $path/meta/centroids")
    val cb = spark.read.schema(CodebooksSchema).parquet(s"$path/meta/codebooks")
      .select(col("sub").cast("int"), col("cluster").cast("int"),
        col("cvec").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    IvfPqModel(cents.head.length, cents, cb)
  }

  /** The shapes [[writeModel]] writes and [[readModel]] reads. */
  val CentroidsSchema: StructType = StructType.fromDDL("cell INT, cvec ARRAY<DOUBLE>")
  val CodebooksSchema: StructType =
    StructType.fromDDL("sub INT, cluster INT, cvec ARRAY<DOUBLE>")

  /** `metaPath` is the meta DIRECTORY (normally `$path/meta`; the rebalance
    * writes its staged copy to `$path/meta.next`). */
  private def writeModel(spark: SparkSession, metaPath: String,
                         model: IvfPqModel): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (cv, j) => (j, cv.toSeq) }.toSeq
      .toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$metaPath/centroids")
    model.codebooks.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cv, j) => (s, j, cv.toSeq) }
    }.toSeq.toDF("sub", "cluster", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$metaPath/codebooks")
  }

  /** The shape [[writeCodes]] and [[rebalance]] write and [[readCodes]]
    * reads: `cand_id` and `codes` in the files, then the `cell` and
    * `release` partition columns, typed here rather than inferred from the
    * directory names. */
  val CodesSchema: StructType =
    StructType.fromDDL("cand_id BIGINT, codes ARRAY<INT>, cell INT, release STRING")

  /** One encode pass → cell/release-partitioned parquet. `dynamic = false`
    * (build) replaces the whole table; `dynamic = true` (append) replaces
    * only the written release's partitions. Files per (cell, release) are
    * bounded by the same small-files clamp as [[EavStore]]. */
  private def writeCodes(df: DataFrame, idCol: String, embCol: String,
                         model: IvfPqModel, release: String, codesPath: String,
                         dynamic: Boolean): Unit = {
    val enc = Similarity.ivfPqEncode(df, idCol, embCol, model)
      .withColumn("release", lit(release))
      .repartition(col("cell"), pmod(xxhash64(col("cand_id")),
        lit(EavStore.FilesPerPartition)))
    val w = enc.write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("cell", "release")
      .parquet(codesPath)
  }
}
