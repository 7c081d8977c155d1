package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.pipeline.{IndexStore, VectorRelease}

object Vecs {
  val Dim = 64
  /** Sixteen equally likely clusters over 8 coarse cells: a cell holds
    * about two clusters, below maintain's 30% share limit, so most seeds'
    * nights take the healthy (no-rebalance) branch. */
  val Clusters = 16

  def nodes(d: DataFrame): DataFrame =
    d.select(col("vec_id").cast("long").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))

  def cands(d: DataFrame): DataFrame =
    d.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))

  /** The q186 fixture's index: dim 64, 8 coarse cells, 16 sub-quantizers
    * of 8 centroids. */
  def build(spark: SparkSession, path: String, df: DataFrame): Unit =
    IndexStore.build(spark, path, df, "vec_id", "embedding", dim = Dim,
      kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")

  val isEval = col("vec_id") % 50 === 0
}

/** index_maintain_serve: a maintain night over a persisted prior release,
  * appending a seeded slice as a new release, then batches of held-out
  * vectors served from the maintained store through the public index
  * serve entry points. A takedown (IndexStore.delete) lands before night 1,
  * so the night runs the purge, input scrub and graph repair branch. A
  * later night (only if a phase outlasts one) takes the plain branch. */
final class IndexMaintain(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {

  import IndexMaintain._

  val Base = 300
  val Slice = 30
  val MaxNights = 12
  val Takedowns = 4
  private var bytesPerRow = 0.0
  def storeBytesPerRow: Double = bytesPerRow
  private var dir = ""
  private var base: DataFrame = _
  private var fresh: DataFrame = _
  private var takedown: Array[Long] = Array.empty
  private var phase = 0
  private var store = ""
  private var graph = ""
  private var generation = 0L
  /** Output directory of every night, per phase. */
  private val outputs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[String]]
  /** Every timed request's answer, by (phase, night, request number). */
  private val answers = mutable.LinkedHashMap.empty[(Int, Int, Int), Seq[String]]
  /** The phase-0 requests with their answers, for the Python check. */
  private val answered = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val pinnedMb = mutable.ArrayBuffer.empty[Double]
  /** Night outputs of the check's from-scratch roll-forward, by night. */
  private val expected = mutable.HashMap.empty[Int, Seq[String]]
  private def ref = s"$work/reference"

  def setup(d: String): Unit = {
    base = Inputs.writeEmbeddings(spark, s"$d/base.parquet",
      Inputs.embeddings(seed, 12, 0L, Base, Vecs.Dim, Vecs.Clusters))
    fresh = Inputs.writeEmbeddings(spark, s"$d/nights.parquet",
      Inputs.embeddings(seed, 13, Base.toLong, Slice * MaxNights, Vecs.Dim,
        Vecs.Clusters))
    val corpus = base.where(!Vecs.isEval)
    Vecs.build(spark, s"$d/prior/store", corpus)
    val model = IndexStore.readModel(spark, s"$d/prior/store")
    VectorRelease.writeGraph(
      Similarity.ivfExactGraphEdges(Vecs.nodes(corpus), Vecs.cands(corpus),
        model.centroids, nProbe = 2, k = 3), s"$d/prior/graph")
    // takedown ids: residents of the prior release
    val r = Inputs.rng(seed, 40)
    val residents = (0L until Base.toLong).filter(_ % 50 != 0)
    takedown = Array.fill(Takedowns)(residents(r.nextInt(residents.length)))
      .distinct.sorted
    dir = d
  }

  private def slice(k: Int): DataFrame =
    fresh.where(col("vec_id") >= Base + (k - 1) * Slice &&
      col("vec_id") < Base + k * Slice)

  private def older(k: Int): DataFrame =
    base.where(!Vecs.isEval).unionByName(
      fresh.where(col("vec_id") < Base + (k - 1) * Slice))

  private def gone = col("vec_id").isin(takedown.map(Long.box).toSeq: _*)

  private def evals: DataFrame = Vecs.nodes(base.where(Vecs.isEval))

  /** Raw vectors of the store's residents after night `k`. */
  private def residents(k: Int): DataFrame = older(k + 1).where(!gone)

  def beginPhase(phaseNo: Int): Unit = {
    phase = phaseNo
    store = s"$work/phase-$phaseNo/store"
    Util.deleteDir(store)
    Util.copyDir(spark, s"$dir/prior/store", store)
    graph = s"$dir/prior/graph"
    generation = IndexStore.generation(spark, store)
    outputs(phaseNo) = mutable.ArrayBuffer.empty
    pinnedMb.clear()
  }

  /** The warm operation (`i < 0`) is the check's from-scratch
    * `VectorRelease.rollForward` of night 1, the core of every maintain
    * night, drop-list serve included. Maintain's and serving's one-time
    * compilation is paid there, and its output is night 1's reference. */
  def op(i: Int, tr: Tracer, t: Timer): Unit = {
    if (i < 0) {
      expected(1) = reference(1, rebalanced = false)
      return
    }
    val k = i + 1
    require(k <= MaxNights, s"only $MaxNights night slices were generated")
    if (k == 1)
      tr.span("index_store.delete")(IndexStore.delete(spark, store, takedownFrame))
    val out = s"$work/phase-$phase/night-$k"
    // night 1 realizes the takedown (purge, input scrub, graph repair) and
    // clears the list; from then on the raw-vector inputs no longer hold
    // the taken-down ids
    def in(d: DataFrame) = if (k >= 2) d.where(!gone) else d
    t.write {
      tr.span("op") {
        val df = tr.span("vector_release.maintain.build")(
          VectorRelease.maintain(spark, store, in(slice(k)), in(older(k)), evals,
            VectorRelease.readGraph(spark, graph), "vec_id", "embedding",
            release = s"n$k", kCoarse = 8, maxShareMilli = 300,
            priorGeneration = generation))
        tr.span("vector_release.maintain.exec")(VectorRelease.writeGraph(df, out))
      }
    }
    graph = out
    generation = IndexStore.generation(spark, store)
    outputs(phase) += out
    if (phase == 0 && k == 1)
      bytesPerRow = Util.parquetBytes(store).toDouble / IndexStore.readCodes(spark, store).count()
    pinnedMb += spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    serveNight(k, tr, t)
  }

  /** The read requests served after night `k`: [[Mix]], each a batch of
    * [[Batch]] seeded held-out vectors. */
  private def serveNight(k: Int, tr: Tracer, t: Timer): Unit = {
    // the store state the requests are served from, for the Python check;
    // read untimed before them, so the night's new files' first listing
    // and footer reads are not a request's cost
    val m = IndexStore.readModel(spark, store)
    val all = IndexStore.readCodes(spark, store)
    val codes = IndexStore.readTombstones(spark, store)
      .fold(all)(t => all.join(t, Seq("cand_id"), "left_anti"))
      .select("cand_id", "cell", "codes").collect().map(Util.cells).toSeq
    if (phase == 0) Util.writeLines(s"$checkDir/state-$k.json", Seq(Util.json(Map(
      "centroids" -> m.centroids, "codebooks" -> m.codebooks, "codes" -> codes))))
    val r = Inputs.rng(seed, 200L + k)
    val evalIds = (0L until Base.toLong by 50L)
    val full = Vecs.cands(residents(k))
    def batch(ids: Seq[Long]) = Vecs.nodes(base.where(col("vec_id").isin(ids.map(Long.box): _*)))
    def serve(kind: String, q: DataFrame): DataFrame = kind match {
      case "query" => IndexStore.query(spark, store, q, full, NProbe, K, Shortlist)
      case "query_filtered" =>
        IndexStore.queryFiltered(spark, store, q, full,
          residents(k).where(col("label") % 2 === 0).select(col("vec_id").as("cand_id")),
          NProbe, K, Shortlist)
      case "decontaminate" =>
        IndexStore.decontaminate(spark, store, q, full, NProbe, Shortlist, Threshold)
    }
    // one untimed request of each kind first: the night's plans evict the
    // serving plans' generated code from the session's codegen cache
    // (spark.sql.codegen.cache.maxEntries, 100), and a serving process
    // apart from the writer would keep it
    Kinds.foreach(kind => serve(kind, batch(evalIds.take(Batch))).collect())
    Mix.zipWithIndex.foreach { case (kind, j) =>
      val ids = Inputs.shuffle(r, evalIds).take(Batch).sorted
      val q = batch(ids)
      var rows: Seq[Seq[Any]] = Nil
      t.request {
        tr.span("serve") {
          val df = tr.span(s"index_store.$kind.build")(serve(kind, q))
          rows = tr.span(s"index_store.$kind.exec")(df.collect())
            .map(Util.cells).toSeq.sortBy(Util.json)
        }
      }
      answers((phase, k, j)) = rows.map(Util.json)
      if (phase == 0) answered += Map("kind" -> kind, "night" -> k,
        "ids" -> ids, "rows" -> rows)
    }
  }

  private def takedownFrame: DataFrame = {
    import spark.implicits._
    takedown.toSeq.toDF("cand_id")
  }

  /** A night's output without its release column, sorted. */
  private def sorted(df: DataFrame): Seq[String] =
    df.select("src_id", "dst_id", "score", "rank", "mutual", "dropped")
      .collect().map(r => Util.json(Util.cells(r))).toSeq.sorted

  /** Rows whose release is not the one their source vector arrived in. */
  private def misplaced(df: DataFrame): Long = {
    val night = ((col("src_id") - Base) / Slice).cast("long") + 1
    df.where(col("release") =!= when(col("src_id") < Base, lit("r1"))
      .otherwise(concat(lit("n"), night.cast("string")))).count()
  }

  /** Night `k`'s output from a from-scratch roll-forward over the servable
    * union, on the reference store. Night 1 starts the reference store as
    * a clone of the prior release carrying the takedown as a tombstone; a
    * later night continues it. A night that rebalanced is rolled forward
    * on a store built afresh on the servable residents, which is what a
    * rebalance must converge to. The prior graph is rebuilt exactly. */
  private def reference(k: Int, rebalanced: Boolean): Seq[String] = {
    val old = older(k).where(!gone)
    if (rebalanced) {
      Util.deleteDir(ref)
      Vecs.build(spark, ref, old)
    } else if (k == 1) {
      Util.deleteDir(ref)
      Util.copyDir(spark, s"$dir/prior/store", ref)
      IndexStore.delete(spark, ref, takedownFrame)
    }
    sorted(VectorRelease.rollForward(spark, ref, slice(k).where(!gone), old,
      evals, Similarity.ivfExactGraphEdges(Vecs.nodes(old), Vecs.cands(old),
        IndexStore.readModel(spark, ref).centroids, nProbe = 2, k = 3),
      "vec_id", "embedding", release = s"n$k").localCheckpoint())
  }

  /** Nights whose output differs from the from-scratch roll-forward
    * ([[reference]]; night 1's ran as the warm operation), plus the
    * requests of a later phase whose answers differ from phase 0's. The
    * release of every edge's source is checked on its own. */
  def check(): Long = {
    Util.writeLines(s"$checkDir/manifest.json", Seq(Util.json(Map(
      "kind" -> "index_maintain_serve", "inputs" -> Seq(s"$dir/base.parquet",
        s"$dir/nights.parquet"), "state" -> checkDir, "nprobe" -> NProbe,
      "k" -> K, "shortlist" -> Shortlist, "threshold" -> Threshold,
      "requests" -> answered.toSeq))))
    // a later phase serves the same requests from the same states as
    // phase 0, whose answers the Python check recomputes
    val servedWrong = answers.count { case ((p, k, j), rows) =>
      p != 0 && answers.get((0, k, j)).exists(_ != rows) }
    val nights = outputs.values.map(_.length).max
    var wrong = 0L
    for (k <- 1 to nights) {
      val outs = outputs.values.filter(_.length >= k).map(o => spark.read.parquet(o(k - 1)))
      val rebalanced = outs.exists(_.where(col("rebalanced")).limit(1).count() > 0)
      if (rebalanced) Main.progress(s"night $k rebalanced")
      val expect =
        if (k == 1 && !rebalanced) expected(1) else reference(k, rebalanced)
      outs.foreach { o =>
        if (sorted(o) != expect || misplaced(o) > 0) {
          System.err.println(s"[perfbench] night $k differs from the from-scratch roll-forward")
          wrong += 1
        }
      }
    }
    wrong + servedWrong
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val b = tr.named("vector_release.maintain.build")
    val x = tr.named("vector_release.maintain.exec")
    val n = math.max(b.length, 1).toDouble
    val c = new Counters
    (b ++ x).foreach(s => c.add(tr.deep(s)))
    val serving = Kinds.flatMap { e =>
      val sb = tr.named(s"index_store.$e.build")
      val sx = tr.named(s"index_store.$e.exec")
      val sc = new Counters
      (sb ++ sx).foreach(s => sc.add(tr.deep(s)))
      val m = math.max(sb.length, 1).toDouble
      Seq(s"index_store.$e.build_ms" -> EngineLayers.meanMs(sb),
        s"index_store.$e.exec_ms" -> EngineLayers.meanMs(sx),
        s"index_store.$e.jobs" -> sc.jobs / m,
        s"index_store.$e.files_read" -> sc.filesRead / m)
    }
    EavRelease.LayerNames.map(_ -> 0.0).toMap ++ serving ++ Map(
      "index_store.delete_ms" -> EngineLayers.meanMs(tr.named("index_store.delete")),
      "vector_release.maintain.build_s" -> EngineLayers.meanMs(b) / 1000,
      "vector_release.maintain.exec_s" -> EngineLayers.meanMs(x) / 1000,
      "vector_release.maintain.jobs" -> c.jobs / n,
      "vector_release.maintain.stages" -> c.stages / n,
      "vector_release.pinned_mb" -> Util.median(pinnedMb.toSeq))
  }
}

object IndexMaintain {
  /** The index serve entry points a request goes to. */
  val Kinds = Seq("query", "query_filtered", "decontaminate")
  /** The requests after a night, in this order. */
  val Mix = Seq("query", "query_filtered", "query", "decontaminate")
  /** Held-out vectors per request. */
  val Batch = 4
  val NProbe = 2
  val K = 5
  val Shortlist = 100
  val Threshold = 0.3

  val LayerNames: Seq[String] = Seq("index_store.delete_ms",
    "vector_release.maintain.build_s", "vector_release.maintain.exec_s",
    "vector_release.maintain.jobs", "vector_release.maintain.stages",
    "vector_release.pinned_mb") ++ Kinds.flatMap(e =>
      Seq("build_ms", "exec_ms", "jobs", "files_read").map(x => s"index_store.$e.$x"))
}
