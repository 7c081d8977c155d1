package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Serving
import graft.pipeline.{EavStore, MainPipeline}

/** eav_release_serve: one release cycle, then the dashboard reads served
  * from the released store. The cycle is the transform plus the store
  * writes: publish release 2 as a new partition, re-publish it with late
  * revisions (same hashes, new payloads: the ON CONFLICT DO UPDATE path),
  * compact. The reads are forty seeded requests over `EavStore.read` plus
  * `Serving`, in the mix of [[EavRelease.Order]]. */
final class EavRelease(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {

  import EavRelease._

  private var dir = ""
  private var cycleStore = ""
  private val prints = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (phase, publish seconds, re-publish seconds) of every cycle. */
  private val steps = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  /** Every timed request with its answer, for the DuckDB check. */
  private val answered = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Rows each traced request returned, by request kind. */
  private val rowsOut = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var phase = 0
  private var bytesPerRow = 0.0
  def storeBytesPerRow: Double = bytesPerRow
  override def storeRoots: Seq[String] = Seq(cycleStore)

  def setup(d: String): Unit = {
    val rows = Inputs.shipments(seed, Suppliers, Days)
    Inputs.writeRelease(spark, s"$d/in1", seed, rows, Suppliers)
    Inputs.writeRelease(spark, s"$d/in2", seed, Inputs.revise(seed, rows, Days),
      Suppliers)
    EavStore.upsert(spark, MainPipeline.run(spark, s"$d/in1", 1), s"$d/base")
    dir = d
  }

  def beginPhase(phaseNo: Int): Unit = phase = phaseNo

  private def publish(tr: Tracer, in: String, store: String): Unit = {
    val df = tr.span("main_pipeline.build")(MainPipeline.run(spark, in, 2))
    tr.span("eav_store.upsert")(EavStore.upsert(spark, df, store))
  }

  /** The warm operation (`i < 0`) is one untimed cycle and its untimed
    * requests: the session's first upserts into an existing store and its
    * first serving plans pay their one-time compilation there, and the
    * serving code runs often enough for the JIT to settle before the timed
    * requests. */
  def op(i: Int, tr: Tracer, t: Timer): Unit = {
    if (cycleStore.nonEmpty && prints.nonEmpty) Util.deleteDir(cycleStore)
    cycleStore = s"$work/cycle-$i-${System.nanoTime()}"
    Util.copyDir(spark, s"$dir/base", cycleStore)
    if (tr.enabled) Seq(s"$dir/in1", s"$dir/in2").foreach { in =>
      // the transform alone into a no-op sink, outside the timed window:
      // the part of an upsert's time the transform accounts for
      val df = MainPipeline.run(spark, in, 2)
      tr.span("main_pipeline.exec")(
        df.write.format("noop").mode("overwrite").save())
    }
    t.write {
      tr.span("op") {
        val (_, p) = Util.nowS(publish(tr, s"$dir/in1", cycleStore))
        val (_, r) = Util.nowS(publish(tr, s"$dir/in2", cycleStore))
        tr.span("eav_store.compact")(EavStore.compact(spark, cycleStore, 2))
        if (i >= 0) steps += ((phase, p, r))
      }
    }
    if (i >= 0) {
      // read the whole store before the requests, untimed: the new files'
      // first listing and footer reads are not a request's cost
      val fp = Util.fingerprint(EavStore.read(spark, cycleStore))
      if (prints.isEmpty) {
        // the first cycle's store is kept for the independent checks
        Util.copyDir(spark, cycleStore, s"$checkDir/store")
        bytesPerRow = Util.parquetBytes(cycleStore).toDouble / fp._1
      }
      prints += fp
    }
    // one untimed request of each kind first: the cycle's plans evict the
    // serving plans' generated code from the session's codegen cache
    // (spark.sql.codegen.cache.maxEntries, 100), and a serving process
    // apart from the writer would keep it
    Kinds.foreach(k => serve(Request(k, "1", "qty"), cycleStore).collect())
    requests(i).foreach { q =>
      var rows: Seq[Seq[Any]] = Nil
      t.request {
        tr.span("serve") {
          val df = tr.span(s"serving.${q.kind}.build")(serve(q, cycleStore))
          rows = tr.span(s"serving.${q.kind}.exec")(df.collect()).map(Util.cells).toSeq
        }
      }
      if (tr.enabled) rowsOut(q.kind) += rows.length
      if (i >= 0) answered += Map("kind" -> q.kind, "area" -> q.area,
        "metric" -> q.metric, "rows" -> rows)
    }
  }

  /** The requests served after cycle `i`: [[Order]], or the first twenty
    * of it for the warm operation (`i < 0`), each with an area drawn by a
    * Zipf law over a seeded ranking of the areas and a seeded metric. */
  private def requests(i: Int): Seq[Request] = {
    val r = Inputs.rng(seed, 100L + i)
    (if (i < 0) Order.take(20) else Order).map { k =>
      Request(k, areaRanking(zipf(r)).toString, Metrics(r.nextInt(Metrics.length)))
    }
  }

  /** Areas by popularity: a seeded permutation of the supplier keys. */
  private lazy val areaRanking: Seq[Int] =
    Inputs.shuffle(Inputs.rng(seed, 98), 1 to Suppliers)

  /** A 0-based rank drawn with weight 1 / (rank + 1)^1.2. */
  private def zipf(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble() * ZipfTotal
    var acc = 0.0
    var k = 0
    while (k < Suppliers - 1 && { acc += ZipfWeight(k); acc < u }) k += 1
    k
  }

  private def series(store: String, release: Int, pred: Column): DataFrame =
    EavStore.read(spark, store)
      .where(col("partition_id") === Partition(release) && pred)
      .select(col("areaCode"), col("metric"), col("date"),
        get_json_object(col("payload"), "$.value").cast("double").as("value"))

  /** The request's answer as a DataFrame, built through the Serving
    * operators over the store. */
  private def serve(q: Request, store: String): DataFrame = {
    val one = col("areaCode") === q.area && col("metric") === q.metric
    q.kind match {
      case "latest" =>
        Serving.topNPerGroup(series(store, 2, one).where(col("value").isNotNull),
          Seq("areaCode", "metric"), Seq(col("date").desc), 1)
      case "blob" =>
        Serving.jsonAgg(series(store, 2, one)
          .withColumn("date", col("date").cast("string")),
          Seq("areaCode", "metric"), "date", Seq("value"), "blob")
      case "percentiles" =>
        Serving.percentileDisc(Serving.atLatestDate(
          series(store, 2, col("metric") === q.metric).where(col("value").isNotNull),
          "date"), Seq("metric"), "value",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      case "delta" =>
        val recent = col("metric") === q.metric && col("date") >= lit(DeltaFrom)
        Serving.releaseDelta(series(store, 2, recent), series(store, 1, recent),
          Seq("areaCode", "metric", "date"), "value", "delta")
          .select("areaCode", "metric", "date", "delta")
    }
  }

  /** Cycles whose store differs from the first; the first cycle's store
    * is checked against the Python recomputation, and every timed request
    * against DuckDB over it. */
  def check(): Long = {
    Util.writeLines(s"$checkDir/manifest.json", Seq(Util.json(Map(
      "kind" -> "eav_release_serve", "in1" -> s"$dir/in1", "in2" -> s"$dir/in2",
      "store" -> s"$checkDir/store",
      "oracle" -> graft.SparkEntry.oracleSql("q64_pipeline_sql"),
      "ops" -> prints.length, "delta_from" -> DeltaFrom.toString,
      "partitions" -> Map("1" -> Partition(1), "2" -> Partition(2)),
      "requests" -> answered.toSeq))))
    prints.count(_ != prints.head).toLong
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val ups = tr.named("eav_store.upsert")
    val upC = ups.map(tr.deep)
    val n = math.max(ups.length, 1).toDouble
    val execS = EngineLayers.meanMs(tr.named("main_pipeline.exec")) / 1000
    val untraced = steps.filter(_._1 == 0)
    val serving = Kinds.flatMap { k =>
      val b = tr.named(s"serving.$k.build")
      val x = tr.named(s"serving.$k.exec")
      val c = new Counters
      (b ++ x).foreach(s => c.add(tr.deep(s)))
      val m = math.max(b.length, 1).toDouble
      Seq(s"serving.$k.build_ms" -> EngineLayers.meanMs(b),
        s"serving.$k.exec_ms" -> EngineLayers.meanMs(x),
        s"serving.$k.jobs" -> c.jobs / m,
        s"serving.$k.files_read" -> c.filesRead / m,
        s"serving.$k.rows_read_per_row_out" ->
          c.rowsRead.toDouble / math.max(rowsOut(k), 1L))
    }
    IndexMaintain.LayerNames.map(_ -> 0.0).toMap ++ serving ++ Map(
      "eav_release.publish_s" -> Util.median(untraced.map(_._2).toSeq),
      "eav_release.republish_s" -> Util.median(untraced.map(_._3).toSeq),
      "sources.lineitem_scans" -> upC.map(_.lineitemScans).sum / n,
      "main_pipeline.build_s" -> EngineLayers.meanMs(tr.named("main_pipeline.build")) / 1000,
      "main_pipeline.exec_s" -> execS,
      "eav_store.upsert_self_s" -> (EngineLayers.meanMs(ups) / 1000 - execS),
      "eav_store.jobs_per_upsert" -> upC.map(_.jobs).sum / n,
      "eav_store.rows_reread" -> upC.map(_.storeRowsRead).sum / n,
      "eav_store.files_written" -> upC.map(_.filesWritten).sum / n,
      "eav_store.bytes_written" -> upC.map(_.bytesWritten).sum / n,
      "eav_store.compact_s" -> EngineLayers.meanMs(tr.named("eav_store.compact")) / 1000)
  }
}

object EavRelease {
  val Suppliers = 10
  val Days = 365

  final case class Request(kind: String, area: String, metric: String)

  val Kinds = Seq("latest", "blob", "percentiles", "delta")
  /** The requests after a cycle: twice a fixed order of twenty that
    * spreads each kind over the sequence, 10 latest, 4 blob, 3 percentiles
    * and 3 delta, the mix 50 / 20 / 15 / 15%. */
  val Order: Seq[String] = {
    val twenty = Seq.fill(3)(Seq("latest", "blob", "latest", "percentiles",
      "latest", "delta")).flatten ++ Seq("latest", "blob")
    twenty ++ twenty
  }
  /** The numeric metrics MainPipeline publishes. */
  val Metrics = Seq("qty", "qtyRollingSum", "qtyChange", "qtyChangePercentage",
    "qtyRollingRate")

  private val ZipfWeight = (0 until Suppliers).map(k => 1 / math.pow(k + 1, 1.2))
  private val ZipfTotal = ZipfWeight.sum

  def Partition(release: Int): String = s"${MainPipeline.releaseDate(release)}|supplier"

  /** The delta request compares the last 30 days of the two releases. */
  val DeltaFrom: java.sql.Date =
    java.sql.Date.valueOf(Inputs.FirstDay.toLocalDate.plusDays(Days - 30L))

  val LayerNames: Seq[String] = Seq("eav_release.publish_s",
    "eav_release.republish_s", "sources.lineitem_scans", "main_pipeline.build_s",
    "main_pipeline.exec_s", "eav_store.upsert_self_s", "eav_store.jobs_per_upsert",
    "eav_store.rows_reread", "eav_store.files_written", "eav_store.bytes_written",
    "eav_store.compact_s") ++ Kinds.flatMap(k => Seq("build_ms", "exec_ms", "jobs",
      "files_read", "rows_read_per_row_out").map(x => s"serving.$k.$x"))
}
