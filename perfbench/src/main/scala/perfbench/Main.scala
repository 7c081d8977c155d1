package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.LocalSession

/** One benchmark run inside one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  *
  * Order: host calibration, session, the fixed warmup, one untimed set-up
  * and [[SetupReps]] counted ones (their median is `setup_s`), the
  * workload's warm operation, the timed phase, retained heap after a full
  * GC, then the output checks. With `--trace 1` a traced phase of the same
  * operations follows the timed one, and another untraced phase follows
  * it; the per-layer metrics come from the traced phase, the tracing
  * overhead from it and the phase after it. Writes its metrics to FILE as
  * JSON; `run.py` adds the independent checks and prints the result line. */
object Main {

  /** Counted set-ups. An untimed one runs before them, so the cold first
    * set-up of the session is in none of the counted ones. */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    val calibrationMs = Calibrate.ms()
    val spark = LocalSession.create()
    progress("session")
    val (_, warmupS) = Util.nowS(Warmup.run(spark, s"$work/warmup"))
    Util.deleteDir(s"$work/warmup")
    progress(f"warmup $warmupS%.2f s")

    val w: Workload = name match {
      case "eav_release_serve" => new EavRelease(spark, seed, work)
      case "index_maintain_serve" => new IndexMaintain(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val setupS = (0 to SetupReps).map { r =>
      if (r > 0) Util.deleteDir(s"$work/setup-${r - 1}")
      Util.nowS(w.setup(s"$work/setup-$r"))._2
    }
    progress(s"setup ${setupS.map(x => f"$x%.2f").mkString(" ")} s (first untimed)")

    val off = new Tracer(spark, false, () => Nil)
    val untraced = w.runPhase(seconds, 0, off, warm = true)
    progress(s"timed ops ${untraced.opNs.map(x => f"${x / 1e9}%.2f").mkString(" ")} s, " +
      s"requests ${untraced.serveNs.map(x => f"${x / 1e6}%.0f").mkString(" ")} ms")
    // the traced phase, then an untraced one again: the tracing overhead
    // compares the traced phase with the untraced one after it. That one
    // runs on a JVM warmer still, so the comparison overstates the
    // overhead and never hides it.
    val traced = if (!trace) None else {
      val tr = new Tracer(spark, true, () => w.storeRoots)
      val ph = w.runPhase(seconds, 1, tr)
      tr.close()
      val after = w.runPhase(seconds, 2, off)
      progress(s"traced ops ${ph.opNs.map(x => f"${x / 1e9}%.2f").mkString(" ")} s, " +
        s"untraced again ${after.opNs.map(x => f"${x / 1e9}%.2f").mkString(" ")} s")
      Some((tr, ph, after))
    }
    val heapMb = retainedHeapMb()
    progress(f"retained heap $heapMb%.1f MB")
    val (wrong, checkS) = Util.nowS(w.check())
    progress(f"checked, $wrong wrong, $checkS%.1f s")

    def p50(ph: Phase) = Util.median(ph.opNs.map(_ / 1e9).toSeq)
    val e2e = Seq(
      ("setup_s", Util.median(setupS.tail), "s", SetupReps),
      ("op_p50_s", p50(untraced), "s", untraced.opNs.length),
      ("serve_p50_ms", Util.median(untraced.serveNs.map(_ / 1e6).toSeq), "ms",
        untraced.serveNs.length),
      ("store_bytes_per_row", w.storeBytesPerRow, "B/row", 1),
      ("retained_heap_mb", heapMb, "MB", 1))
    val layers = traced.toSeq.flatMap { case (tr, ph, after) =>
      val overhead = (p50(ph) / p50(after) - 1) * 100
      (EngineLayers(tr, ph.opNs.length, cores) ++ w.layers(tr) ++ Map(
        "host.calibration_ms" -> calibrationMs,
        "host.warmup_s" -> warmupS,
        "trace.overhead_pct" -> overhead,
        "trace.drain_pct" -> 100.0 * tr.drainNs / (ph.opNs.sum + ph.serveNs.sum)))
    }
    traced.foreach { case (tr, _, _) =>
      Util.writeLines(s"$work/spans.jsonl", tr.jsonLines) }

    val phases = Seq(untraced) ++ traced.toSeq.flatMap(t => Seq(t._2, t._3))
    Util.writeLines(opt("out"), Seq(Util.json(Map(
      "workload" -> name, "seed" -> seed,
      "attempted" -> phases.map(_.attempted).sum,
      "failed" -> (phases.map(_.failed).sum + wrong),
      "check" -> w.checkDir,
      "e2e" -> e2e.map { case (k, v, u, n) =>
        k -> Map("value" -> v, "unit" -> u, "samples" -> n) }.toMap,
      "layers" -> layers.toMap))))
    spark.stop()
    progress("stopped")
  }

  private val t0 = System.nanoTime()

  /** A progress line on stderr, with the seconds since the JVM began. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%6.1f $msg")

  /** Heap in use after full collections, in MB: the least of several
    * collections, because blocks pinned by dropped RDDs are freed by
    * Spark's cleaner thread only after a collection has found them. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }
}

/** A fixed CPU loop timed before each run: a host-speed drift canary,
  * recorded and never used to rescale another metric. */
object Calibrate {
  def ms(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + i; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** The warmup every workload runs, identical for all of them and for every
  * commit measured: one small parquet write, read, aggregation and collect,
  * so that session start-up and the first job's one-time costs are paid
  * before set-up. Each workload's own code paths warm during its untimed
  * set-up and its warm operation. */
object Warmup {
  def run(spark: SparkSession, dir: String): Unit = {
    spark.range(0, 20000)
      .select((col("id") % 37).as("k"), (col("id") * 7 % 101).cast("double").as("v"))
      .write.parquet(dir)
    spark.read.parquet(dir).groupBy("k").agg(sum("v")).collect()
  }
}
