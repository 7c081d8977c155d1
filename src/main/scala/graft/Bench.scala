package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The warmup every timing main (Bench, BenchSome, ProfileSome) runs before
    * its first timed query, so their readings compare. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    // Warm the session (codegen paths, parquet listings/footers) so the first
    // timed query per table doesn't absorb the one-off JVM/planner startup;
    // the FileStatusCache then serves every query's listing.
    graft.sources.Tables.names.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    // ... and the WindowExec/Sort codegen templates, which count() never hits.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      spark.range(1000).withColumn("g", col("id") % 7)
        .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("id")))
        .withColumn("s", sum("id").over(Window.partitionBy("g").orderBy("id")
          .rowsBetween(-3, 0)))
        .write.mode("overwrite").format("noop").save()
    }
    // One representative query untimed: the very first query otherwise
    // absorbs several seconds of executor/codegen warmup, and Map iteration
    // order is unstable across builds — past rounds read that as phantom
    // per-query regressions. Timed queries then run in sorted-name order so
    // every round measures the same schedule.
    SparkEntry.queries("q04_rolling_sum_7d")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create()
    // Quiet the WARN-level DAGScheduler noise (large-task-binary etc.) so the
    // driver's bounded tail capture is not flooded between the per-query runs
    // and the final JSON summary line.
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sfDir)
    def onePass(): Seq[(String, Double)] = {
      // each pass reports its OWN fixture spend: pass 1 pays the shared
      // read-only store builds, a steady second pass legitimately records
      // ~0 for them (memoized) while mutating queries rebuild per pass
      graft.queries.VectorQueries.fixtureBuildSec.clear()
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink forces full materialization of every output column —
        // count() would let Catalyst prune the projection work away.
        // A failed query records -1, never its elapsed time.
        val sec =
          try {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
        name -> sec
      }
    }
    // SPARK_GRAFT_BENCH_PASSES=2 reports the SECOND pass per query —
    // steady-state numbers with codegen/IO caches warm, the figure that
    // round-over-round comparison should use. Default stays one cold pass
    // (the driver's contract).
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption).getOrElse(1))
    val results = (1 to passes).map(_ => onePass()).last
    // Locale.ROOT explicitly: the default-locale `f` interpolator would emit
    // comma decimals (12,345) on e.g. de_DE — invalid JSON
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s""""$k":${d3(v)}""" }
      .mkString("{", ",", "}")
    // total over SUCCESSFUL queries only — summing the -1 failure sentinels
    // would make the benchmark read faster when queries break
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // Per-query seconds back on stdout (round-15 brief): the driver's PERF
    // per_query/scaling blocks were empty since round 9 because this line
    // shipped "queries":{}. The capture window is bounded (~2000 B: every
    // stored BENCH_r*.json tail is exactly 2000 chars, and round 4's full
    // map line was cut MID-LINE in the stored tail) and a summary line that
    // outgrows it loses even the total, so the split is defensive:
    //  - the COMPLETE map prints first as short self-contained chunk lines
    //    (any line-scanning parser can reassemble; each fits any window);
    //  - the final summary line inlines the HEAVIEST queries' seconds, as
    //    many as fit a hard 1900-byte line budget (covers >90% of total
    //    seconds; the sub-second tail is bench noise and lives in the
    //    chunks and the artifact file). SPARK_GRAFT_BENCH_QMAP=full forces
    //    the complete map inline (for local A/Bs); =none restores the r14
    //    empty-map line.
    val qsMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val artifact = if (passes > 1) "BENCH_STEADY.json" else "BENCH_FULL.json"
    def entry(kv: (String, Double)): String = s""""${kv._1}":${d3(kv._2)}"""
    val qmapMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_QMAP", "fit")
    if (qmapMode != "none") {
      val chunks = results.grouped(30).toSeq
      chunks.zipWithIndex.foreach { case (g, i) =>
        println(s"""{"metric":"queries_chunk","part":${i + 1},""" +
          s""""of":${chunks.size},"queries":${g.map(entry)
            .mkString("{", ",", "}")}}""")
      }
    }
    // `queries_inlined` counts the entries of the inline map, so a parser
    // can tell the fit mode's heaviest-first subset from the full map that
    // `queries_md5` hashes
    def lineOf(qmap: String, inlined: Int): String =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
        s""""queries":$qmap,"queries_inlined":$inlined,"n_queries":${results.size},""" +
        s""""n_failed":$nFailed,"queries_md5":"$qsMd5","detail":"$artifact","sf":"$sfDir"}"""
    val (inlined, nInlined) = qmapMode match {
      case "none" => ("{}", 0)
      case "full" => (qs, results.size)
      case _ => // heaviest-first greedy fill under the line budget
        // (the count's width is bounded by the full map's)
        val room = 1900 - lineOf("{}", results.size).length
        val acc = new StringBuilder
        var n = 0
        results.sortBy(-_._2).foreach { kv =>
          val e = entry(kv)
          if (acc.length + e.length + 1 <= room) {
            if (acc.nonEmpty) acc.append(','); acc.append(e); n += 1
          }
        }
        (s"{$acc}", n)
    }
    println(lineOf(inlined, nInlined))
    // Attribution for the store-MUTATING queries whose in-harness fixture
    // builds (prior index/graph/degenerate store — PERSISTED state in
    // production) cannot share the frozen read-only fixture: the artifact
    // carries the fixture seconds per query so wall-times are not misread
    // as operator cost (query-path cost = queries[name] - fixture_build).
    val fbJson = {
      import scala.jdk.CollectionConverters._
      graft.queries.VectorQueries.fixtureBuildSec.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${d3(v)}""" }.mkString("{", ",", "}")
    }
    val full = s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
      s""""queries":$qs,"fixture_build":$fbJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (full + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
