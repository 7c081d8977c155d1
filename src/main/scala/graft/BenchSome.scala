package graft

/** Selective benchmark: `runMain graft.BenchSome q60_densify_nested q64_pipeline_sql`
  * times just the named queries (same session config and warmup as Bench),
  * two passes — the second pass isolates steady-state time from first-run
  * codegen. */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create()
    Bench.warmup(spark, sfDir)
    val names = if (args.nonEmpty) args.toSeq else Seq("q64_pipeline_sql")
    for (pass <- 1 to 2; name <- names) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"[bench$pass] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    spark.stop()
  }
}
