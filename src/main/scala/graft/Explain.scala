package graft

/** Plan inspector: prints the formatted physical plan of selected queries so
  * shuffle counts, broadcast choices, pushed filters and codegen spans can be
  * audited (`runMain graft.Explain [queryName ...]`), under the session
  * config Bench and Verify run with. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = LocalSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q04_rolling_sum_7d", "q21_star_join", "q48_cosine_topk", "q51_eav_pipeline")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
