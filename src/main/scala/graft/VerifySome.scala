package graft
import java.nio.file.{Files, Paths}
/** Selective correctness dump:
  * `runMain graft.VerifySome <sfDir> <outDir> q141_maximal_spans ...`
  * dumps just the named queries (Verify's format) plus an oracle_sql.json
  * restricted to them, so `tools/check.py` can gate one new query in seconds
  * instead of re-running the full surface. */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSeq
    val spark = LocalSession.create()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    import Verify.jsonString
    val json = SparkEntry.oracleSql.view.filterKeys(names.contains)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // names.json tells check.py which queries this partial dump covers, so
    // its Python-oracle loop skips the ~12 undumped ones instead of failing
    // them as MISSING — without this a partial gate could never exit 0
    Files.writeString(Paths.get(s"$outDir/names.json"),
      names.map(jsonString).mkString("[", ",", "]"))
    spark.stop()
  }
}
