package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: `runMain graft.Verify <sfDir> <outDir> [query ...]`.
  * Each SparkEntry.queries result → parquet, plus oracle_sql.json, for the
  * DuckDB compare in `tools/check.py`. Named queries dump only those (an
  * unknown name fails before anything runs), with oracle_sql.json
  * restricted to them and a names.json listing them, so one query can be
  * gated in seconds instead of re-running the full surface. */
object Verify {
  /** A JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in an oracle's SQL would otherwise make the
    * checker's json.load fail and silently zero the correctness gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, named @ _*) = args.toSeq
    val names = named.distinct
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = if (names.isEmpty) queries.toSeq else names.map(n => n -> queries(n))
    val spark = LocalSession.create()
    new java.io.File(outDir).mkdirs()
    // Run 4 queries concurrently: each is mostly single-threaded at the
    // coalesce(1) write, so overlapping them keeps the executor pool busy.
    // Spark's scheduler is thread-safe; results are unaffected by ordering.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.isEmpty || names.contains(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // names.json tells check.py which queries a partial dump covers, so its
    // Python-oracle loop skips the undumped ones instead of failing them as
    // MISSING; a full dump removes a stale one so every check runs
    val namesJson = Paths.get(s"$outDir/names.json")
    if (names.isEmpty) Files.deleteIfExists(namesJson)
    else Files.writeString(namesJson, names.map(jsonString).mkString("[", ",", "]"))
    spark.stop()
  }
}
