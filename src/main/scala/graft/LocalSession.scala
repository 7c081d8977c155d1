package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main, the specs and the benchmark
  * harness run under this config — hand-copied builder blocks had already
  * drifted, and a config added to only some of them silently runs
  * benchmarks, plan assertions and validation under different sessions.
  *
  * The graft functions and optimizer rules come from [[plans.GraftExtensions]]
  * at build time, so this session and every `newSession()` of it resolve
  * them; no query path registers anything itself. The warehouse is a fresh
  * temporary directory: a stale location from an earlier run would make
  * `saveAsTable` refuse table names the in-memory catalog forgot. */
object LocalSession {

  /** A fresh directory under the system temp directory, deleted with
    * everything under it when the JVM exits: the session's warehouse and
    * the fixture stores a run builds or clones. (`deleteOnExit` alone
    * removes only empty directories.) */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Scan-parallelism floor (guide: spark.sql.files.minPartitionNum /
    // split sizing). Spark sizes file splits as
    // max(openCostInBytes, totalBytes/defaultParallelism) capped by
    // maxPartitionBytes; the 4 MB openCost default floors every split at
    // 4 MB, so a table under ~4 MB scans as ONE task and every map-side
    // pass over it (shingling, signing, quantizer-training iterations)
    // runs single-threaded regardless of core count. Lowering the open
    // cost lets small inputs split to input-size/parallelism — scale-
    // ADAPTIVE, not a local constant: large files keep the
    // maxPartitionBytes cap, and at fleet scale a lower open cost only
    // packs more small files per split (fewer tasks, the desirable
    // direction). Env-overridable for A/B and cluster tuning.
    val openCost = sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", (16 * 1024).toString)
    val warehouse = tempDir("graft-warehouse")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.openCostInBytes", openCost)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
