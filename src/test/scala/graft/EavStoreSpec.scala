package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{EavStore, GramStore, IndexStore, PartitionDirs, SignatureStore}

class EavStoreSpec extends SparkSpec {
  import spark.implicits._

  private def row(hash: String, part: String, date: String, payload: String) =
    (hash, 1, "supplier", "1", "qty", part, java.sql.Date.valueOf(date), payload)

  private val cols = Seq("hash", "release_id", "areaType", "areaCode", "metric",
    "partition_id", "date", "payload")

  private def rows(part: String, n: Int, tag: String): DataFrame =
    (1 to n).map(i => row(s"h$i", part, "2021-01-01", s"$tag$i")).toDF(cols: _*)

  private def payloads(dir: String): Map[(String, String), String] =
    EavStore.read(spark, dir).select("hash", "partition_id", "payload")
      .as[(String, String, String)].collect()
      .map { case (h, p, v) => (h, p) -> v }.toMap

  private def parquetFiles(dir: String, part: String): Map[String, Long] =
    new java.io.File(s"$dir/partition_id=$part").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap

  /** A store whose data files are `parts` written as plain parquet, to
    * shape its file layout, under the schema record an upsert of the same
    * columns writes (an upsert of no rows). */
  private def rawStore(dir: String, parts: DataFrame*): Unit = {
    EavStore.upsert(spark, parts.head.limit(0), dir)
    parts.foreach(_.write.mode("append").partitionBy("partition_id").parquet(dir))
  }

  /** Every file under `dir`, hidden ones included, with its bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val paths = Files.walk(root)
    try paths.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally paths.close()
  }

  /** Input records over every task `body` runs, summed by a listener: source
    * rows, one per columnar cache batch read back, one per checkpointed row
    * read back. */
  private def recordsRead(body: => Unit): Long = {
    val n = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead))
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  test("upsert replaces rows on (hash, partition_id) and unions the rest") {
    val dir = LocalSession.tempDir("eav").toString + "/store"
    val first = Seq(
      row("h1", "p1", "2021-01-01", "old1"),
      row("h2", "p1", "2021-01-02", "old2"),
      row("h3", "p2", "2021-01-03", "old3"))
      .toDF("hash", "release_id", "areaType", "areaCode", "metric",
        "partition_id", "date", "payload")
    EavStore.upsert(spark, first, dir)
    assert(EavStore.read(spark, dir).count() === 3)

    val second = Seq(
      row("h1", "p1", "2021-01-01", "new1"),   // conflict -> replaced
      row("h4", "p1", "2021-01-04", "new4"))   // new row, same partition
      .toDF("hash", "release_id", "areaType", "areaCode", "metric",
        "partition_id", "date", "payload")
    EavStore.upsert(spark, second, dir)

    val after = EavStore.read(spark, dir)
    assert(after.count() === 4)
    val payloads = after.select("hash", "payload").as[(String, String)].collect().toMap
    assert(payloads("h1") === "new1")
    assert(payloads("h2") === "old2")
    assert(payloads("h3") === "old3")
    assert(payloads("h4") === "new4")
  }

  test("ON CONFLICT DO UPDATE semantics: changed payload lands exactly once") {
    // reference uploader.py:320-325 — a re-released row with the same
    // (hash, partition_id) must REPLACE the stored payload: not drop the
    // update, not keep both versions.
    val dir = LocalSession.tempDir("eav_upd").toString + "/store"
    val schema = Seq("hash", "release_id", "areaType", "areaCode", "metric",
      "partition_id", "date", "payload")
    EavStore.upsert(spark,
      Seq(row("h1", "p1", "2021-01-01", "v1")).toDF(schema: _*), dir)
    EavStore.upsert(spark,
      Seq(row("h1", "p1", "2021-01-09", "v2")).toDF(schema: _*), dir)
    val rows = EavStore.read(spark, dir)
      .select("hash", "date", "payload").collect()
    assert(rows.length === 1, s"expected exactly one row, got ${rows.length}")
    assert(rows.head.getString(2) === "v2")
    assert(rows.head.getDate(1).toString === "2021-01-09")
  }

  test("upsert is idempotent: re-upserting the same release changes nothing") {
    val dir = LocalSession.tempDir("eav_idem").toString + "/store"
    val schema = Seq("hash", "release_id", "areaType", "areaCode", "metric",
      "partition_id", "date", "payload")
    val rel = Seq(row("h1", "p1", "2021-01-01", "v1"),
      row("h2", "p2", "2021-01-02", "v2")).toDF(schema: _*)
    EavStore.upsert(spark, rel, dir)
    EavStore.upsert(spark, rel, dir)
    val after = EavStore.read(spark, dir)
      .select("hash", "payload").as[(String, String)].collect().toSet
    assert(after === Set("h1" -> "v1", "h2" -> "v2"))
  }

  test("write clustering bounds files per store partition") {
    val dir = LocalSession.tempDir("eav_files").toString + "/store"
    val rows = (1 to 5000).map(i =>
      row(s"h$i", s"p${i % 3}", "2021-01-01", s"v$i"))
      .toDF("hash", "release_id", "areaType", "areaCode", "metric",
        "partition_id", "date", "payload")
    EavStore.upsert(spark, rows, dir)
    (0 until 3).foreach { p =>
      val files = new java.io.File(s"$dir/partition_id=p$p")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files > 0 && files <= EavStore.FilesPerPartition,
        s"partition p$p has $files files")
    }
  }

  test("S13 dump/load migration round-trip: store -> JSON.gz -> rebuilt store") {
    val src = LocalSession.tempDir("eav_src").toString + "/store"
    val dump = LocalSession.tempDir("eav_dump").toString + "/dump"
    val dst = LocalSession.tempDir("eav_dst").toString + "/store"
    val rows = Seq(
      row("h1", "p1", "2021-01-01", "v1"), row("h2", "p2", "2021-01-02", "v2"))
      .toDF("hash", "release_id", "areaType", "areaCode", "metric",
        "partition_id", "date", "payload")
    EavStore.upsert(spark, rows, src)
    // dump: SELECT * -> compressed JSON (the reference's db_dumper shape)
    EavStore.read(spark, src).write.option("compression", "gzip").json(dump)
    // load: read the dump, upsert into a fresh store (db_loader shape)
    val loaded = spark.read.json(dump)
      .select($"hash", $"release_id".cast("int"), $"areaType", $"areaCode",
        $"metric", $"partition_id", $"date".cast("date"), $"payload")
    EavStore.upsert(spark, loaded, dst)
    val a = EavStore.read(spark, src).select("hash", "payload")
      .as[(String, String)].collect().toSet
    val b = EavStore.read(spark, dst).select("hash", "payload")
      .as[(String, String)].collect().toSet
    assert(a === b && a.size === 2)
  }

  test("compact rewrites only fragmented partitions and preserves content") {
    val dir = LocalSession.tempDir("eav_compact").toString + "/store"
    val schema = Seq("hash", "release_id", "areaType", "areaCode", "metric",
      "partition_id", "date", "payload")
    // p1 fragmented (40 files for 200 rows), p2 healthy (1 file)
    val frag = (1 to 200).map(i =>
      row(s"h$i", "2026_8_1|p1", "2021-01-01", s"v$i"))
      .toDF(schema: _*)
    rawStore(dir, frag.repartition(40),
      Seq(row("x1", "2026_8_1|p2", "2021-01-02", "w1")).toDF(schema: _*).coalesce(1))

    def files(part: String): Array[java.io.File] =
      new java.io.File(s"$dir/partition_id=$part")
        .listFiles().filter(_.getName.endsWith(".parquet"))

    assert(files("2026_8_1|p1").length === 40)
    val p2Before = files("2026_8_1|p2").map(_.getName).toSet
    val before = EavStore.read(spark, dir).select("hash", "payload")
      .as[(String, String)].collect().toSet

    val rewritten = EavStore.compact(spark, dir)
    assert(rewritten === Seq("2026_8_1|p1"))
    assert(files("2026_8_1|p1").length <= EavStore.FilesPerPartition)
    // the healthy partition's files were not touched
    assert(files("2026_8_1|p2").map(_.getName).toSet === p2Before)
    val after = EavStore.read(spark, dir).select("hash", "payload")
      .as[(String, String)].collect().toSet
    assert(after === before)
    // second compact is a no-op
    assert(EavStore.compact(spark, dir).isEmpty)
  }

  test("compact honors a maxFiles bound below FilesPerPartition and converges") {
    val dir = LocalSession.tempDir("eav_compact4").toString + "/store"
    val schema = Seq("hash", "release_id", "areaType", "areaCode", "metric",
      "partition_id", "date", "payload")
    rawStore(dir, (1 to 100).map(i => row(s"h$i", "p1", "2021-01-01", s"v$i"))
      .toDF(schema: _*).repartition(20))
    assert(EavStore.compact(spark, dir, maxFiles = 4) === Seq("p1"))
    val files = new java.io.File(s"$dir/partition_id=p1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"compact(maxFiles=4) left $files files")
    // converged: the rewritten partition is no longer fragmented
    assert(EavStore.compact(spark, dir, maxFiles = 4).isEmpty)
  }

  test("partition values with '+' survive the vacuum/compact decode round-trip") {
    // Hive path escaping writes '+' unescaped; URLDecoder would turn it into
    // a space and the retention predicate would see the wrong value
    val dir = LocalSession.tempDir("eav_plus").toString + "/store"
    val schema = Seq("hash", "release_id", "areaType", "areaCode", "metric",
      "partition_id", "date", "payload")
    rawStore(dir, Seq(row("h1", "2026_8_1|a+b", "2021-01-01", "v1"),
        row("h2", "2026_8_2|a+b", "2021-01-02", "v2"))
      .toDF(schema: _*))
    val seen = scala.collection.mutable.Set[String]()
    EavStore.vacuum(spark, dir, keep = { v => seen += v; v.contains("2026_8_2") })
    assert(seen === Set("2026_8_1|a+b", "2026_8_2|a+b"), seen)
    assert(EavStore.read(spark, dir).select("hash").as[String].collect().toSeq
      === Seq("h2"))

    // Every store layout, with a value Spark writes as it is ('+') and one
    // it escapes (':' as %3A): the listing and the vacuum predicate see the
    // written values, and a takedown that empties the escaped release
    // leaves none of its rows on disk or servable.
    val values = Seq("a+b", "a:b")
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    def half(df: DataFrame, id: String, i: Int) = df.where(col(id) % 2 === i)
    def cands(df: DataFrame) = df.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
    case class Layout(name: String, cols: Seq[String], tables: Seq[String],
                      write: String => Unit,
                      vacuum: (String, String => Boolean) => Seq[String],
                      takedown: Option[String => Unit] = None)
    val layouts = Seq(
      Layout("eav", Seq("partition_id"), Seq(""),
        d => EavStore.upsert(spark, values.zipWithIndex.map { case (v, i) =>
          row(s"h$i", v, "2021-01-01", s"p$i") }.toDF(cols: _*), d),
        EavStore.vacuum(spark, _, _)),
      Layout("signature", Seq("release"), Seq(""),
        d => values.zipWithIndex.foreach { case (v, i) =>
          SignatureStore.append(spark, d, v, half(docs, "doc_id", i), "doc_id", "text") },
        SignatureStore.vacuum(spark, _, _),
        Some(d => {
          val gone = half(docs, "doc_id", 1).select(col("doc_id").cast("long"))
          assert(SignatureStore.delete(spark, d, gone) === gone.count())
          assert(SignatureStore.read(spark, d).where(col("release") === "a:b").isEmpty,
            "signature rows of the emptied release survive its takedown")
        })),
      Layout("gram", Seq("release"), Seq(""),
        d => values.zipWithIndex.foreach { case (v, i) =>
          GramStore.append(spark, d, v, half(docs, "doc_id", i), "text") },
        GramStore.vacuum(spark, _, _)),
      Layout("index", Seq("cell", "release"), Seq("/codes", "/rerank/codes"),
        d => {
          IndexStore.build(spark, d, half(emb, "vec_id", 0), "vec_id", "embedding",
            dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
            release = "a+b")
          IndexStore.buildRerank(spark, d, cands(half(emb, "vec_id", 0)))
          IndexStore.append(spark, d, half(emb, "vec_id", 1), "vec_id", "embedding", "a:b")
          IndexStore.appendRerank(spark, d, cands(half(emb, "vec_id", 1)), "a:b")
        },
        IndexStore.vacuum(spark, _, _),
        Some(d => {
          val gone = cands(half(emb, "vec_id", 1))
          IndexStore.delete(spark, d, gone.select("cand_id"))
          val removed = IndexStore.purge(spark, d)
          assert(removed === Map("codes" -> gone.count(), "rerank/codes" -> gone.count()))
          assert(IndexStore.readCodes(spark, d).where(col("release") === "a:b").isEmpty,
            "code rows of the emptied release survive its purge")
          assert(IndexStore.readRerankCodes(spark, d).where(col("release") === "a:b").isEmpty,
            "rerank-tier rows of the emptied release survive its purge")
          val queries = gone.select(col("cand_id").as("q_id"), col("cand_emb").as("q_emb"))
          val served = IndexStore.query(spark, d, queries, cands(emb),
            nProbe = 8, k = 5, shortlist = 100)
          assert(served.count() > 0)
          assert(served.join(gone, Seq("cand_id")).isEmpty,
            "a purged id is servable again")
        })))
    layouts.foreach { l =>
      val d = LocalSession.tempDir(s"layout_${l.name}").toString + "/store"
      def listed = l.tables.map(t => t ->
        PartitionDirs.list(spark, d + t, l.cols).map(_.values.last).toSet).toMap
      l.write(d)
      assert(listed === l.tables.map(_ -> values.toSet).toMap, l.name)
      val seen = scala.collection.mutable.Set[String]()
      assert(l.vacuum(d, { v => seen += v; true }) === Seq.empty, l.name)
      assert(seen === values.toSet, l.name)
      l.takedown.foreach { takedown =>
        takedown(d)
        assert(listed === l.tables.map(_ -> Set("a+b")).toMap,
          s"${l.name}: the emptied release's directories survive the takedown")
      }
    }
  }

  test("vacuum drops partitions failing the retention predicate, nothing else") {
    val dir = LocalSession.tempDir("eav_vacuum").toString + "/store"
    val schema = Seq("hash", "release_id", "areaType", "areaCode", "metric",
      "partition_id", "date", "payload")
    rawStore(dir, Seq(row("h1", "2026_8_1|supplier", "2021-01-01", "old"),
        row("h2", "2026_8_2|supplier", "2021-01-02", "new"))
      .toDF(schema: _*))
    val dropped = EavStore.vacuum(spark, dir, keep = _.startsWith("2026_8_2"))
    assert(dropped === Seq("2026_8_1|supplier"))
    val rest = EavStore.read(spark, dir).select("hash").as[String].collect().toSeq
    assert(rest === Seq("h2"))
  }

  test("duplicate input keys keep the earliest date, into an empty store and a stored partition") {
    val dir = LocalSession.tempDir("eav_dup").toString + "/store"
    EavStore.upsert(spark, Seq(
      row("h1", "p1", "2021-01-05", "late"), row("h1", "p1", "2021-01-02", "early"),
      row("h2", "p1", "2021-01-03", "v2")).toDF(cols: _*), dir)
    assert(payloads(dir) === Map(("h1", "p1") -> "early", ("h2", "p1") -> "v2"))
    EavStore.upsert(spark, Seq(
      row("h1", "p1", "2021-01-09", "late2"), row("h1", "p1", "2021-01-07", "early2"),
      row("h3", "p1", "2021-01-01", "v3")).toDF(cols: _*), dir)
    assert(payloads(dir) === Map(("h1", "p1") -> "early2", ("h2", "p1") -> "v2",
      ("h3", "p1") -> "v3"))
    assert(EavStore.read(spark, dir).count() === 3)
  }

  test("publishing a new partition leaves every stored partition's files as they were") {
    val dir = LocalSession.tempDir("eav_newpart").toString + "/store"
    EavStore.upsert(spark, rows("p1", 300, "a").unionByName(rows("p2", 300, "b")), dir)
    val before = Seq("p1", "p2").map(p => p -> parquetFiles(dir, p)).toMap
    EavStore.upsert(spark, rows("p3", 300, "c"), dir)
    assert(Seq("p1", "p2").map(p => p -> parquetFiles(dir, p)).toMap === before)
    assert(parquetFiles(dir, "p3").nonEmpty)
    assert(EavStore.read(spark, dir).count() === 900)
  }

  test("upsert leaves a caller's cache in place and unpins only its own pin") {
    val dir = LocalSession.tempDir("eav_cached").toString + "/store"
    val cached = rows("p1", 50, "a").cache()
    cached.count()
    EavStore.upsert(spark, cached, dir)             // empty store
    EavStore.upsert(spark, cached, dir)             // merge path
    assert(cached.storageLevel === StorageLevel.MEMORY_AND_DISK)
    cached.unpersist()
    val plain = rows("p1", 50, "b")
    EavStore.upsert(spark, plain, dir)
    assert(plain.storageLevel === StorageLevel.NONE)
    assert(payloads(dir).values.toSet === (1 to 50).map(i => s"b$i").toSet)
  }

  test("write clustering bounds files per store partition on the merge path") {
    val dir = LocalSession.tempDir("eav_mergefiles").toString + "/store"
    def release(from: Int, tag: String) = (from until from + 3000).map(i =>
      row(s"h$i", s"p${i % 3}", "2021-01-01", s"$tag$i")).toDF(cols: _*)
    EavStore.upsert(spark, release(0, "a"), dir)
    EavStore.upsert(spark, release(1500, "b"), dir)  // half replaces, half new
    (0 until 3).foreach { p =>
      val files = parquetFiles(dir, s"p$p").size
      assert(files > 0 && files <= EavStore.FilesPerPartition,
        s"partition p$p has $files files")
    }
    val after = payloads(dir)
    assert(after.size === 4500)
    assert(after(("h0", "p0")) === "a0" && after(("h1500", "p0")) === "b1500")
  }

  test("upsert evaluates its input once: it reads the source as one noop write does") {
    val base = LocalSession.tempDir("eav_reads").toString
    val dir = s"$base/store"
    EavStore.upsert(spark, rows("p_old", 400, "a"), dir)
    rows("p_new", 600, "b").repartition(3).write.parquet(s"$base/in")
    val in = spark.read.parquet(s"$base/in")
    val once = recordsRead(in.write.format("noop").mode("overwrite").save())
    assert(once === 600)
    // Each later job reads upsert's pin instead of the source: one record
    // per cached batch, i.e. per input partition at this size. A second
    // evaluation of the input would add another 600.
    val pinReads = in.rdd.getNumPartitions
    // a new partition: no stored rows, two jobs over the pin
    val publish = recordsRead(EavStore.upsert(spark, in, dir))
    assert(publish >= once && publish <= once + 2 * pinReads, s"publish read $publish")
    // a re-publish adds only the overlapping partition's 600 stored rows
    val again = recordsRead(EavStore.upsert(spark, in, dir))
    assert(again >= once + 600 && again <= once + 600 + 3 * pinReads,
      s"re-publish read $again")
    assert(payloads(dir).size === 1000)
  }

  test("the schema record equals every data file's footer schema after upserts") {
    val dir = LocalSession.tempDir("eav_schema").toString + "/store"
    EavStore.upsert(spark, rows("p1", 300, "a"), dir)
    EavStore.upsert(spark, rows("p1", 300, "b").unionByName(rows("p2", 100, "c")), dir)
    val recorded = DataType.fromJson(new String(
      Files.readAllBytes(java.nio.file.Paths.get(dir, EavStore.SchemaFile)), "UTF-8"))
      .asInstanceOf[StructType]
    assert(recorded.catalogString === rows("p1", 1, "a").schema.catalogString)
    val inFiles = StructType(recorded.filterNot(_.name == "partition_id")).catalogString
    val files = snapshot(dir).keys.filter(_.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach(f =>
      assert(spark.read.parquet(s"$dir/$f").schema.catalogString === inFiles, f))
    // the declared read has the columns, types and order inference finds
    assert(EavStore.read(spark, dir).schema.catalogString ===
      spark.read.parquet(dir).schema.catalogString)
  }

  test("an upsert whose schema differs from the record fails and writes nothing") {
    val dir = LocalSession.tempDir("eav_mismatch").toString + "/store"
    EavStore.upsert(spark, rows("p1", 50, "a"), dir)
    val before = snapshot(dir)
    // a new partition (nothing to merge with) and a stored one
    Seq(rows("p2", 50, "b").withColumn("date", col("date").cast("string")),
        rows("p1", 50, "c").withColumn("note", lit("x"))).foreach { df =>
      val e = intercept[IllegalArgumentException](EavStore.upsert(spark, df, dir))
      assert(e.getMessage.contains("recorded schema"), e.getMessage)
      assert(snapshot(dir) === before)
    }
    assert(payloads(dir).values.toSet === (1 to 50).map(i => s"a$i").toSet)
    // data without a record is not a store: no inference fallback
    val bare = LocalSession.tempDir("eav_bare").toString + "/store"
    rows("p1", 5, "a").write.partitionBy("partition_id").parquet(bare)
    intercept[IllegalArgumentException](EavStore.upsert(spark, rows("p1", 5, "b"), bare))
    intercept[IllegalStateException](EavStore.read(spark, bare))
  }

  test("building each dashboard request over an upserted store runs no Spark job") {
    val store = EavRequests.store(spark, sf)
    val jobs = EavRequests.Kinds.map(k => k -> jobsDuring(EavRequests(spark, store, k, "1", "qty")))
    assert(jobs === EavRequests.Kinds.map(_ -> 0))
  }
}
