package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.sources.Tables
import graft.streaming.StreamEntry

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val landing: String = {
    // stage the events fixture as a landing directory with µs timestamps
    val dir = LocalSession.tempDir("landing").toString
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed streaming aggregation matches the batch equivalent") {
    val stream = StreamEntry.windowedCounts(StreamEntry.readEvents(spark, landing))
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("win").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // watermark append-mode emits all windows once the source is exhausted
    // except those still within the watermark horizon; compare totals loosely
    val streamed = spark.sql("SELECT sum(n) FROM win").collect()(0).getLong(0)
    val batch = Tables.events(spark, sf).count()
    assert(streamed > 0 && streamed <= batch)
  }

  test("stateful sessionization emits closed sessions") {
    val events = StreamEntry.readEvents(spark, landing)
    val sessions = StreamEntry.sessionize(spark, events)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val n = spark.sql("SELECT count(*) FROM sess").collect()(0).getLong(0)
    assert(n > 0)
  }

  test("watermarked dedup collapses duplicate deliveries to exactly-once") {
    // stage the landing dir with every event delivered twice (queue redelivery)
    val dir = LocalSession.tempDir("landing_dup").toString
    val ev = Tables.events(spark, sf).limit(200)
    ev.unionAll(ev).coalesce(1).write.mode("overwrite").parquet(dir)
    val deduped = StreamEntry.dedupEvents(StreamEntry.readEvents(spark, dir))
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val n = spark.sql("SELECT count(DISTINCT event_id), count(*) FROM dedup").collect()(0)
    assert(n.getLong(0) === n.getLong(1), "each event_id must appear exactly once")
    assert(n.getLong(1) === 200L)
  }

  test("streaming heavy hitters surface hot tokens with bounded state") {
    // skewed token stream: "hot" is ~1/3 of all tokens, the rest spread
    // over 400 distinct noise tokens — far under any shard's N/(k+1) bar
    val dir = LocalSession.tempDir("landing_tokens").toString
    val toks = (1 to 3000).map { i =>
      if (i % 3 == 0) "hot" else s"noise${i % 400}"
    }
    import spark.implicits._
    toks.toDF("token").coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = StreamEntry.heavyHitters(spark,
      spark.readStream.schema("token STRING").parquet(dir), k = 8, nShards = 4)
    val q = stream.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hh").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql(
      "SELECT shard, tokens, estimates FROM hh").collect()
    assert(rows.nonEmpty)
    val candidates = rows.flatMap(_.getSeq[String](1)).toSet
    assert(candidates.contains("hot"))
    // bounded state: no shard ever holds more than k counters
    assert(rows.forall(_.getSeq[String](1).size <= 8))
    // the hot token's estimate lower-bounds its true count within the MG
    // error (its shard saw at most all 3000 tokens -> slack <= 3000/9)
    val hotEst = rows.filter(_.getSeq[String](1).contains("hot"))
      .map(r => r.getSeq[Long](2)(r.getSeq[String](1).indexOf("hot"))).max
    assert(hotEst <= 1000L && hotEst >= 1000L - 3000L / 9)
  }

  test("stream-stream interval join matches its batch twin") {
    val joined = StreamEntry.purchaseViewJoin(StreamEntry.readEvents(spark, landing))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssj").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("SELECT count(*) FROM ssj").collect()(0).getLong(0)
    // batch twin on the same fixture
    val ev = Tables.events(spark, sf)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
    val batch = p.join(v, "user_id")
      .where(col("v_ts") <= col("p_ts") && col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .count()
    assert(streamed === batch, s"stream=$streamed batch=$batch")
  }

  test("streaming upsert into the EAV store converges to the batch result") {
    // the reference's queue -> DB ingestion: micro-batches land through
    // foreachBatch into EavStore.upsert; at-least-once redelivery (the
    // doubled landing dir) must still converge to exactly the batch store
    val dir = LocalSession.tempDir("landing_eav").toString
    val store = LocalSession.tempDir("eav_store").toString + "/store"
    val ev = Tables.events(spark, sf).limit(300)
    ev.unionAll(ev).coalesce(2).write.mode("overwrite").parquet(dir)
    def toEav(df: org.apache.spark.sql.DataFrame) = df.select(
      concat(lit("h"), col("event_id")).as("hash"),
      col("event_type").as("partition_id"),
      col("ts").cast("string").as("date"),
      col("value").cast("string").as("payload"))
    val writer = StreamEntry.foreachBatchPipeline(
      StreamEntry.readEvents(spark, dir),
      transform = toEav,
      sink = (batch, _) => graft.pipeline.EavStore.upsert(spark, batch, store))
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val stored = graft.pipeline.EavStore.read(spark, store)
    // exactly-once rows despite doubled delivery, same as a batch upsert
    assert(stored.count() === 300L)
    assert(stored.select("hash").distinct().count() === 300L)
    val batchExpected = graft.operators.Dedup.exactFirst(
      toEav(ev.toDF()), Seq("hash", "partition_id"), "date").count()
    assert(stored.count() === batchExpected)
  }

  test("streaming corpus ingest dedups each batch against the signature store") {
    // two releases arrive as two micro-batches: the old slice, then the new
    // slice. Batch 2 must be deduped against batch 1's PERSISTED signatures
    // (content hashes — no re-read of batch 1's text), so its kept set is
    // exactly the q121_incremental_exact batch twin.
    val dir = LocalSession.tempDir("landing_docs").toString
    val store = LocalSession.tempDir("sig_store").toString + "/store"
    val docs = Tables.load(spark, sf, "documents")
    val isNew = col("doc_id") % 10 >= 8
    docs.where(!isNew).coalesce(1).write.parquet(s"$dir/old")
    docs.where(isNew).coalesce(1).write.parquet(s"$dir/new")
    // file order = modification-time order; force old before new
    val (oldF, newF) = {
      val fs = new java.io.File(dir)
      def part(sub: String) = new java.io.File(fs, sub).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      (part("old"), part("new"))
    }
    oldF.setLastModified(1_000_000_000_000L)
    newF.setLastModified(1_000_000_002_000L)
    val byBatch = scala.collection.mutable.Map[Long, Set[Long]]()
    def runIngest(): Unit = {
      byBatch.clear()
      val stream = spark.readStream.schema(StreamEntry.docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      val writer = StreamEntry.ingestDocs(stream, store,
        sink = (kept, id) =>
          byBatch(id) = kept.select("doc_id").collect().map(_.getLong(0)).toSet)
      val q = writer.trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runIngest()
    assert(byBatch.keySet === Set(0L, 1L), s"expected 2 micro-batches, got $byBatch")
    val twin = SparkEntry.queries("q121_incremental_exact")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byBatch(1L) === twin,
      "batch-2 kept set must equal the q121 batch twin")
    // the store accumulated one release per micro-batch, rows = kept docs
    val storedCount = graft.pipeline.SignatureStore.read(spark, store).count()
    assert(graft.pipeline.SignatureStore.read(spark, store)
      .select("release").distinct().count() === 2)
    assert(storedCount === (byBatch(0L).size + byBatch(1L).size).toLong)
    // at-least-once REPLAY: a crash between the store append and the sink
    // re-delivers the micro-batch with the store already holding its own
    // release. No checkpoint dir → a fresh run replays both batches with
    // the same ids against the populated store; each must exclude its own
    // partition, recompute the same kept set, and re-deliver it (a store
    // read INCLUDING the batch's own hashes would keep nothing and lose
    // the batch downstream forever).
    val firstRun = byBatch.toMap
    runIngest()
    assert(byBatch.toMap === firstRun,
      "replayed micro-batches must re-deliver the same kept sets")
    spark.catalog.refreshByPath(store)
    val restored = graft.pipeline.SignatureStore.read(spark, store)
    assert(restored.count() === storedCount)
    assert(restored.select("release").distinct().count() === 2)
  }

  test("frozen-vocab token counting streams per micro-batch and equals the batch path") {
    val docs = Tables.load(spark, sf, "documents")
    val isNew = col("doc_id") % 10 >= 8
    // train ONCE on the prior release; serve the new slice
    val vocab = graft.operators.TextAnalysis.bpeVocab(docs.where(!isNew),
      "text", rounds = 4).cache()
    val dir = LocalSession.tempDir("tokstream").toString
    val newDocs = docs.where(isNew)
    newDocs.where(col("doc_id") % 20 < 10).coalesce(1).write.parquet(s"$dir/in/a")
    newDocs.where(col("doc_id") % 20 >= 10).coalesce(1).write.parquet(s"$dir/in/b")
    val got = scala.collection.mutable.Map.empty[Long, Long]
    var batches = 0
    val q = StreamEntry.countTokens(
      spark.readStream.schema(StreamEntry.docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      vocab,
      sink = (df, _) => {
        batches += 1
        df.collect().foreach(r => got(r.getLong(0)) = r.getLong(1))
      })
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(batches === 2)
    val twin = graft.operators.TextAnalysis.bpeCountWithVocab(
      newDocs, "doc_id", "text", vocab)
      .as[(Long, Long)].collect().toMap
    assert(got.toMap === twin)
    assert(got.nonEmpty)
    vocab.unpersist()
  }

  test("frozen-probe decontamination streams per micro-batch and equals q152") {
    val emb = Tables.load(spark, sf, "embeddings")
    val isEval = col("vec_id") % 50 === 0
    // the frozen kilobyte artifact: eval probe table against corpus centroids
    val probes = graft.operators.Similarity.evalProbes(
      emb.where(isEval).select(col("vec_id").as("eval_id"),
        col("embedding").as("e_emb")),
      graft.operators.Similarity.cellCentroids(emb.where(!isEval),
        "embedding", "label"),
      nProbe = 2).cache()
    val dir = LocalSession.tempDir("decontstream").toString
    val corpus = emb.where(!isEval)
    corpus.where(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/in/a")
    corpus.where(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/in/b")
    val got = scala.collection.mutable.Map.empty[Long, (Long, Double)]
    var batches = 0
    val q = StreamEntry.decontaminate(
      spark.readStream.schema(StreamEntry.embSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      probes, threshold = 0.3,
      sink = (df, _) => {
        batches += 1
        df.collect().foreach(r =>
          got(r.getLong(0)) = (r.getLong(1), r.getDouble(2)))
      })
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(batches === 2)
    val twin = SparkEntry.queries("q152_embed_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.toMap === twin)
    assert(got.nonEmpty)
    probes.unpersist()
  }

  test("frozen-weight scoring streams map-only and equals the q134 batch twin") {
    val docs = Tables.load(spark, sf, "documents")
    val isNew = col("doc_id") % 10 >= 8
    val w = graft.operators.Classifier.trainWeights(docs.where(!isNew),
      "doc_id", "text", col("lang") === "en", d = 256, iters = 2, lr = 0.5)
    val dense = graft.operators.Classifier.denseWeights(w, 256)
    val dir = LocalSession.tempDir("scorestream").toString
    docs.where(isNew).write.parquet(s"$dir/new")
    val scored = StreamEntry.scoreDocs(
      spark.readStream.schema(StreamEntry.docSchema).parquet(s"$dir/new"),
      dense)
    val q = scored.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("scored_docs").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("scored_docs").select("doc_id", "margin_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val twin = SparkEntry.queries("q134_classifier_serve")(spark, sf)
      .select("doc_id", "margin_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === twin)
    assert(got.nonEmpty)
  }

  test("streaming admission gate equals the q168 ensemble batch twin") {
    val docs = Tables.load(spark, sf, "documents")
    val isNew = col("doc_id") % 10 >= 8
    // the frozen serving state: weights trained and grams collected ONCE
    // on the prior release
    val dense = graft.operators.Classifier.denseWeights(
      graft.operators.Classifier.trainWeights(docs.where(!isNew),
        "doc_id", "text", col("lang") === "en", d = 256, iters = 2, lr = 0.5),
      256)
    val store = graft.pipeline.GramStore.grams(docs.where(!isNew), "text")
      .cache()
    val stop = Seq("the", "a", "of", "to", "in", "and")
    val dir = LocalSession.tempDir("gatestream").toString
    val newDocs = docs.where(isNew)
    newDocs.where(col("doc_id") % 20 < 10).coalesce(1).write.parquet(s"$dir/in/a")
    newDocs.where(col("doc_id") % 20 >= 10).coalesce(1).write.parquet(s"$dir/in/b")
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long, Boolean)]
    var batches = 0
    val q = StreamEntry.admitDocs(
      spark.readStream.schema(StreamEntry.docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      dense, store, stop, threshold = 700L,
      sink = (df, _) => {
        batches += 1
        df.collect().foreach(r => got(r.getLong(0)) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getBoolean(5)))
      })
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(batches === 2)
    val twin = SparkEntry.queries("q168_quality_ensemble")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5))).toMap
    assert(got.toMap === twin)
    assert(got.nonEmpty)
    store.unpersist()
  }

  test("streaming decontamination scrub equals the q174 batch twin") {
    val docs = Tables.load(spark, sf, "documents")
    val bench = docs.where(col("doc_id") < 5).cache()
    val dir = LocalSession.tempDir("scrubstream").toString
    val corpus = docs.where(col("doc_id") >= 5)
    corpus.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/in/a")
    corpus.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/in/b")
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, String)]
    var batches = 0
    val q = StreamEntry.scrubDocs(
      spark.readStream.schema(StreamEntry.docSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      bench, n = 5,
      sink = (df, _) => {
        batches += 1
        df.collect().foreach(r => got(r.getLong(0)) =
          (r.getLong(1), r.getLong(2), r.getString(3)))
      })
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(batches === 2)
    val twin = SparkEntry.queries("q174_decontamination_scrub")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.toMap === twin)
    // the fixture really contains contamination: at least one doc shrank
    assert(got.values.exists(v => v._2 < v._1))
    bench.unpersist()
  }

  test("streaming PQ encoding equals the q127 batch twin and is restart-idempotent") {
    val emb = Tables.load(spark, sf, "embeddings")
    val isNew = col("vec_id") % 10 >= 8
    val cb = graft.operators.Similarity.pqCodebooks(emb.where(!isNew),
      "vec_id", "embedding", dim = 64, m = 16, ksub = 8, iters = 3)
    val dir = LocalSession.tempDir("pqstream").toString
    // two micro-batches in a fixed order (the ingestDocs file trick)
    val newHalf = emb.where(isNew)
    newHalf.where(col("vec_id") % 20 < 10).coalesce(1).write.parquet(s"$dir/in/a")
    newHalf.where(col("vec_id") % 20 >= 10).coalesce(1).write.parquet(s"$dir/in/b")
    def part(sub: String) = new java.io.File(s"$dir/in/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    part("a").setLastModified(1_000_000_000_000L)
    part("b").setLastModified(1_000_000_002_000L)
    val store = s"$dir/store"
    def runOnceThrough(): Unit = {
      val q = StreamEntry.encodeVectors(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
        dim = 64, codebooks = cb, storePath = store)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    val stored = spark.read.parquet(store)
    assert(stored.select("release").distinct().count() === 2)
    val got = stored.select(col("vec_id"), to_json(col("codes")).as("codes"))
      .as[(Long, String)].collect().toMap
    val twin = SparkEntry.queries("q127_incremental_pq")(spark, sf)
      .as[(Long, String)].collect().toMap
    assert(got === twin)
    // reprocessing overwrites per-release partitions: same store, no dupes
    runOnceThrough()
    assert(spark.read.parquet(store).count() === got.size.toLong)
  }

  test("streaming index append grows the frozen IVFADC store to the batch answer") {
    val emb = Tables.load(spark, sf, "embeddings")
    val isNew = col("vec_id") % 10 >= 8
    val dir = LocalSession.tempDir("idxstream").toString
    val store = s"$dir/index"
    // seed index: trained and encoded on the OLD slice only (the q146 build)
    graft.pipeline.IndexStore.build(spark, store, emb.where(!isNew),
      "vec_id", "embedding", dim = 64, kCoarse = 8, coarseIters = 4,
      m = 16, ksub = 8, iters = 3, release = "r1")
    val model = graft.pipeline.IndexStore.readModel(spark, store)
    // the NEW slice arrives as two ordered micro-batches
    val newHalf = emb.where(isNew)
    newHalf.where(col("vec_id") % 20 < 10).coalesce(1).write.parquet(s"$dir/in/a")
    newHalf.where(col("vec_id") % 20 >= 10).coalesce(1).write.parquet(s"$dir/in/b")
    def part(sub: String) = new java.io.File(s"$dir/in/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    part("a").setLastModified(1_000_000_000_000L)
    part("b").setLastModified(1_000_000_002_000L)
    def runOnceThrough(): Unit = {
      val q = StreamEntry.appendIndex(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"), store)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    spark.catalog.refreshByPath(s"$store/codes")
    val stored = graft.pipeline.IndexStore.readCodes(spark, store)
    // the grown store holds exactly the frozen-model encode of the UNION —
    // streaming appends ≡ IndexStore.append ≡ the q124+q127 composition
    val got = stored.select("cand_id", "cell", "codes").collect().toSet
    val twin = graft.operators.Similarity
      .ivfPqEncode(emb, "vec_id", "embedding", model).collect().toSet
    assert(got === twin)
    assert(stored.select("release").distinct().count() === 3) // r1 + b0 + b1
    // replay converges: per-release dynamic overwrite, no duplicates
    runOnceThrough()
    spark.catalog.refreshByPath(s"$store/codes")
    assert(graft.pipeline.IndexStore.readCodes(spark, store).count()
      === emb.count())
    // and the grown-then-replayed store passes the q207 integrity card:
    // every release partition disjoint in ids, nothing orphaned, full
    // corpus coverage (the 3 release rows + the store-wide coverage row)
    val card = graft.pipeline.StoreAudit.card("codes",
      graft.pipeline.IndexStore.readCodes(spark, store), "cand_id",
      emb.select("vec_id")).collect()
    assert(card.length === 4)
    card.foreach { r =>
      assert(r.getAs[Long]("cross_release_dup") === 0L, r.toString)
      assert(r.getAs[Long]("orphan") === 0L, r.toString)
      assert(r.getAs[Long]("missing") === 0L, r.toString)
    }
  }

  test("streaming serving equals the batch frozen-store serve; replay converges") {
    val emb = Tables.load(spark, sf, "embeddings")
    val dir = LocalSession.tempDir("servestream").toString
    val store = s"$dir/index"
    graft.pipeline.IndexStore.build(spark, store, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    emb.select("vec_id", "embedding").write.parquet(s"$dir/vecs")
    // the query workload arrives as two files → two micro-batches
    val isQ = col("vec_id") % 50 === 0
    emb.where(isQ && col("vec_id") < 250).select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/in/f1")
    emb.where(isQ && col("vec_id") >= 250).select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/in/f2")
    def runOnceThrough(): Unit = {
      val q = StreamEntry.serveQueries(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
        store, s"$dir/vecs", s"$dir/out")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    val got = spark.read.parquet(s"$dir/out")
      .select("q_id", "cand_id", "score")
    val batchTwin = graft.pipeline.IndexStore.query(spark, store,
      emb.where(isQ).select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb")),
      emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb")),
      nProbe = 2, k = 5, shortlist = 100)
    assert(got.count() > 0, "streamed serving must answer the fixture queries")
    assert(got.exceptAll(batchTwin).isEmpty && batchTwin.exceptAll(got).isEmpty,
      "streamed per-batch serving must equal the one-shot batch serve")
    // replay converges: each batch dynamic-overwrites its own partition
    val n = got.count()
    runOnceThrough()
    spark.catalog.refreshByPath(s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() === n)
  }

  test("streaming takedown tombstones the store; serving excludes; replay idempotent") {
    val emb = Tables.load(spark, sf, "embeddings")
    val dir = LocalSession.tempDir("tombstream").toString
    val store = s"$dir/index"
    graft.pipeline.IndexStore.build(spark, store, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    // takedown requests arrive as two files → two micro-batches
    val isTomb = col("vec_id") % 7 === 3
    emb.where(isTomb && col("vec_id") % 2 === 0).select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/in/f1")
    emb.where(isTomb && col("vec_id") % 2 =!= 0).select("vec_id", "embedding", "label")
      .write.parquet(s"$dir/in/f2")
    def runOnceThrough(): Unit = {
      val q = StreamEntry.deleteIds(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"), store)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    val tomb = graft.pipeline.IndexStore.readTombstones(spark, store)
    assert(tomb.isDefined)
    val nTomb = tomb.get.count()
    assert(nTomb === emb.where(isTomb).count(),
      "the streamed list must equal the batch delete's id set")
    // serving excludes every streamed-in tombstone
    val served = graft.pipeline.IndexStore.query(spark, store,
      emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb")),
      emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb")),
      nProbe = 2, k = 5, shortlist = 100)
    assert(served.where(col("cand_id") % 7 === 3).isEmpty,
      "a streamed takedown id leaked into the served top-k")
    // replay converges: the distinct union leaves the list unchanged
    runOnceThrough()
    assert(graft.pipeline.IndexStore.readTombstones(spark, store).get.count()
      === nTomb)
  }

  test("streaming text-tier takedown equals the sequential batch takedownDocs") {
    val docs = Tables.load(spark, sf, "documents")
    val isNew = col("doc_id") % 10 >= 8
    val isTomb = col("doc_id") % 9 === 2
    val dir = LocalSession.tempDir("tkdtextstream").toString
    // identical two-release prior-night stores for the stream side and the
    // batch side
    for (side <- Seq("s", "b"); (rel, half) <- Seq(
        ("r0", col("doc_id") % 2 === 0), ("r1", col("doc_id") % 2 =!= 0))) {
      graft.pipeline.SignatureStore.append(spark, s"$dir/$side/sigs", rel,
        docs.where(!isNew && half), "doc_id", "text")
      graft.pipeline.GramStore.append(spark, s"$dir/$side/grams", rel,
        docs.where(!isNew && half), "text")
    }
    // requests arrive as two files → two micro-batches
    val req1 = isTomb && col("doc_id") % 2 === 0
    val req2 = isTomb && col("doc_id") % 2 =!= 0
    docs.where(req1).select("doc_id").coalesce(1).write.parquet(s"$dir/in/f1")
    docs.where(req2).select("doc_id").coalesce(1).write.parquet(s"$dir/in/f2")
    def runOnceThrough(): Unit = {
      val q = StreamEntry.takedownText(
        spark.readStream.schema("doc_id LONG")
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
        docs, "doc_id", "text", s"$dir/s/sigs", s"$dir/s/grams")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    // batch twin: the same two request batches realized sequentially
    graft.pipeline.ReleaseBuild.takedownDocs(spark, s"$dir/b/sigs",
      s"$dir/b/grams", docs.where(req1).select("doc_id"),
      docs.where(!req1), "doc_id", "text")
    graft.pipeline.ReleaseBuild.takedownDocs(spark, s"$dir/b/sigs",
      s"$dir/b/grams", docs.where(req2).select("doc_id"),
      docs.where(!isTomb), "doc_id", "text")
    def sig(side: String) = {
      spark.catalog.refreshByPath(s"$dir/$side/sigs")
      graft.pipeline.SignatureStore.read(spark, s"$dir/$side/sigs")
        .select("release", "doc_id", "content_md5")
    }
    def grams(side: String) = {
      spark.catalog.refreshByPath(s"$dir/$side/grams")
      graft.pipeline.GramStore.read(spark, s"$dir/$side/grams")
        .select("release", "gram_h")
    }
    assert(sig("s").exceptAll(sig("b")).isEmpty &&
      sig("b").exceptAll(sig("s")).isEmpty,
      "streamed signature store must equal the batch takedown's, release included")
    assert(grams("s").exceptAll(grams("b")).isEmpty &&
      grams("b").exceptAll(grams("s")).isEmpty,
      "streamed gram store must equal the batch takedown's, release included")
    assert(sig("s").where(col("doc_id") % 9 === 2).isEmpty,
      "no taken-down id may survive in the streamed signature store")
    // replay converges: re-deleting removed ids is a no-op, the restores
    // are partition-idempotent
    val nS = sig("s").count(); val nG = grams("s").count()
    runOnceThrough()
    assert(sig("s").count() === nS && grams("s").count() === nG)
  }

  test("one streamed takedown request feed fans into both tiers (q206 on the stream)") {
    // the cross-tier story: ONE request feed drives takedownText (text
    // tier: signature delete + gram restore) AND deleteIds (vector tier:
    // tombstone) — no taken-down id stays reachable through either tier,
    // without waiting for a batch night
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    val dir = LocalSession.tempDir("xtierstream").toString
    graft.pipeline.SignatureStore.append(spark, s"$dir/sigs", "r0",
      docs, "doc_id", "text")
    graft.pipeline.GramStore.append(spark, s"$dir/grams", "r0", docs, "text")
    graft.pipeline.IndexStore.build(spark, s"$dir/index", emb, "vec_id",
      "embedding", dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8,
      iters = 3, release = "r1")
    // one id set, carried under both tiers' key names
    docs.where(col("doc_id") % 9 === 2)
      .select(col("doc_id"), col("doc_id").as("vec_id"))
      .coalesce(1).write.parquet(s"$dir/in/f1")
    def feed = spark.readStream.schema("doc_id LONG, vec_id LONG")
      .parquet(s"$dir/in/*")
    val qText = StreamEntry.takedownText(feed.select("doc_id"), docs,
      "doc_id", "text", s"$dir/sigs", s"$dir/grams")
      .trigger(Trigger.AvailableNow()).start()
    val qVec = StreamEntry.deleteIds(feed.select("vec_id"), s"$dir/index")
      .trigger(Trigger.AvailableNow()).start()
    qText.processAllAvailable(); qText.stop()
    qVec.processAllAvailable(); qVec.stop()
    // text tier scrubbed...
    spark.catalog.refreshByPath(s"$dir/sigs")
    assert(graft.pipeline.SignatureStore.read(spark, s"$dir/sigs")
      .where(col("doc_id") % 9 === 2).isEmpty,
      "a streamed takedown id survived in the signature store")
    val fresh = graft.pipeline.GramStore.grams(
      docs.where(col("doc_id") % 9 =!= 2), "text")
    spark.catalog.refreshByPath(s"$dir/grams")
    val after = graft.pipeline.GramStore.read(spark, s"$dir/grams")
      .select("gram_h")
    assert(after.exceptAll(fresh).isEmpty && fresh.exceptAll(after).isEmpty,
      "gram store must equal the from-scratch live build after the stream")
    // ...and the vector tier excludes the same ids at serve time
    val served = graft.pipeline.IndexStore.query(spark, s"$dir/index",
      emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb")),
      emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb")),
      nProbe = 2, k = 5, shortlist = 100)
    assert(served.where(col("cand_id") % 9 === 2).isEmpty,
      "a streamed takedown id leaked into the served top-k")
  }

  test("streaming graph roll-forward equals the from-scratch union graph; replay converges") {
    val emb = Tables.load(spark, sf, "embeddings")
    val isNew = col("vec_id") % 10 >= 8
    val dir = LocalSession.tempDir("graphstream").toString
    val cents = graft.operators.Similarity.kMeansCentroids(emb.where(!isNew),
      "vec_id", "embedding", 8, 4)
    def nodes(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    def cands(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
    // seed persisted state: the old slice's vectors + its own graph
    emb.where(!isNew).select("vec_id", "embedding")
      .withColumn("release", lit("r1"))
      .write.partitionBy("release").parquet(s"$dir/vecs")
    graft.pipeline.VectorRelease.writeGraph(
      graft.operators.Similarity.ivfExactGraphEdges(nodes(emb.where(!isNew)),
        cands(emb.where(!isNew)), cents, nProbe = 2, k = 3), s"$dir/graph")
    // the new slice arrives as two ordered micro-batches
    val newHalf = emb.where(isNew)
    newHalf.where(col("vec_id") % 20 < 10).coalesce(1).write.parquet(s"$dir/in/a")
    newHalf.where(col("vec_id") % 20 >= 10).coalesce(1).write.parquet(s"$dir/in/b")
    def part(sub: String) = new java.io.File(s"$dir/in/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    part("a").setLastModified(1_000_000_000_000L)
    part("b").setLastModified(1_000_000_002_000L)
    def runOnceThrough(): Unit = {
      val q = StreamEntry.rollForwardGraph(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
        s"$dir/vecs", s"$dir/graph", cents, nProbe = 2, k = 3)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    val got = graft.operators.Similarity.withMutualFlag(
      graft.pipeline.VectorRelease.readGraph(spark, s"$dir/graph"))
    val scratch = graft.operators.Similarity.withMutualFlag(
      graft.operators.Similarity.ivfExactGraphEdges(nodes(emb), cands(emb),
        cents, nProbe = 2, k = 3))
    assert(got.count() > 0)
    assert(got.exceptAll(scratch).isEmpty && scratch.exceptAll(got).isEmpty)
    // replaying the whole stream (fresh query, same files) converges to the
    // identical persisted graph — the crashed-night contract
    runOnceThrough()
    val again = graft.operators.Similarity.withMutualFlag(
      graft.pipeline.VectorRelease.readGraph(spark, s"$dir/graph"))
    assert(again.exceptAll(scratch).isEmpty && scratch.exceptAll(again).isEmpty)
  }

  test("streaming unified maintenance self-heals a degenerate store; stream equals from-scratch; replay converges") {
    val emb = Tables.load(spark, sf, "embeddings")
    val isEval = col("vec_id") % 50 === 0
    val corpus = emb.where(!isEval)
    val m10 = col("vec_id") % 10
    val base = corpus.where(m10 <= 5)
    val evals = emb.where(isEval)
      .select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    def nodes(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    def cands(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
    val dir = LocalSession.tempDir("maintstream").toString
    val idx = s"$dir/index"
    // a DEGENERATE initial store (kc2 vs the target 8 cells) — batch 1 of
    // the stream must heal it, later batches must roll forward healthily
    graft.pipeline.IndexStore.build(spark, idx, base, "vec_id", "embedding",
      dim = 64, kCoarse = 2, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    // seed the int8 rerank tier too: batch 1's heal must rebuild it under
    // the healed cells and later batches append — pinned against a
    // healthy-all-along twin at the end
    graft.pipeline.IndexStore.buildRerank(spark, idx, cands(base))
    // seed the persisted (side store, graph, generation) triple
    base.select("vec_id", "embedding").withColumn("release", lit("r1"))
      .write.partitionBy("release").parquet(s"$dir/vecs")
    val m0 = graft.pipeline.IndexStore.readModel(spark, idx)
    graft.pipeline.VectorRelease.writeGraph(
      graft.operators.Similarity.ivfExactGraphEdges(nodes(base), cands(base),
        m0.centroids, nProbe = 2, k = 3), s"$dir/graph")
    graft.pipeline.VectorRelease.writeGeneration(spark, s"$dir/graph.gen",
      graft.pipeline.IndexStore.generation(spark, idx))
    // three ordered micro-batch "nights"
    corpus.where(m10.isin(6, 7)).coalesce(1).write.parquet(s"$dir/in/a")
    corpus.where(m10 === 8).coalesce(1).write.parquet(s"$dir/in/b")
    corpus.where(m10 === 9).coalesce(1).write.parquet(s"$dir/in/c")
    def part(sub: String) = new java.io.File(s"$dir/in/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    part("a").setLastModified(1_000_000_000_000L)
    part("b").setLastModified(1_000_000_002_000L)
    part("c").setLastModified(1_000_000_004_000L)
    def runOnceThrough(): Unit = {
      val q = StreamEntry.maintainIndex(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
        idx, s"$dir/vecs", s"$dir/graph", evals,
        kCoarse = 8, maxShareMilli = 300)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    runOnceThrough()
    // exactly one committed rebalance (batch 1's heal), stamped on disk
    assert(graft.pipeline.IndexStore.generation(spark, idx) === 1L)
    assert(graft.pipeline.VectorRelease.readGeneration(
      spark, s"$dir/graph.gen") === 1L)
    // the persisted graph ≡ a from-scratch union build under the healed model
    val fm = graft.pipeline.IndexStore.readModel(spark, idx)
    val scratch = graft.operators.Similarity.ivfExactGraphEdges(
      nodes(corpus), cands(corpus), fm.centroids, nProbe = 2, k = 3)
    val got = graft.pipeline.VectorRelease.readGraph(spark, s"$dir/graph")
    val scr4 = scratch.select("src_id", "dst_id", "score", "rank")
    assert(got.count() > 0)
    assert(got.exceptAll(scr4).isEmpty && scr4.exceptAll(got).isEmpty)
    // release provenance: the heal's re-encode kept r1, each night its batch
    spark.catalog.refreshByPath(s"$idx/codes")
    val wrongRel = graft.pipeline.IndexStore.readCodes(spark, idx)
      .select(col("cand_id"), col("release"))
      .where(col("release") =!= when(col("cand_id") % 10 <= 5, "r1")
        .when(col("cand_id") % 10 <= 7, "b0")
        .when(col("cand_id") % 10 === 8, "b1").otherwise("b2"))
    assert(wrongRel.isEmpty, "release provenance lost across the stream")
    // the int8 tier rolled with the stream: re-stamped by batch 1's heal,
    // appended by batches 2-3, serving ≡ a healthy-all-along twin
    assert(graft.pipeline.IndexStore.rerankGeneration(spark, idx)
      === Some(1L))
    // the twin runs the healthy-all-along sequence: built at the target
    // geometry on the SAME population the heal retrained on (the batch-0
    // residents), tier stats frozen there, then the same three appends
    val twin = s"$dir/twin"
    graft.pipeline.IndexStore.build(spark, twin, base, "vec_id",
      "embedding", dim = 64, kCoarse = 8, coarseIters = 4, m = 16,
      ksub = 8, iters = 3, release = "r1")
    graft.pipeline.IndexStore.buildRerank(spark, twin, cands(base))
    for ((rel, slice) <- Seq(("b0", m10.isin(6, 7)), ("b1", m10 === 8),
        ("b2", m10 === 9))) {
      val d = corpus.where(slice)
      graft.pipeline.IndexStore.append(spark, twin, d, "vec_id",
        "embedding", rel)
      graft.pipeline.IndexStore.appendRerank(spark, twin, cands(d), rel)
    }
    val int8 = graft.pipeline.IndexStore.ServeSpec(graft.pipeline.IndexStore.Int8)
    val s8 = graft.pipeline.IndexStore.serve(spark, idx, evals, int8,
      nProbe = 2, k = 5, shortlist = 100)
    val t8 = graft.pipeline.IndexStore.serve(spark, twin, evals, int8,
      nProbe = 2, k = 5, shortlist = 100)
    assert(s8.count() > 0)
    assert(s8.exceptAll(t8).isEmpty && t8.exceptAll(s8).isEmpty,
      "stream-maintained int8 serve must equal the healthy-all-along twin")
    // full replay (fresh query, same files) converges — the healed store
    // skips the second rebalance but every artifact lands identically
    runOnceThrough()
    assert(graft.pipeline.IndexStore.generation(spark, idx) === 1L)
    val again = graft.pipeline.VectorRelease.readGraph(spark, s"$dir/graph")
    assert(again.exceptAll(scr4).isEmpty && scr4.exceptAll(again).isEmpty)
  }

  test("streaming nightly over a torn release aborts with the card; repairRelease + stream replay converge to the batch twin") {
    val emb = Tables.load(spark, sf, "embeddings")
    val isEval = col("vec_id") % 50 === 0
    val corpus = emb.where(!isEval)
    val m10 = col("vec_id") % 10
    val base = corpus.where(m10 <= 7)
    val evals = emb.where(isEval)
      .select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    def nodes(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    def cands(d: org.apache.spark.sql.DataFrame) =
      d.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
    val dir = LocalSession.tempDir("repairstream").toString
    val idx = s"$dir/index"
    // a HEALTHY store at the target geometry — no heal, so only the
    // deep-audit cadence can surface the tear
    graft.pipeline.IndexStore.build(spark, idx, base, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1")
    base.select("vec_id", "embedding").withColumn("release", lit("r1"))
      .write.partitionBy("release").parquet(s"$dir/vecs")
    val m0 = graft.pipeline.IndexStore.readModel(spark, idx)
    graft.pipeline.VectorRelease.writeGraph(
      graft.operators.Similarity.ivfExactGraphEdges(nodes(base), cands(base),
        m0.centroids, nProbe = 2, k = 3), s"$dir/graph")
    graft.pipeline.VectorRelease.writeGeneration(spark, s"$dir/graph.gen",
      graft.pipeline.IndexStore.generation(spark, idx))
    // the tear: r1 loses one code partition (bit-rot / operator error)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/codes"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(st => new org.apache.hadoop.fs.Path(st.getPath, "release=r1"))
      .find(fs.exists).get
    assert(fs.delete(victim, true))
    spark.catalog.refreshByPath(s"$idx/codes")
    // two micro-batch nights
    corpus.where(m10 === 8).coalesce(1).write.parquet(s"$dir/in/a")
    corpus.where(m10 === 9).coalesce(1).write.parquet(s"$dir/in/b")
    def part(sub: String) = new java.io.File(s"$dir/in/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    part("a").setLastModified(1_000_000_000_000L)
    part("b").setLastModified(1_000_000_002_000L)
    def runOnceThrough(): Unit = {
      val q = StreamEntry.maintainIndex(
        spark.readStream.schema(StreamEntry.embSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
        idx, s"$dir/vecs", s"$dir/graph", evals,
        kCoarse = 8, maxShareMilli = 300, deepAuditEvery = 1)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable()
      // a failed micro-batch surfaces on the query handle, not as a throw
      // from processAllAvailable — re-raise it
      q.exception.foreach(e => { q.stop(); throw e })
      q.stop()
    }
    // night b0 is a deep-audit night (every 1) over the torn store: the
    // micro-batch must FAIL the query with the card, not report success
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnceThrough()
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(causes(thrown).exists(_.contains("code table vs servable corpus")),
      s"the stream abort must carry the card: ${causes(thrown)}")
    // repair the torn release, then a FRESH query over the same files
    // replays the failed night and converges
    graft.pipeline.IndexStore.repairRelease(spark, idx, base,
      "vec_id", "embedding", "r1")
    runOnceThrough()
    // converged ≡ the from-scratch union graph under the frozen model (the
    // batch twin — generation never moved, so the model is m0 throughout)
    val scratch = graft.operators.Similarity.ivfExactGraphEdges(
        nodes(corpus), cands(corpus), m0.centroids, nProbe = 2, k = 3)
      .select("src_id", "dst_id", "score", "rank")
    val got = graft.pipeline.VectorRelease.readGraph(spark, s"$dir/graph")
    assert(got.count() > 0)
    assert(got.exceptAll(scratch).isEmpty && scratch.exceptAll(got).isEmpty,
      "post-repair replay must converge to the batch twin")
  }

  test("foreachBatch runs the batch transform per micro-batch (trigger model)") {
    var seen = 0L
    val writer = StreamEntry.foreachBatchPipeline(
      StreamEntry.readEvents(spark, landing),
      transform = df => df.groupBy("event_type").agg(count(lit(1)).as("n")),
      sink = (df, _) => seen += df.count())
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(seen === 5)  // five event types aggregated in the single micro-batch
  }
}
