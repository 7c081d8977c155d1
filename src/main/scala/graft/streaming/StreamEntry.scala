package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming front-end (SURVEY.md §2.10). The reference is a
  * blob-triggered batch system; its trigger model maps to a file-source
  * stream per landing directory feeding the same batch transforms via
  * `foreachBatch`, plus genuinely streaming operators (watermarked window
  * aggregation, stateful sessionization) for the events feed.
  */
object StreamEntry {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a landing directory of parquet drops. */
  def readEvents(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(landingDir)

  /** Watermarked tumbling-window aggregation per event type: the streaming
    * form of EventQueries.q30. Late data beyond 10 minutes is dropped by the
    * watermark; state is bounded. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** The reference's trigger model: each micro-batch of arriving files runs
    * the same batch transform the orchestrator would (idempotent by release,
    * like the reference's whole-release reprocessing). */
  def foreachBatchPipeline(events: DataFrame,
                           transform: DataFrame => DataFrame,
                           sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) => sink(transform(batch), id) }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, value: Double)
  case class SessionOut(user_id: Long, session_start: Long, n_events: Long,
                        session_value: Double)

  /** Stateful gap sessionization with mapGroupsWithState: 30-minute
    * inactivity closes the session (streaming twin of EventQueries.q31).
    * State per user is O(1); timeout expires idle users. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { e =>
            val sec = e.ts.getTime / 1000
            cur match {
              case Some(st) if sec - st.last > gapSeconds =>
                closed += SessionOut(userId, st.start, st.n, st.value)
                cur = Some(SessionState(sec, sec, 1, e.value))
              case Some(st) =>
                cur = Some(st.copy(last = sec, n = st.n + 1, value = st.value + e.value))
              case None =>
                cur = Some(SessionState(sec, sec, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }.toDF()
  }

  case class MGShardOut(shard: Long, tokens: Seq[String], estimates: Seq[Long])

  /** Streaming heavy hitters: the stateful twin of the batch Misra-Gries
    * sketch (q100). Tokens shard by hash; each shard keeps ONE bounded
    * k-counter [[graft.functions.MGBuf]] in `mapGroupsWithState`, folding
    * every micro-batch through the same `reduce` the batch aggregator uses,
    * and emits its current candidate set each trigger (Update mode). Shards
    * partition the token space, so cross-shard merging is a plain union and
    * the per-shard guarantee (every token above shardN/(k+1) present) holds
    * over the stream's full history — with state bounded at
    * O(nShards × k) counters forever, regardless of stream volume. */
  def heavyHitters(spark: SparkSession, tokens: DataFrame,
                   k: Int = 64, nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.MisraGriesAggregator(k)
    tokens
      // null tokens would make the shard null and kill the primitive-typed
      // encoder; the batch aggregator skips nulls, so match that here
      .where(col("token").isNotNull)
      .select(pmod(xxhash64(col("token")), lit(nShards.toLong)).as("shard"),
        col("token"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[graft.functions.MGBuf, MGShardOut](
        GroupStateTimeout.NoTimeout()) {
        (shard, it, state) =>
          val buf = it.foldLeft(state.getOption.getOrElse(agg.zero)) {
            (b, rec) => agg.reduce(b, rec._2)
          }
          state.update(buf)
          val res = agg.finish(buf)
          MGShardOut(shard, res.tokens, res.estimates)
      }.toDF()
  }

  /** Streaming exactly-once-per-key dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps each key's state only until the
    * watermark passes it, so at-least-once upstream delivery (the reference's
    * queue retry policy, `host.json` maxDequeueCount) collapses to
    * exactly-once rows without unbounded state. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase joins views of the same user
    * within the preceding hour. Both sides carry watermarks and the join
    * condition bounds event-time distance, so state on both sides is evicted
    * once the watermark passes the interval — the streaming twin of
    * [[graft.operators.AsOf]]'s backward window (batch q78). */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("purchase_value"))
      .withWatermark("p_ts", "10 minutes")
    val views = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("value").as("view_value"))
      .withWatermark("v_ts", "70 minutes")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") && col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming corpus ingest into the persisted signature store — the
    * LLM-ops twin of the EAV `foreachBatch` upsert path: each micro-batch of
    * arriving documents is exact-deduped against every previously ingested
    * release via the store's `content_md5` column (no prior text re-read),
    * survivors' signatures are appended as release `b<batchId>`, and the
    * surviving documents are handed to `sink`. Batch twin:
    * q121_incremental_exact (old slice = batch 1's store, new slice =
    * batch 2).
    *
    * Restart-safe: reprocessing a micro-batch overwrites its OWN release
    * partition ([[graft.pipeline.SignatureStore.append]] is a dynamic
    * partition overwrite), AND the dedup pass reads the store EXCLUDING the
    * batch's own release — a replayed batch (crash between append and sink)
    * would otherwise find its own hashes already stored, keep nothing, and
    * permanently drop its documents from the sink. Excluding `b<id>` makes
    * the replay recompute the same kept set, re-overwrite its partition,
    * and re-deliver — the same self-exclusion contract as
    * [[graft.pipeline.GramStore.append]]. */
  def ingestDocs(docs: DataFrame, storePath: String,
                 sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val store =
          if (new org.apache.hadoop.fs.Path(storePath)
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(new org.apache.hadoop.fs.Path(storePath))) {
            // a prior micro-batch (or a replayed run) overwrote partitions
            // of this same path; drop the session FileStatusCache entry so
            // this batch lists the store as committed, not as cached
            spark.catalog.refreshByPath(storePath)
            graft.pipeline.SignatureStore.read(spark, storePath)
              .where(col("release") =!= s"b$id")
          } else batch.select(md5(col("text")).as("content_md5")).limit(0)
        val kept = graft.pipeline.SignatureStore.incrementalExactKeep(
          batch, "doc_id", "text", store)
        // materialize BEFORE the store append: the append dynamically
        // overwrites files this plan's store read lists, so a lazy
        // re-evaluation at sink time would read through a replaced listing
        val keptDocs = batch
          .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .localCheckpoint()
        graft.pipeline.SignatureStore.append(spark, storePath, s"b$id",
          keptDocs, "doc_id", "text")
        sink(keptDocs, id)
      }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming PQ encoding — the stream twin of q127's incremental index
    * maintenance: each micro-batch of vectors encodes against FROZEN
    * codebooks (trained once on a prior release) as a map-only expression
    * and appends its codes to a release-partitioned parquet store,
    * release = micro-batch id. Restart-safe the same way the signature
    * store is: reprocessing a micro-batch dynamically overwrites its OWN
    * partition, so at-least-once delivery converges to the single-run
    * store. Old vectors and old codes are never re-read. */
  def encodeVectors(vecs: DataFrame, dim: Int,
                    codebooks: Array[Array[Array[Double]]],
                    storePath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Similarity.pqEncode(batch, "vec_id", "embedding",
            dim, codebooks)
          .withColumn("release", lit(s"b$id"))
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("release")
          .parquet(storePath)
      }

  /** Streaming IVFADC index maintenance — the PERSISTED-STORE twin of
    * [[encodeVectors]] (which writes raw PQ code rows): each micro-batch
    * appends to an EXISTING [[graft.pipeline.IndexStore]] against its frozen
    * quantizers, release = the micro-batch id — the same map-only
    * cell-assign + residual-encode composition `IndexStore.append` runs in
    * batch, so the serving index rolls forward in place while queries keep
    * reading it. Dynamic partition overwrite makes a replayed micro-batch
    * idempotent (the ingestDocs contract). The kilobyte model re-read per
    * batch keeps the writer correct across an index rebuild mid-stream. */
  def appendIndex(vecs: DataFrame,
                  indexPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.pipeline.IndexStore.append(batch.sparkSession, indexPath, batch,
          "vec_id", "embedding", release = s"b$id")
      }

  /** Streaming TAKEDOWN twin of [[graft.pipeline.IndexStore.delete]] (the
    * q201 lifecycle): each micro-batch of takedown requests (vec_id)
    * tombstones the frozen store — a metadata-only id-list write, so the
    * per-trigger work is bounded by the request batch, never the corpus.
    * Serving queries running concurrently ([[serveQueries]]) pick the grown
    * list up at their next trigger (the store re-reads its metadata per
    * batch), and because the delete APPENDS one id file per batch — never
    * rewriting the list in place — a concurrent read always sees a
    * complete committed file set. A replayed micro-batch re-deletes the
    * same ids, which the read-side distinct makes idempotent. Physical
    * reclamation stays a batch-side nightly op (`IndexStore.purge`, or the
    * next rebalance) — and its snapshot-subtraction clear guarantees a
    * delete this stream lands MID-purge survives until the next purge
    * (TombstoneRaceSpec). */
  def deleteIds(reqs: DataFrame,
                indexPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    reqs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.IndexStore.delete(batch.sparkSession, indexPath,
          batch.select(col("vec_id").cast("long").as("cand_id")))
        ()
      }

  /** Streaming TEXT-TIER takedown — the twin [[deleteIds]] lacked: a
    * takedown request arriving on the stream is realized against the
    * persisted signature/gram stores IMMEDIATELY (exact signature delete +
    * affected-release gram-margin restore, the full
    * [[graft.pipeline.ReleaseBuild.takedownDocs]] contract) instead of
    * leaving derived text state stale until the next batch night. Together
    * with [[deleteIds]] this closes the q206 cross-tier story on the
    * stream: one request feed can fan into both sinks.
    *
    * `corpus` is the retained-document universe (a static frame); each
    * trigger's remaining set is corpus minus the batch's ids — ids taken
    * down by EARLIER triggers need no carry-over state because every
    * restore scopes to the signature store's own post-delete membership
    * (an id a prior trigger removed is already absent from every release's
    * member set). Per-trigger cost is bounded by the batch's affected
    * releases, never the corpus.
    *
    * Replay-safe by `takedownDocs`' marker protocol: a replayed COMPLETED
    * batch deletes zero rows and finds no affected releases (a no-op),
    * and a batch that crashed between its signature delete and its gram
    * restore left a `_TAKEDOWN_PENDING` marker the replay's entry recovery
    * converges first — Structured Streaming re-delivers the failed batch
    * before any newer one, so the recovery's remaining set is exactly the
    * crashed trigger's (StreamingSpec pins stream ≡ batch on the same
    * fixture, mid-restore crash included). */
  def takedownText(reqs: DataFrame, corpus: DataFrame, idCol: String,
                   textCol: String, sigPath: String,
                   gramPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    reqs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.select(col(idCol).cast("long").as("__tomb_id"))
          .distinct().localCheckpoint()
        val remaining = corpus.join(ids,
          col(idCol).cast("long") === col("__tomb_id"), "left_anti")
        graft.pipeline.ReleaseBuild.takedownDocs(batch.sparkSession,
          sigPath, gramPath, ids, remaining, idCol, textCol)
        ()
      }

  /** Streaming SERVING twin of the q146 read path: each micro-batch of
    * query vectors is answered against the FROZEN index store — the same
    * cell-pruned ADC + exact-rerank chain [[graft.pipeline.IndexStore.query]]
    * plans in batch — and lands batch-partitioned, so a replayed micro-batch
    * overwrites exactly its own partition (the [[ingestDocs]] idempotence
    * contract). The store's kilobyte metadata is re-read per batch, so an
    * append or rebalance committed mid-stream is picked up at the next
    * trigger: queries keep flowing while [[maintainIndex]] mutates the
    * store underneath — together they are the full serve-while-maintaining
    * architecture. */
  def serveQueries(queries: DataFrame, indexPath: String,
                   fullVecsPath: String, outPath: String, nProbe: Int = 2,
                   k: Int = 5, shortlist: Int = 100)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val fv = s.read.parquet(fullVecsPath)
          .select(col("vec_id").cast("long").as("cand_id"),
            col("embedding").cast("array<double>").as("cand_emb"))
        graft.pipeline.IndexStore.query(s, indexPath,
            batch.select(col("vec_id").cast("long").as("q_id"),
              col("embedding").cast("array<double>").as("q_emb")),
            fv, nProbe, k, shortlist)
          .withColumn("qbatch", lit(s"b$id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("qbatch")
          .parquet(outPath)
      }

  /** Streaming mutual-kNN graph maintenance — the stream twin of the q180
    * vector-tier roll-forward's graph step (the q176 merge kernel per
    * micro-batch): under the FROZEN coarse quantizer, the persisted edge
    * list merges a delta scored only against the arriving batch (old
    * nodes), batch nodes score the union once, and the rolled graph
    * replaces the store ([[graft.pipeline.VectorRelease.writeGraph]]).
    * Raw vectors accumulate in a release-partitioned side store so later
    * batches can score "everything so far" with no external state.
    *
    * Replay converges (the ingestDocs contract): the batch's own release
    * partition is excluded from the old side on re-read, its nodes' rows
    * are dropped from the prior graph before the merge, and
    * [[graft.operators.Similarity.mergeKnnEdges]]'s pre-TopK distinct
    * absorbs the re-scored delta — so a crashed-and-replayed micro-batch
    * lands on the single-run state. Exact scores make the rolled graph
    * provably identical to a from-scratch union build (StreamingSpec pins
    * it). */
  def rollForwardGraph(vecs: DataFrame, vecStorePath: String,
                       graphPath: String, cents: Array[Array[Double]],
                       nProbe: Int, k: Int): DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch0: DataFrame, id: Long) =>
        val s = batch0.sparkSession
        val release = s"b$id"
        // pinned: reused as delta candidates, batch nodes AND the append
        val batch = batch0.select(col("vec_id"), col("embedding"))
          .localCheckpoint()
        def nodes(d: DataFrame) = d.select(
          col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
        def cands(d: DataFrame) = d.select(
          col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb"))
        val fs = new org.apache.hadoop.fs.Path(vecStorePath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val old =
          if (fs.exists(new org.apache.hadoop.fs.Path(vecStorePath))) {
            s.catalog.refreshByPath(vecStorePath)
            s.read.parquet(vecStorePath)
              .where(col("release") =!= release)
              .select(col("vec_id"), col("embedding"))
          } else batch.limit(0)
        val prior =
          if (fs.exists(new org.apache.hadoop.fs.Path(graphPath))) {
            s.catalog.refreshByPath(graphPath)
            graft.pipeline.VectorRelease.readGraph(s, graphPath)
          } else graft.operators.Similarity.ivfExactGraphEdges(
            nodes(batch.limit(0)), cands(batch.limit(0)), cents, nProbe, k)
        val priorClean = prior.join(
          nodes(batch).select(col("q_id").as("src_id")), Seq("src_id"),
          "left_anti")
        val merged = graft.operators.Similarity.mergeKnnEdges(priorClean,
            graft.operators.Similarity.ivfExactGraphEdges(nodes(old),
              cands(batch), cents, nProbe, k), k)
          .unionByName(graft.operators.Similarity.ivfExactGraphEdges(
            nodes(batch), cands(old.unionByName(batch)), cents, nProbe, k))
        graft.pipeline.VectorRelease.writeGraph(merged, graphPath)
        batch.withColumn("release", lit(release))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("release")
          .parquet(vecStorePath)
      }

  /** Streaming UNIFIED index maintenance — the stream twin of
    * [[graft.pipeline.VectorRelease.maintain]] (q186/q189): every
    * micro-batch is a "night" — verdict → conditional rebalance → index
    * append → graph merge → eval drop list — so a degenerate store
    * SELF-HEALS mid-stream while the index keeps rolling forward. The
    * (graph, generation) pair maintain's staleness contract asks operators
    * to persist between nights lives on disk here (`graphPath` +
    * `$graphPath.gen`), exactly as a production scheduler would keep it.
    *
    * The caller seeds persisted state at store-build time: the raw-vector
    * side store (release-partitioned, like [[rollForwardGraph]]'s), the
    * resident corpus's edge list, and the generation stamp
    * ([[graft.pipeline.VectorRelease.writeGeneration]]).
    *
    * Replay converges through the same three mechanisms as the batch path:
    * the batch's own release partition is excluded from the old side and
    * dynamically re-overwritten (index codes AND side store), its nodes'
    * rows are dropped from the prior graph before the merge, and a
    * rebalance committed by a crashed attempt is converged by maintain's
    * leading `recover` + the persisted-generation mismatch (the gen stamp
    * is written AFTER the graph, so a crash between the two leaves a stale
    * stamp that can only force the conservative from-scratch graph rebuild,
    * never a wrong merge). StreamingSpec pins stream ≡ the batch
    * three-night sequence and replay convergence.
    *
    * `deepAuditEvery` passes through to the batch verb's scheduled
    * full-card cadence: a streaming nightly over a TORN release aborts its
    * micro-batch with the card (failing the query — a streaming night must
    * not report success over corruption either), and after
    * [[graft.pipeline.IndexStore.repairRelease]] a fresh query over the
    * same files replays and converges to the batch twin (StreamingSpec
    * pins abort → repair → resume). */
  def maintainIndex(vecs: DataFrame, indexPath: String, vecStorePath: String,
                    graphPath: String, evals: DataFrame, kCoarse: Int,
                    maxShareMilli: Long,
                    deepAuditEvery: Int = 0,
                    p: graft.pipeline.VectorRelease.Params =
                      graft.pipeline.VectorRelease.Params()): DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch0: DataFrame, id: Long) =>
        val s = batch0.sparkSession
        val release = s"b$id"
        val batch = batch0.select(col("vec_id"), col("embedding"))
          .localCheckpoint()
        val genPath = s"$graphPath.gen"
        s.catalog.refreshByPath(vecStorePath)
        val old = s.read.parquet(vecStorePath)
          .where(col("release") =!= release)
          .select(col("vec_id"), col("embedding"))
        s.catalog.refreshByPath(graphPath)
        val prior = graft.pipeline.VectorRelease.readGraph(s, graphPath)
          .join(batch.select(col("vec_id").cast("long").as("src_id")),
            Seq("src_id"), "left_anti")
        val out = graft.pipeline.VectorRelease.maintain(s, indexPath, batch,
            old, evals, prior, "vec_id", "embedding", release,
            kCoarse, maxShareMilli,
            priorGeneration =
              graft.pipeline.VectorRelease.readGeneration(s, genPath),
            deepAuditEvery = deepAuditEvery,
            p = p)
          .localCheckpoint()
        graft.pipeline.VectorRelease.writeGraph(out, graphPath)
        graft.pipeline.VectorRelease.writeGeneration(s, genPath,
          graft.pipeline.IndexStore.generation(s, indexPath))
        batch.withColumn("release", lit(release))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("release")
          .parquet(vecStorePath)
      }

  /** Frozen-vocabulary BPE token counting on a document stream — the
    * tokenizer's serving twin (the encodeVectors / scoreDocs idiom): each
    * micro-batch counts tokens under a vocabulary trained ONCE on a prior
    * release (`TextAnalysis.bpeVocab`), running the identical word-keyed
    * join + doc-keyed aggregation the batch path (q143) runs — foreachBatch
    * makes the micro-batch a plain frame, so stream and batch share one
    * code path and counts are bit-equal. The vocab is a static
    * vocabulary-sized table; no streaming state, no watermark. */
  def countTokens(docs: DataFrame, vocab: DataFrame,
                  sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.TextAnalysis.bpeCountWithVocab(
          batch, "doc_id", "text", vocab), id)
      }

  /** Embedding decontamination on a vector stream — q152's serving twin
    * (the countTokens / scoreDocs idiom): each micro-batch of arriving
    * corpus vectors is flagged against a FROZEN eval probe table
    * ([[graft.operators.Similarity.evalProbes]], computed once against the
    * frozen coarse centroids — the persistable kilobyte artifact), running
    * the identical broadcast cell-join + threshold + best-match aggregation
    * the batch path runs, so stream and batch drop lists are bit-equal. No
    * streaming state, no watermark: a vector's verdict depends only on its
    * own batch row and the static probes. */
  def decontaminate(vecs: DataFrame, probes: DataFrame, threshold: Double,
                    sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.Similarity.decontaminateWithProbes(
          batch, "vec_id", "embedding", "label", probes, threshold), id)
      }

  /** Multi-signal admission gate as a plain frame transform — q168's shared
    * batch/stream code path: heuristic quality (per-row), frozen-weight
    * classifier softsign p (per-row), novelty against the FROZEN gram store
    * (one hashed-gram equi-join), combined with q168's exact integer
    * weights. Works identically on a micro-batch or a batch frame; the
    * only state is the static (weights, store) pair, trained/persisted on
    * prior releases. */
  def gateDocs(docs: DataFrame, weights: Array[Long], store: DataFrame,
               stopwords: Seq[String], threshold: Long): DataFrame = {
    val m = col("margin_micro").cast("double") / lit(1e6)
    val p = lit(0.5) + lit(0.5) * (m / (lit(1d) + abs(m)))
    val scored = docs.select(col("doc_id"),
        graft.operators.Classifier.scoreExpr(col("text"), weights)
          .as("margin_micro"),
        round(graft.operators.TextAnalysis.qualityScore(col("text"), stopwords)
          * 1000d).cast("long").as("q_milli"))
      .withColumn("p_milli", floor(p * 1000).cast("long"))
    val nov = graft.pipeline.GramStore.noveltyAgainst(docs, "doc_id", "text",
        store)
      .select(col("doc_id"), col("novelty_permille"))
    scored.join(nov, Seq("doc_id"))
      .withColumn("ensemble_milli",
        expr("div(3 * q_milli + 4 * p_milli + 3 * novelty_permille, 10)"))
      .select(col("doc_id"), col("q_milli"), col("p_milli"),
        col("novelty_permille"), col("ensemble_milli"),
        (col("ensemble_milli") >= threshold).as("keep"))
  }

  /** [[gateDocs]] on a document stream — the admission gate a release
    * pipeline runs as documents arrive (the countTokens / decontaminate
    * idiom): foreachBatch makes each micro-batch a plain frame, so stream
    * and batch share the one gate code path and decisions are bit-equal
    * given the same frozen weights and gram store. */
  def admitDocs(docs: DataFrame, weights: Array[Long], store: DataFrame,
                stopwords: Seq[String], threshold: Long,
                sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(gateDocs(batch, weights, store, stopwords, threshold), id)
      }

  /** Contamination-span excision on a document stream — q174's serving
    * twin (the countTokens / decontaminate idiom): each arriving
    * micro-batch is scrubbed against a FROZEN benchmark gram table by the
    * identical [[graft.operators.Dedup.scrubBenchmarkSpans]] code path, so
    * stream and batch outputs are bit-equal. The benchmark set is static
    * eval data by definition; no streaming state, no watermark. */
  def scrubDocs(docs: DataFrame, bench: DataFrame, n: Int,
                sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.Dedup.scrubBenchmarkSpans(
          batch, "doc_id", "text", bench, "text", n), id)
      }

  /** Frozen-weight quality scoring on a document stream: ONE per-row
    * expression (`Classifier.scoreExpr`) — no join, no shuffle, no state —
    * so it runs identically on a stream or a batch frame. Batch twin:
    * q134_classifier_serve (train on the prior release with
    * `Classifier.trainWeights`, serve the new slice); margins are exact
    * longs, bit-equal between the two paths. */
  def scoreDocs(docs: DataFrame, weights: Array[Long]): DataFrame =
    docs.select(col("doc_id"),
        graft.operators.Classifier.scoreExpr(col("text"), weights)
          .as("margin_micro"))
      .withColumn("pred", col("margin_micro") > 0)
}
