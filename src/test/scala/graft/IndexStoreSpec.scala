package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Similarity
import graft.pipeline.IndexStore
import graft.pipeline.IndexStore.{Int8, Raw, ServeSpec}
import graft.sources.Tables

/** The persisted IVFADC index: q146 verifies the frozen-disk SERVE answer
  * against the shared q145 oracle; this spec proves the store lifecycle —
  * model/codes disk round-trip, rebuild idempotence, map-only release
  * append ≡ frozen-encode of the union, and the probed-cell partition
  * pruning the (cell, release) layout exists for. */
class IndexStoreSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private val isNew = col("vec_id") % 10 >= 8

  private def queriesDf: DataFrame = emb.where(col("vec_id") % 50 === 0)
    .select(col("vec_id").cast("long").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))

  private def fullVecs: DataFrame = emb
    .select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))

  private def build(path: String, df: DataFrame, release: String = "r1",
                    kCoarse: Int = 8): Unit =
    IndexStore.build(spark, path, df, "vec_id", "embedding",
      dim = 64, kCoarse = kCoarse, coarseIters = 4, m = 16, ksub = 8,
      iters = 3, release = release)

  test("an EMPTY release append vacuums its ghost partitions (rerun-converges empty corner)") {
    val dir = LocalSession.tempDir("ivfadc_empty").toString + "/index"
    val isOld = col("vec_id") % 10 < 8
    build(dir, emb.where(isOld))
    IndexStore.buildRerank(spark, dir, fullVecs)
    // night 1 partially appended r2; the rerun's delta is now EMPTY (a
    // takedown scrubbed the whole night) — the ghost partitions must drop
    // from the code table AND the rerank tier
    IndexStore.append(spark, dir, emb.where(!isOld), "vec_id", "embedding", "r2")
    IndexStore.appendRerank(spark, dir, emb.where(!isOld)
      .select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb")), "r2")
    IndexStore.append(spark, dir, emb.where(lit(false)),
      "vec_id", "embedding", "r2")
    assert(IndexStore.readCodes(spark, dir)
      .where(col("release") === "r2").isEmpty,
      "an emptied release rerun must drop its ghost code partition")
    spark.catalog.refreshByPath(s"$dir/rerank/codes")
    assert(spark.read.parquet(s"$dir/rerank/codes")
      .where(col("release") === "r2").isEmpty,
      "an emptied release rerun must drop its ghost rerank partition")
    // r1 untouched, still serves
    assert(IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).count() > 0)
  }

  test("frozen-disk serve equals the in-job ivfPqTopK answer") {
    val dir = LocalSession.tempDir("ivfadc_rt").toString + "/index"
    build(dir, emb)
    val served = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
    val inJob = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      col("vec_id") % 50 === 0, dim = 64, kCoarse = 8, coarseIters = 4,
      nProbe = 2, m = 16, ksub = 8, iters = 3, k = 5, shortlist = 100)
    assert(served.count() > 0, "fixture queries must return neighbors")
    assert(served.exceptAll(inJob).isEmpty && inJob.exceptAll(served).isEmpty)
  }

  test("queryFiltered: all-ids keep equals query; selective keep pre-filters before the shortlist") {
    val dir = LocalSession.tempDir("ivfadc_filt").toString + "/index"
    build(dir, emb)
    val allIds = emb.select(col("vec_id").cast("long").as("cand_id"))
    val plain = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
    val allKeep = IndexStore.queryFiltered(spark, dir, queriesDf, fullVecs,
      allIds, nProbe = 2, k = 5, shortlist = 100)
    assert(allKeep.exceptAll(plain).isEmpty && plain.exceptAll(allKeep).isEmpty,
      "an unrestricted keep set must not change the served answer")
    // selective keep: the answer is the serve chain over ONLY eligible code
    // rows — compare against the white-box manual pre-filter of the scan
    val keep = emb.where(col("label") % 2 === 0)
      .select(col("vec_id").cast("long").as("cand_id"))
    val got = IndexStore.queryFiltered(spark, dir, queriesDf, fullVecs, keep,
      nProbe = 2, k = 5, shortlist = 100).cache()
    val model = IndexStore.readModel(spark, dir)
    val manual = Similarity.ivfPqServe(queriesDf,
      IndexStore.readCodes(spark, dir)
        .join(broadcast(keep), Seq("cand_id"), "left_semi"),
      fullVecs, model, nProbe = 2, k = 5, shortlist = 100)
    assert(got.exceptAll(manual).isEmpty && manual.exceptAll(got).isEmpty)
    // every served candidate passes the predicate, and the filter did not
    // starve the top-k (pre-filtering keeps all shortlist slots eligible)
    val oddServed = got.join(
      emb.where(col("label") % 2 =!= 0)
        .select(col("vec_id").cast("long").as("cand_id")), Seq("cand_id"))
    assert(oddServed.isEmpty, "filtered serve leaked an excluded candidate")
    import spark.implicits._
    val perQuery = got.groupBy("q_id").count().select("count").as[Long].collect()
    assert(perQuery.nonEmpty && perQuery.forall(_ == 5L),
      "a half-corpus filter must still fill k=5 per query")
  }

  test("queryFilteredInt8: all-ids keep equals queryInt8; keep pre-filters the int8 serve") {
    val dir = LocalSession.tempDir("ivfadc_fi8").toString + "/index"
    build(dir, emb)
    IndexStore.buildRerank(spark, dir, fullVecs)
    val allIds = emb.select(col("vec_id").cast("long").as("cand_id"))
    val plain = IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100)
    val allKeep = IndexStore.serve(spark, dir, queriesDf,
      ServeSpec(Int8, keep = Some(allIds)), nProbe = 2, k = 5, shortlist = 100)
    assert(allKeep.exceptAll(plain).isEmpty && plain.exceptAll(allKeep).isEmpty)
    val keep = emb.where(col("label") % 2 === 0)
      .select(col("vec_id").cast("long").as("cand_id"))
    val got = IndexStore.serve(spark, dir, queriesDf,
      ServeSpec(Int8, keep = Some(keep)), nProbe = 2, k = 5,
      shortlist = 100).cache()
    // no excluded candidate leaks, and the half-corpus filter still fills k
    val leaked = got.join(emb.where(col("label") % 2 =!= 0)
      .select(col("vec_id").cast("long").as("cand_id")), Seq("cand_id"))
    assert(leaked.isEmpty, "int8 filtered serve leaked an excluded candidate")
    import spark.implicits._
    val perQuery = got.groupBy("q_id").count().select("count").as[Long].collect()
    assert(perQuery.nonEmpty && perQuery.forall(_ == 5L))
  }

  test("serve's eager build runs a fixed number of Spark jobs per shape") {
    val dir = LocalSession.tempDir("ivfadc_jobs").toString + "/index"
    build(dir, emb)
    IndexStore.buildRerank(spark, dir, fullVecs)
    val keep = emb.where(col("label") % 2 === 0)
      .select(col("vec_id").cast("long").as("cand_id"))
    def serve(spec: ServeSpec): DataFrame =
      IndexStore.serve(spark, dir, queriesDf, spec, nProbe = 2, k = 5,
        shortlist = 100)
    // building the frame runs only the metadata collects and the
    // probed-cell collect, every read with its declared schema; int8 adds
    // one rerank-stats read (schema inference plus one collect) and the
    // tier's schema inference. The serve itself runs at the caller's action.
    val shapes = Seq[(String, () => DataFrame, Int)](
      ("raw", () => serve(ServeSpec(Raw(fullVecs))), 5),
      ("raw+keep", () => serve(ServeSpec(Raw(fullVecs), keep = Some(keep))), 5),
      ("raw+releases", () =>
        serve(ServeSpec(Raw(fullVecs), releases = Some(Seq("r1")))), 5),
      ("int8", () => serve(ServeSpec(Int8)), 8),
      ("int8+keep", () => serve(ServeSpec(Int8, keep = Some(keep))), 8),
      ("decontaminate", () => IndexStore.decontaminate(spark, dir, queriesDf,
        fullVecs, nProbe = 2, shortlist = 100, threshold = 0.3), 5))
    val counts = shapes.map { case (name, df, _) => name -> jobsDuring(df()) }
    assert(counts === shapes.map { case (name, _, n) => name -> n })
  }

  test("every serve-path table is written in its declared schema: build, append, delete, rebalance") {
    val dir = LocalSession.tempDir("ivfadc_schema").toString + "/index"
    // the schema of every parquet file under `sub`, nullability aside
    def footers(sub: String): Set[String] = {
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      files(new java.io.File(s"$dir/$sub"))
        .map(f => spark.read.parquet(f.toString).schema.catalogString).toSet
    }
    // `s` without its partition columns: what the files themselves hold
    def inFiles(s: StructType, partitions: String*): String =
      StructType(s.filterNot(f => partitions.contains(f.name))).catalogString
    val tables = Seq(
      "meta/centroids" -> inFiles(IndexStore.CentroidsSchema),
      "meta/codebooks" -> inFiles(IndexStore.CodebooksSchema),
      "meta/rotation" -> inFiles(IndexStore.RotationSchema),
      "codes" -> inFiles(IndexStore.CodesSchema, "cell", "release"),
      "tombstones" -> inFiles(IndexStore.TombstoneSchema))
    def check(step: String, absent: String*): Unit = {
      tables.foreach { case (sub, declared) =>
        assert(footers(sub) === (if (absent.contains(sub)) Set() else Set(declared)),
          s"after $step: $sub")
      }
      // the declared read types the partition columns, and no declared
      // column is missing from the files (it would read as null)
      assert(IndexStore.readCodes(spark, dir).where(col("cand_id").isNull ||
        col("codes").isNull || col("cell").isNull || col("release").isNull).isEmpty)
    }
    IndexStore.build(spark, dir, emb.where(!isNew), "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1", opq = true)
    check("build", "tombstones")
    IndexStore.append(spark, dir, emb.where(isNew), "vec_id", "embedding", "r2")
    check("append", "tombstones")
    IndexStore.delete(spark, dir, emb.where(col("vec_id") % 7 === 3).select("vec_id"))
    check("delete")
    assert(IndexStore.readTombstones(spark, dir).get.count() ===
      emb.where(col("vec_id") % 7 === 3).count())
    IndexStore.rebalance(spark, dir, emb, "vec_id", "embedding",
      kCoarse = 4, coarseIters = 4, pqIters = 3)
    // the rebalance realized every tombstone and cleared the list
    check("rebalance", "tombstones")
  }

  test("queryAsOf: r1-restricted serve is bit-identical to the pre-append answer") {
    val dir = LocalSession.tempDir("ivfadc_asof").toString + "/index"
    val isOld = col("vec_id") % 10 < 8
    build(dir, emb.where(isOld))
    // what the store answered when r1 WAS the whole population
    val before = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).collect()
    IndexStore.append(spark, dir, emb.where(!isOld), "vec_id", "embedding", "r2")
    val asOf = IndexStore.serve(spark, dir, queriesDf,
      ServeSpec(Raw(fullVecs), releases = Some(Seq("r1"))),
      nProbe = 2, k = 5, shortlist = 100).collect()
    assert(asOf.toSet === before.toSet,
      "appending r2 must not change the r1 as-of answer")
    // the full release set serves exactly like the unrestricted query
    val both = IndexStore.serve(spark, dir, queriesDf,
      ServeSpec(Raw(fullVecs), releases = Some(Seq("r1", "r2"))),
      nProbe = 2, k = 5, shortlist = 100)
    val plain = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
    assert(both.exceptAll(plain).isEmpty && plain.exceptAll(both).isEmpty)
  }

  test("frozen-store kNN graph equals the inline-encode twin; mutual is reciprocal membership") {
    val dir = LocalSession.tempDir("ivfadc_knn").toString + "/index"
    build(dir, emb)
    val nodes = emb.select(col("vec_id").cast("long").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val served = IndexStore.knnGraph(spark, dir, nodes, fullVecs,
      nProbe = 2, k = 3, shortlist = 50).cache()
    // inline twin: same train/encode on the same corpus, same graph pass
    val model = Similarity.ivfPqTrain(emb, "vec_id", "embedding", dim = 64,
      kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3)
    val inline = Similarity.ivfPqGraphEdges(nodes,
      Similarity.ivfPqEncode(emb, "vec_id", "embedding", model), fullVecs,
      model, nProbe = 2, k = 3, shortlist = 50)
    val servedEdges = served.select("src_id", "dst_id", "score", "rank")
    assert(servedEdges.exceptAll(inline).isEmpty &&
      inline.exceptAll(servedEdges).isEmpty)
    // mutual flag is exactly reciprocal membership; ranks are 1..deg
    val rows = served.select("src_id", "dst_id", "rank", "mutual")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val eset = rows.map(r => (r._1, r._2)).toSet
    rows.foreach(r => assert(r._4 === eset.contains((r._2, r._1))))
    rows.groupBy(_._1).values.foreach { es =>
      assert(es.map(_._3).sorted.toList === (1L to es.length).toList)
    }
    served.unpersist()
  }

  test("incremental kNN merge equals the from-scratch graph under the frozen quantizer") {
    val isNew = col("vec_id") % 10 >= 8
    val cents = Similarity.kMeansCentroids(emb.where(!isNew), "vec_id",
      "embedding", 8, 4)
    def nodes(d: DataFrame) = d.select(col("vec_id").cast("long").as("q_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    def cands(d: DataFrame) = d.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
    // decomposability: merging the prior graph with a delta scored only
    // against the new slice must equal scoring old nodes against the UNION
    val prior = Similarity.ivfExactGraphEdges(nodes(emb.where(!isNew)),
      cands(emb.where(!isNew)), cents, nProbe = 2, k = 3)
    val delta = Similarity.ivfExactGraphEdges(nodes(emb.where(!isNew)),
      cands(emb.where(isNew)), cents, nProbe = 2, k = 3)
    val merged = Similarity.mergeKnnEdges(prior, delta, k = 3)
    val scratch = Similarity.ivfExactGraphEdges(nodes(emb.where(!isNew)),
      cands(emb), cents, nProbe = 2, k = 3)
    assert(merged.exceptAll(scratch).isEmpty && scratch.exceptAll(merged).isEmpty)
    // overlapping delta: a pair re-scored by the delta must occupy ONE TopK
    // slot, not evict a genuine neighbor (the union dedups before the TopK)
    val overlapped = Similarity.mergeKnnEdges(prior,
      delta.unionByName(prior), k = 3)
    assert(overlapped.exceptAll(merged).isEmpty &&
      merged.exceptAll(overlapped).isEmpty)
    // and the rolled-forward FULL graph covers every union node with k edges
    val full = Similarity.withMutualFlag(merged.unionByName(
      Similarity.ivfExactGraphEdges(nodes(emb.where(isNew)), cands(emb),
        cents, nProbe = 2, k = 3)))
    val bySrc = full.select("src_id").groupBy("src_id").count()
    assert(bySrc.count() === emb.count())
  }

  test("frozen-store decontaminate equals the inline encode twin and finds planted dups") {
    // corpus = non-eval vectors PLUS one planted exact copy of eval vector
    // 0 under a fresh id — the copy must surface on the drop list at
    // cosine 1.0 with eval 0 as its best match
    val isEval = col("vec_id") % 50 === 0
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val planted = emb.where(col("vec_id") === 0)
      .withColumn("vec_id", lit(maxId + 1))
    val corpus = emb.where(!isEval).unionByName(planted)
    val dir = LocalSession.tempDir("ivfadc_decont").toString + "/index"
    build(dir, corpus)
    val evals = emb.where(isEval)
      .select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("q_emb"))
    val fv = corpus.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
    val served = IndexStore.decontaminate(spark, dir, evals, fv,
      nProbe = 2, shortlist = 100, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // lifecycle parity: the same composition with in-job training/encoding
    val model = Similarity.ivfPqTrain(corpus, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3)
    val enc = Similarity.ivfPqEncode(corpus, "vec_id", "embedding", model)
    val inline = Similarity.dropListFromMatches(
        Similarity.ivfPqServe(evals, enc, fv, model, nProbe = 2,
          k = 100, shortlist = 100), threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === inline)
    assert(served.contains((maxId + 1, 0L, 1.0)), s"planted dup missing from $served")
  }

  test("model round-trips through the meta files bit-for-bit") {
    val dir = LocalSession.tempDir("ivfadc_model").toString + "/index"
    val model = Similarity.ivfPqTrain(emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3)
    build(dir, emb)
    val back = IndexStore.readModel(spark, dir)
    assert(back.dim === model.dim)
    assert(back.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
    assert(back.codebooks.map(_.map(_.toSeq).toSeq).toSeq
      === model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("rebuild is idempotent: run-twice leaves an identical index") {
    val dir = LocalSession.tempDir("ivfadc_idem").toString + "/index"
    build(dir, emb)
    val once = IndexStore.readCodes(spark, dir)
      .select("cand_id", "cell", "codes", "release").collect().toSet
    build(dir, emb)
    val twice = IndexStore.readCodes(spark, dir)
      .select("cand_id", "cell", "codes", "release").collect().toSet
    assert(twice === once, "rebuilding must replace, never duplicate")
  }

  test("release append is map-only frozen-encode and idempotent per release") {
    val dir = LocalSession.tempDir("ivfadc_app").toString + "/index"
    // seed index trains on the OLD slice only
    build(dir, emb.where(!isNew))
    val model = IndexStore.readModel(spark, dir)
    IndexStore.append(spark, dir, emb.where(isNew), "vec_id", "embedding",
      release = "r2")
    // quantizers are untouched by the append
    val after = IndexStore.readModel(spark, dir)
    assert(after.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
    // store codes == encoding the UNION against the same frozen model
    // (append never retrains — the q124 + q127 composition)
    val stored = IndexStore.readCodes(spark, dir)
      .select("cand_id", "cell", "codes").collect().toSet
    val expected = Similarity.ivfPqEncode(emb, "vec_id", "embedding", model)
      .collect().toSet
    assert(stored === expected)
    // re-running the release replaces its partitions, never duplicates
    IndexStore.append(spark, dir, emb.where(isNew), "vec_id", "embedding",
      release = "r2")
    assert(IndexStore.readCodes(spark, dir).count() === emb.count())
  }

  test("vacuum drops exactly the rejected releases' code partitions") {
    val dir = LocalSession.tempDir("ivfadc_vac").toString + "/index"
    build(dir, emb.where(!isNew), release = "r1")
    IndexStore.buildRerank(spark, dir,
      emb.where(!isNew).select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb")))
    IndexStore.append(spark, dir, emb.where(isNew), "vec_id", "embedding",
      release = "r2")
    IndexStore.appendRerank(spark, dir,
      emb.where(isNew).select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb")), "r2")
    val model = IndexStore.readModel(spark, dir)
    val dropped = IndexStore.vacuum(spark, dir, keep = _ == "r2")
    assert(dropped === Seq("r1"))
    val left = IndexStore.readCodes(spark, dir)
    assert(left.select("release").distinct().collect().map(_.getString(0)).toSeq
      === Seq("r2"))
    assert(left.count() === emb.where(isNew).count())
    // the rerank tier vacuums WITH the code table — no dead scan bytes
    spark.catalog.refreshByPath(s"$dir/rerank/codes")
    val tier = spark.read.parquet(s"$dir/rerank/codes")
    assert(tier.select("release").distinct().collect().map(_.getString(0))
      .toSeq === Seq("r2"))
    assert(tier.count() === emb.where(isNew).count())
    // quantizer metadata is release-independent and survives the vacuum
    val after = IndexStore.readModel(spark, dir)
    assert(after.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
    // vacuuming everything currently kept is a no-op
    assert(IndexStore.vacuum(spark, dir, keep = _ == "r2") === Seq.empty)
  }

  test("rebalance heals a degenerate quantizer and equals a fresh build; releases survive") {
    val dir = LocalSession.tempDir("ivfadc_reb").toString + "/index"
    // plant the q178 failure mode: kCoarse = 2 monster cells, two releases
    build(dir, emb.where(!isNew), release = "r1", kCoarse = 2)
    IndexStore.append(spark, dir, emb.where(isNew), "vec_id", "embedding",
      release = "r2")
    val before = IndexStore.readCodes(spark, dir)
      .select("cell").distinct().count()
    assert(before <= 2, s"degenerate fixture expected <= 2 cells, got $before")
    IndexStore.rebalance(spark, dir, emb, "vec_id", "embedding",
      kCoarse = 8, coarseIters = 4, pqIters = 3)
    // healed: the code population spreads over the retrained cells
    val after = IndexStore.readCodes(spark, dir)
    assert(after.select("cell").distinct().count() > 2)
    // release provenance survives the re-encode
    val rel = after.select("cand_id", "release").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rel.nonEmpty && rel.forall { case (id, r) =>
      r === (if (id % 10 >= 8) "r2" else "r1") })
    // post-rebalance serving equals the in-job answer under a fresh
    // kCoarse = 8 model (same training population and params)
    val served = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
    val fresh = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      col("vec_id") % 50 === 0, dim = 64, kCoarse = 8, coarseIters = 4,
      nProbe = 2, m = 16, ksub = 8, iters = 3, k = 5, shortlist = 100)
    assert(served.exceptAll(fresh).isEmpty && fresh.exceptAll(served).isEmpty)
  }

  test("compact rewrites targeted release partitions to one file each; serve is bit-identical") {
    val dir = LocalSession.tempDir("ivfadc_cpt").toString + "/index"
    // at spec scale AQE coalesces the write into one task per partition —
    // turn it off for the fixture build so the (cell, hash-bucket)
    // repartition fragments partitions the way corpus-sized writes do
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      build(dir, emb.where(!isNew), release = "r1")
      IndexStore.buildRerank(spark, dir,
        emb.where(!isNew).select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb")))
      IndexStore.append(spark, dir, emb.where(isNew), "vec_id", "embedding",
        release = "r2")
      IndexStore.appendRerank(spark, dir,
        emb.where(isNew).select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb")), "r2")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    def partFiles(sub: String): Map[String, Int] = {
      val root = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (for {
        cell <- fs.listStatus(root).toSeq
        if cell.isDirectory && cell.getPath.getName.startsWith("cell=")
        rel <- fs.listStatus(cell.getPath).toSeq
        if rel.isDirectory && rel.getPath.getName.startsWith("release=")
      } yield s"${cell.getPath.getName}/${rel.getPath.getName}" ->
        fs.listStatus(rel.getPath)
          .count(f => f.getPath.getName.endsWith(".parquet"))).toMap
    }
    def serveBoth(): (Set[org.apache.spark.sql.Row], Set[org.apache.spark.sql.Row]) = (
      IndexStore.query(spark, dir, queriesDf, fullVecs,
        nProbe = 2, k = 5, shortlist = 100).collect().toSet,
      IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
        nProbe = 2, k = 5, shortlist = 100).collect().toSet)

    val before = partFiles("codes")
    val beforeT = partFiles("rerank/codes")
    val (q0, q8a) = serveBoth()
    assert(before.filterKeys(_.endsWith("release=r1")).values.sum >
      before.count { case (k, _) => k.endsWith("release=r1") },
      "fixture must fragment r1 across multiple files for the test to bite")

    val res = IndexStore.compact(spark, dir, target = _ == "r1")
    assert(res("codes") === Seq("r1") && res("rerank/codes") === Seq("r1"))
    val after = partFiles("codes")
    val afterT = partFiles("rerank/codes")
    // every r1 partition now holds exactly one file, in both tables
    assert(after.filterKeys(_.endsWith("release=r1")).values.forall(_ == 1))
    assert(afterT.filterKeys(_.endsWith("release=r1")).values.forall(_ == 1))
    // r2 partitions untouched
    assert(after.filterKeys(_.endsWith("release=r2")).toMap
      === before.filterKeys(_.endsWith("release=r2")).toMap)
    assert(afterT.filterKeys(_.endsWith("release=r2")).toMap
      === beforeT.filterKeys(_.endsWith("release=r2")).toMap)
    // rows and serve answers bit-identical (float path AND int8 path)
    val (q1, q8b) = serveBoth()
    assert(q1 === q0 && q8b === q8a)
    assert(IndexStore.readCodes(spark, dir).count()
      === emb.count())

    // rerun is a no-op-shaped idempotent rewrite; vacuum still composes
    val res2 = IndexStore.compact(spark, dir, target = _ == "r1")
    assert(res2("codes") === Seq("r1"))
    assert(partFiles("codes") === after)
    assert(IndexStore.vacuum(spark, dir, keep = _ == "r2") === Seq("r1"))
    assert(IndexStore.readCodes(spark, dir).select("release").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("r2"))
  }

  test("serve refuses an int8 tier stamped under a stale model generation") {
    // the crash window: a rebalance commits its swap (generation bump rides
    // the staged meta) and dies BEFORE the tier rebuild. The tier's
    // partitions are then keyed by the dead quantizer's cells and the
    // pruned rerank scan would silently drop candidates — the guard turns
    // that into a loud refusal. Emulate the window by advancing the
    // persisted generation stamp, the only observable the guard keys on.
    val dir = LocalSession.tempDir("ivfadc_gen").toString + "/index"
    build(dir, emb)
    IndexStore.buildRerank(spark, dir, fullVecs)
    val genPath = new org.apache.hadoop.fs.Path(s"$dir/meta/_generation")
    val fs = genPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(genPath, true)
    out.write("1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val e1 = intercept[IllegalArgumentException] {
      IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
        nProbe = 2, k = 5, shortlist = 100).collect()
    }
    assert(e1.getMessage.contains("generation"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.dropListFromMatches(IndexStore.serve(spark, dir, queriesDf,
        ServeSpec(Int8), nProbe = 2, k = 100, shortlist = 100),
        threshold = 0.3).collect()
    }
    assert(e2.getMessage.contains("generation"))
    // appending under another epoch's frozen stats is refused too
    val e3 = intercept[IllegalArgumentException] {
      IndexStore.appendRerank(spark, dir, fullVecs.limit(5), "r2")
    }
    assert(e3.getMessage.contains("generation"))
    // the documented fix re-stamps the tier and serving resumes
    IndexStore.buildRerank(spark, dir, fullVecs)
    assert(IndexStore.rerankGeneration(spark, dir) === Some(1L))
    assert(IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100).count() > 0)
  }

  test("a direct rebalance rebuilds the int8 tier under the healed cells") {
    // without the rebuild, the tier keeps the DEGENERATE cell keys and the
    // partition-pruned rerank scan silently drops shortlisted candidates
    // whose rows sit under stale cells — the worst kind of wrong answer
    val dir = LocalSession.tempDir("ivfadc_rebt").toString + "/index"
    build(dir, emb, kCoarse = 2)
    IndexStore.buildRerank(spark, dir, fullVecs)
    IndexStore.rebalance(spark, dir, emb, "vec_id", "embedding",
      kCoarse = 8, coarseIters = 4, pqIters = 3)
    val served = IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100)
    // a fresh kc8 store with a fresh tier is the converged target
    val dirF = LocalSession.tempDir("ivfadc_rebtF").toString + "/index"
    build(dirF, emb, kCoarse = 8)
    IndexStore.buildRerank(spark, dirF, fullVecs)
    val freshServe = IndexStore.serve(spark, dirF, queriesDf,
      ServeSpec(Int8), nProbe = 2, k = 5, shortlist = 100)
    assert(served.count() > 0)
    assert(served.exceptAll(freshServe).isEmpty &&
      freshServe.exceptAll(served).isEmpty)
  }

  test("OPQ store: frozen-disk serve equals inline rotate+ivfPqTopK; rotation survives append and retrains on rebalance") {
    val dir = LocalSession.tempDir("ivfadc_opq").toString + "/index"
    IndexStore.build(spark, dir, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1", opq = true)
    val w0 = IndexStore.readRotation(spark, dir)
    assert(w0.nonEmpty, "OPQ build must persist a rotation")
    // store-served ≡ the inline opqRotate + ivfPqTopK composition (the
    // q146 ≡ q145 lifecycle identity, now for the rotated quantizer)
    val served = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
    val rot = Similarity.opqRotate(emb, "vec_id", "embedding", dim = 64,
      iters = 3)
    val inline = Similarity.ivfPqTopK(rot, "vec_id", "emb_rot",
      col("vec_id") % 50 === 0, dim = 64, kCoarse = 8, coarseIters = 4,
      nProbe = 2, m = 16, ksub = 8, iters = 3, k = 5, shortlist = 100)
    assert(served.count() > 0)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty)

    // append freezes the rotation: new codes = frozen-model encode of the
    // rotated union, quantizer metadata untouched
    val dir2 = LocalSession.tempDir("ivfadc_opq_app").toString + "/index"
    IndexStore.build(spark, dir2, emb.where(!isNew), "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1", opq = true)
    val wOld = IndexStore.readRotation(spark, dir2).get.toSeq
    val model = IndexStore.readModel(spark, dir2)
    IndexStore.append(spark, dir2, emb.where(isNew), "vec_id", "embedding",
      release = "r2")
    assert(IndexStore.readRotation(spark, dir2).get.toSeq === wOld)
    val stored = IndexStore.readCodes(spark, dir2)
      .select("cand_id", "cell", "codes").collect().toSet
    val expected = Similarity.ivfPqEncode(
      Similarity.householderRotate(
        emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
        "embedding", wOld.toArray),
      "vec_id", "embedding", model).collect().toSet
    assert(stored === expected)

    // rebalance retrains rotation + model on the full corpus with the same
    // params — the healed degenerate OPQ store answers exactly like the
    // fresh OPQ build above
    val dir3 = LocalSession.tempDir("ivfadc_opq_reb").toString + "/index"
    IndexStore.build(spark, dir3, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 2, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1", opq = true)
    IndexStore.rebalance(spark, dir3, emb, "vec_id", "embedding",
      kCoarse = 8, coarseIters = 4, pqIters = 3)
    assert(IndexStore.readRotation(spark, dir3).get.toSeq === w0.get.toSeq,
      "full retrain on the same corpus must reproduce the same rotation")
    val servedHealed = IndexStore.query(spark, dir3, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
    assert(servedHealed.exceptAll(inline).isEmpty &&
      inline.exceptAll(servedHealed).isEmpty)
  }

  test("int8 rerank tier: store-only serve equals inline dequantized serve; both scans partition-prune") {
    val dir = LocalSession.tempDir("ivfadc_i8").toString + "/index"
    build(dir, emb)
    IndexStore.buildRerank(spark, dir, fullVecs)
    val served = IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100)
    // inline twin: the q184 dequantization construction feeding ivfPqServe
    def dequantOf(df: DataFrame): DataFrame = {
      val ex = df.select(col("cand_id"),
        posexplode(col("cand_emb")).as(Seq("i", "v")))
      val stats = ex.groupBy("i").agg(min("v").as("lo"), max("v").as("hi"))
        .orderBy("i").collect()
      val loArr = array(stats.map(r => lit(r.getDouble(1))): _*)
      val hiArr = array(stats.map(r => lit(r.getDouble(2))): _*)
      df.select(col("cand_id"),
        transform(col("cand_emb"), (v, i) => {
          val lo = element_at(loArr, i + 1)
          val hi = element_at(hiArr, i + 1)
          val q = when(hi === lo, lit(0L))
            .otherwise(round((v - lo) / ((hi - lo) / lit(255d))).cast("long"))
          lo + q.cast("double") * ((hi - lo) / lit(255.0))
        }).as("cand_emb"))
    }
    val model = IndexStore.readModel(spark, dir)
    val inline = graft.operators.Similarity.ivfPqServe(queriesDf,
      IndexStore.readCodes(spark, dir), dequantOf(fullVecs), model,
      nProbe = 2, k = 5, shortlist = 100)
    assert(served.count() > 0)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty)
    // the whole point of the (cell, release) rerank layout: BOTH the ADC
    // code scan and the int8 rerank scan carry literal cell partition
    // filters — two nonempty PartitionFilters lists in one plan
    val plan = IndexStore.serve(spark, dir,
        queriesDf.orderBy("q_id").limit(1), ServeSpec(Int8), nProbe = 2,
        k = 5, shortlist = 100)
      .queryExecution.executedPlan.toString
    val nPruned = "PartitionFilters: \\[[^\\]]".r.findAllIn(plan).size
    assert(nPruned >= 2, s"expected 2 pruned scans, got $nPruned in:\n$plan")

    // int8-served decontamination ≡ the float path fed the dequantized
    // candidates inline (the q190 kernel)
    val dropsI8 = Similarity.dropListFromMatches(IndexStore.serve(spark, dir,
      queriesDf, ServeSpec(Int8), nProbe = 2, k = 100, shortlist = 100),
      threshold = 0.3)
    val dropsInline = IndexStore.decontaminate(spark, dir, queriesDf,
      dequantOf(fullVecs), nProbe = 2, shortlist = 100, threshold = 0.3)
    assert(dropsI8.exceptAll(dropsInline).isEmpty &&
      dropsInline.exceptAll(dropsI8).isEmpty)

    // an OPQ store's tier lives in the ROTATED space: int8 serve equals
    // the inline rotate→dequantize→serve composition (no double rotation)
    val dirO = LocalSession.tempDir("ivfadc_i8opq").toString + "/index"
    IndexStore.build(spark, dirO, emb, "vec_id", "embedding",
      dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
      release = "r1", opq = true)
    IndexStore.buildRerank(spark, dirO, fullVecs)
    val servedO = IndexStore.serve(spark, dirO, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100)
    val w = IndexStore.readRotation(spark, dirO).get
    val fvRot = Similarity.householderRotate(fullVecs, "cand_emb", w)
    val qRot = Similarity.householderRotate(queriesDf, "q_emb", w)
    val inlineO = Similarity.ivfPqServe(qRot,
      IndexStore.readCodes(spark, dirO), dequantOf(fvRot),
      IndexStore.readModel(spark, dirO), nProbe = 2, k = 5, shortlist = 100)
    assert(servedO.exceptAll(inlineO).isEmpty &&
      inlineO.exceptAll(servedO).isEmpty)
  }

  test("appendRerank rolls the int8 tier forward under frozen stats; clamps; rerun idempotent") {
    val dir = LocalSession.tempDir("ivfadc_i8app").toString + "/index"
    val old = emb.where(!isNew)
    val fresh = emb.where(isNew)
    def cands(d: DataFrame) = d.select(
      col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cand_emb"))
    build(dir, old)
    IndexStore.buildRerank(spark, dir, cands(old))
    assert(IndexStore.hasRerank(spark, dir))
    val statsBefore = IndexStore.readRerankStats(spark, dir).collect().toSet

    IndexStore.append(spark, dir, fresh, "vec_id", "embedding", "r2")
    IndexStore.appendRerank(spark, dir, cands(fresh), "r2")

    // stats are FROZEN by the append (model state, like the codebooks)
    assert(IndexStore.readRerankStats(spark, dir).collect().toSet
      === statsBefore)
    // the tier now covers the union, release-partitioned
    spark.catalog.refreshByPath(s"$dir/rerank/codes")
    val tier = spark.read.parquet(s"$dir/rerank/codes")
    assert(tier.count() === emb.count())
    assert(tier.select("release").distinct().collect().map(_.getString(0))
      .toSet === Set("r1", "r2"))

    // the delta's q8 rows equal the frozen-stats quantization (the shared
    // IEEE spelling, clamped), recomputed inline
    val st = IndexStore.readRerankStats(spark, dir).orderBy("i").collect()
    val loArr = array(st.map(r => lit(r.getDouble(1))): _*)
    val hiArr = array(st.map(r => lit(r.getDouble(2))): _*)
    def q8Of(d: DataFrame): DataFrame = d.select(col("cand_id"),
      transform(col("cand_emb"), (v, i) => {
        val lo = element_at(loArr, i + 1)
        val hi = element_at(hiArr, i + 1)
        when(hi === lo, lit(0L)).otherwise(least(lit(255L),
          greatest(lit(0L),
            round((v - lo) / ((hi - lo) / lit(255d))).cast("long"))))
      }).cast("array<int>").as("q8"))
    val gotDelta = tier.where(col("release") === "r2")
      .select(col("cand_id").cast("long").as("cand_id"), col("q8"))
    val expDelta = q8Of(cands(fresh))
    assert(gotDelta.exceptAll(expDelta).isEmpty &&
      expDelta.exceptAll(gotDelta).isEmpty)

    // store-only serve over the union equals the inline serve with
    // candidates dequantized under the FROZEN stats
    val dq = cands(emb).select(col("cand_id"),
      transform(col("cand_emb"), (v, i) => {
        val lo = element_at(loArr, i + 1)
        val hi = element_at(hiArr, i + 1)
        val q = when(hi === lo, lit(0L)).otherwise(least(lit(255L),
          greatest(lit(0L),
            round((v - lo) / ((hi - lo) / lit(255d))).cast("long"))))
        lo + q.cast("double") * ((hi - lo) / lit(255.0))
      }).as("cand_emb"))
    val served = IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100)
    val inline = Similarity.ivfPqServe(queriesDf,
      IndexStore.readCodes(spark, dir), dq, IndexStore.readModel(spark, dir),
      nProbe = 2, k = 5, shortlist = 100)
    assert(served.exceptAll(inline).isEmpty && inline.exceptAll(served).isEmpty)

    // an out-of-range delta saturates at the range edge instead of escaping
    // the int8 domain: a 10x-scaled vector must clamp to 255 somewhere and
    // never leave [0, 255]
    val big = fresh.limit(1).select(col("vec_id"),
      transform(col("embedding"), v => v * 10).as("embedding"))
    IndexStore.append(spark, dir, big, "vec_id", "embedding", "r3")
    IndexStore.appendRerank(spark, dir, cands(big), "r3")
    spark.catalog.refreshByPath(s"$dir/rerank/codes")
    val bigQ = spark.read.parquet(s"$dir/rerank/codes")
      .where(col("release") === "r3")
      .select(explode(col("q8")).as("q"))
    val mm = bigQ.agg(min("q"), max("q")).collect()(0)
    assert(mm.getInt(0) >= 0 && mm.getInt(1) === 255,
      s"clamp failed: q range [${mm.getInt(0)}, ${mm.getInt(1)}]")

    // rerun idempotence: the delta's dynamic overwrite lands identically
    val before = spark.read.parquet(s"$dir/rerank/codes")
      .where(col("release") =!= "r3").collect().toSet
    IndexStore.appendRerank(spark, dir, cands(fresh), "r2")
    spark.catalog.refreshByPath(s"$dir/rerank/codes")
    val after = spark.read.parquet(s"$dir/rerank/codes")
      .where(col("release") =!= "r3").collect().toSet
    assert(after === before)
  }

  test("rebalance refuses a partial vectors frame instead of shrinking the store") {
    val dir = LocalSession.tempDir("ivfadc_partial").toString + "/index"
    build(dir, emb, kCoarse = 2)
    val before = IndexStore.readCodes(spark, dir).count()
    // the re-encode is an inner join against the resident id set — a caller
    // passing half the corpus would silently drop the other half without
    // the coverage guard
    val err = intercept[IllegalArgumentException] {
      IndexStore.rebalance(spark, dir, emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", kCoarse = 8, coarseIters = 4, pqIters = 3)
    }
    assert(err.getMessage.contains("resident ids"))
    // the store is untouched (the guard rides the staged encode write and
    // the abort discards the uncommitted .next dirs before any swap)
    assert(IndexStore.readCodes(spark, dir).count() === before)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes.next")))
  }

  test("healthVerdict on an empty codes table trips needs_rebalance with 0-shares") {
    val dir = LocalSession.tempDir("ivfadc_empty").toString + "/index"
    build(dir, emb)
    // the most degenerate store of all: a codes table with zero rows (e.g.
    // every release vacuumed) — overwrite with an empty same-schema parquet
    IndexStore.readCodes(spark, dir).limit(0)
      .write.mode("overwrite").parquet(s"$dir/codes")
    spark.catalog.refreshByPath(s"$dir/codes")
    val v = IndexStore.healthVerdict(spark, dir, kCoarse = 8,
      maxShareMilli = 300).collect()(0)
    assert(v.getLong(0) === 0L, "no populated cells")
    assert(v.getLong(1) === 8L, "every cell empty")
    assert(v.getLong(2) === 0L && v.getLong(3) === 0L,
      "zero-row shares coalesce to 0, not null")
    assert(v.getBoolean(4), "an empty store must need rebalancing")
  }

  test("interrupted rebalance converges from either side of the swap marker") {
    val dir = LocalSession.tempDir("ivfadc_rec").toString + "/index"
    build(dir, emb)
    val served0 = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (a) crash BEFORE the marker: stale .next leftovers must be discarded
    // and the old store left untouched
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/codes.next/cell=0"))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/meta.next/garbage"), true)
      .close()
    IndexStore.recover(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes.next")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta.next")))
    val servedA = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(servedA === served0)
    // (b) crash AFTER the marker mid-swap (old dirs already deleted, next
    // staged): recover must complete the swap and serve the new store
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/meta"),
      new org.apache.hadoop.fs.Path(s"$dir/meta.next")))
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/codes"),
      new org.apache.hadoop.fs.Path(s"$dir/codes.next")))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_SWAP_READY"), true).close()
    IndexStore.recover(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SWAP_READY")))
    val servedB = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(servedB === served0)
  }

  test("healthVerdict reduces the per-cell card to the policy row consistently") {
    val dir = LocalSession.tempDir("ivfadc_hv").toString + "/index"
    build(dir, emb)
    val card = IndexStore.readCodes(spark, dir)
      .groupBy("cell").count().collect().map(_.getLong(1))
    val total = card.sum
    val shares = card.map(_ * 1000 / total)
    val v = IndexStore.healthVerdict(spark, dir, kCoarse = 8,
      maxShareMilli = 300).collect()(0)
    assert(v.getLong(0) === card.length.toLong)
    assert(v.getLong(1) === 8L - card.length)
    assert(v.getLong(2) === shares.max && v.getLong(3) === shares.min)
    assert(v.getBoolean(4) === (shares.max > 300 || card.length < 8))
    // the degenerate store must trip the flag
    val dir2 = LocalSession.tempDir("ivfadc_hv2").toString + "/index"
    build(dir2, emb, kCoarse = 2)
    val v2 = IndexStore.healthVerdict(spark, dir2, kCoarse = 2,
      maxShareMilli = 300).collect()(0)
    assert(v2.getBoolean(4), "a 2-cell quantizer must need rebalancing")
  }

  test("recall audit is monotone in the dial knobs; dial picks the cheapest meeting combo") {
    val dir = LocalSession.tempDir("ivfadc_dial").toString + "/index"
    build(dir, emb)
    val grid = Seq((1, 10), (1, 100), (2, 10), (2, 100), (4, 10), (4, 100))
    val audit = IndexStore.recallAudit(spark, dir, queriesDf, fullVecs,
        k = 5, grid = grid)
      .select("n_probe", "shortlist", "recall_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(audit.size === grid.size)
    // monotone in shortlist for fixed probes: the larger shortlist's rerank
    // pool is a superset, and a true neighbor in the pool always survives
    // the exact rerank (nothing outranks a true top-k member but other
    // true top-k members)
    Seq(1L, 2L, 4L).foreach { p =>
      assert(audit((p, 10L)) <= audit((p, 100L)),
        s"shortlist monotonicity broken at nProbe=$p")
    }
    // monotone in probes at the wide shortlist (more cells probed -> the
    // candidate pool only grows; with the rerank pool this wide the ADC
    // eviction edge case does not bite on this fixture)
    assert(audit((1L, 100L)) <= audit((2L, 100L)) &&
      audit((2L, 100L)) <= audit((4L, 100L)), "probe monotonicity broken")
    // dial = argmin replay over the same audit
    val floors = Seq(1, 500, 990)
    val dial = IndexStore.recallDial(spark, dir, queriesDf, fullVecs,
        k = 5, grid = grid, floors = floors).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    floors.foreach { f =>
      val meeting = audit.filter(_._2 >= f)
      val expected =
        if (meeting.nonEmpty) {
          val ((p, s), rec) = meeting.minBy { case ((p, s), _) => (p, s) }
          (p, s, rec, true)
        } else {
          val ((p, s), rec) = audit.minBy { case ((p, s), rec) => (-rec, p, s) }
          (p, s, rec, false)
        }
      assert(dial(f.toLong) === expected, s"floor $f")
    }
  }

  test("serve scans only the probed cells (partition-pruned)") {
    val dir = LocalSession.tempDir("ivfadc_prune").toString + "/index"
    build(dir, emb)
    val model = IndexStore.readModel(spark, dir)
    val oneQ = queriesDf.orderBy("q_id").limit(1)
    val probed = Similarity.ivfPqProbe(oneQ, model, nProbe = 2)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(probed.size === 2)
    val plan = IndexStore.query(spark, dir, oneQ, fullVecs,
        nProbe = 2, k = 5, shortlist = 100)
      .queryExecution.executedPlan.toString
    // the code scan must carry a literal cell partition filter — the layout's
    // entire point: unprobed cells' directories are never read
    assert(plan.contains("PartitionFilters") && probed.forall(c =>
      plan.contains(c.toString)),
      s"expected a partition filter on cells $probed in:\n$plan")
    // and the filter excludes the unprobed cells: the pruned scan reads
    // strictly fewer partitions than exist
    val all = IndexStore.readCodes(spark, dir)
      .select("cell").distinct().count()
    assert(all > 2, "fixture must populate more cells than one query probes")
  }

  test("delete tombstones exclude from every serve path; purge reclaims and answers identically") {
    val dir = LocalSession.tempDir("ivfadc_tomb").toString + "/index"
    build(dir, emb)
    IndexStore.buildRerank(spark, dir, fullVecs)
    val tomb = emb.where(col("vec_id") % 7 === 3)
      .select(col("vec_id").cast("long").as("cand_id"))
    val n1 = IndexStore.delete(spark, dir, tomb)
    // idempotent: re-deleting the same ids leaves the list unchanged
    assert(IndexStore.delete(spark, dir, tomb) === n1)
    val served = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).cache()
    assert(served.join(broadcast(tomb), Seq("cand_id")).isEmpty,
      "a tombstoned id leaked into the served top-k")
    // exclusion is PRE-shortlist, so k still fills
    import spark.implicits._
    val perQuery = served.groupBy("q_id").count().select("count").as[Long].collect()
    assert(perQuery.nonEmpty && perQuery.forall(_ == 5L))
    // equals the white-box manual anti-join of the scan
    val manual = Similarity.ivfPqServe(queriesDf,
      IndexStore.readCodes(spark, dir)
        .join(broadcast(tomb), Seq("cand_id"), "left_anti"),
      fullVecs, IndexStore.readModel(spark, dir),
      nProbe = 2, k = 5, shortlist = 100)
    assert(served.exceptAll(manual).isEmpty && manual.exceptAll(served).isEmpty)
    // the int8 tier and the decontamination path exclude too
    val i8 = IndexStore.serve(spark, dir, queriesDf, ServeSpec(Int8),
      nProbe = 2, k = 5, shortlist = 100)
    assert(i8.join(broadcast(tomb), Seq("cand_id")).isEmpty)
    val dropped = IndexStore.decontaminate(spark, dir, queriesDf, fullVecs,
      nProbe = 2, shortlist = 100, threshold = 0.3)
    assert(dropped.join(
      broadcast(tomb.withColumnRenamed("cand_id", "vec_id")),
      Seq("vec_id")).isEmpty)
    // PURGE: physical removal, identical answers, list cleared
    val before = served.collect().toSet
    val removed = IndexStore.purge(spark, dir)
    assert(removed("codes") > 0L && removed("rerank/codes") > 0L)
    assert(IndexStore.readTombstones(spark, dir).isEmpty, "purge must clear the list")
    assert(IndexStore.readCodes(spark, dir)
      .join(broadcast(tomb), Seq("cand_id")).isEmpty,
      "purged ids still have code rows")
    spark.catalog.refreshByPath(s"$dir/rerank/codes")
    assert(spark.read.parquet(s"$dir/rerank/codes")
      .join(broadcast(tomb), Seq("cand_id")).isEmpty,
      "purged ids still have rerank-tier rows")
    val after = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).collect().toSet
    assert(after === before, "purge changed the served answer")
    // purge with no tombstones is a no-op
    assert(IndexStore.purge(spark, dir).values.forall(_ == 0L))
  }

  test("a re-appended tombstoned id stays excluded until purged") {
    val dir = LocalSession.tempDir("ivfadc_tomb2").toString + "/index"
    val isOld = col("vec_id") % 10 < 8
    build(dir, emb.where(isOld))
    val victim = emb.where(isOld).select(col("vec_id").cast("long").as("cand_id"))
      .orderBy("cand_id").limit(1)
    IndexStore.delete(spark, dir, victim)
    // re-ingest the victim under a new release: the blocklist outlives it
    val vid = victim.head().getLong(0)
    IndexStore.append(spark, dir, emb.where(col("vec_id") === vid),
      "vec_id", "embedding", "r2")
    val served = IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 8, k = 1000, shortlist = 10000)
    assert(served.where(col("cand_id") === vid).isEmpty,
      "a re-appended tombstoned id must stay excluded")
  }

  test("purge reports exact per-table removed counts (never-resident tombstoned ids do not inflate them)") {
    val dir = LocalSession.tempDir("ivfadc_tomb4").toString + "/index"
    build(dir, emb)
    IndexStore.buildRerank(spark, dir, fullVecs)
    val victims = emb.where(col("vec_id") % 7 === 3)
      .select(col("vec_id").cast("long").as("cand_id"))
    val nVict = victims.count()
    // the list carries duplicates and ids the store never held — neither
    // may inflate the removal accounting of the fused one-pass discovery
    IndexStore.delete(spark, dir, victims.unionByName(victims)
      .unionByName(spark.range(900000, 900005).toDF("cand_id")))
    val removed = IndexStore.purge(spark, dir)
    assert(removed("codes") === nVict,
      s"codes removed ${removed("codes")} != $nVict resident victims")
    assert(removed("rerank/codes") === nVict,
      s"rerank removed ${removed("rerank/codes")} != $nVict resident victims")
  }

  test("purge deletes fully-emptied (cell, release) partition directories") {
    val dir = LocalSession.tempDir("ivfadc_tomb3").toString + "/index"
    val isOld = col("vec_id") % 10 < 8
    build(dir, emb.where(isOld))
    IndexStore.append(spark, dir, emb.where(!isOld), "vec_id", "embedding", "r2")
    // tombstone EVERY r2 resident: all its partitions empty out
    IndexStore.delete(spark, dir, emb.where(!isOld)
      .select(col("vec_id").cast("long").as("cand_id")))
    IndexStore.purge(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val r2Dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/codes"))
      .filter(_.isDirectory)
      .flatMap(c => fs.listStatus(c.getPath))
      .filter(_.getPath.getName == "release=r2")
    assert(r2Dirs.isEmpty, "emptied release=r2 partition dirs must be deleted")
    assert(IndexStore.readCodes(spark, dir).where(col("release") === "r2").isEmpty)
    // r1 still serves
    assert(IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100).count() > 0)
  }

  test("rebalance re-encodes only servable residents and clears the tombstone list") {
    val dir = LocalSession.tempDir("ivfadc_tomb4").toString + "/index"
    build(dir, emb)
    val tomb = emb.where(col("vec_id") % 7 === 3)
      .select(col("vec_id").cast("long").as("cand_id"))
    IndexStore.delete(spark, dir, tomb)
    // the coverage guard must NOT demand the taken-down ids' vectors: pass
    // a vectors frame WITHOUT them (the takedown scenario — the raw vectors
    // may themselves be gone)
    IndexStore.rebalance(spark, dir, emb.where(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", kCoarse = 8, coarseIters = 4, pqIters = 3)
    assert(IndexStore.readTombstones(spark, dir).isEmpty,
      "a committed rebalance must clear the realized tombstones")
    assert(IndexStore.readCodes(spark, dir)
      .join(broadcast(tomb), Seq("cand_id")).isEmpty,
      "a rebalanced store must not re-encode tombstoned residents")
    assert(IndexStore.query(spark, dir, queriesDf, fullVecs,
      nProbe = 2, k = 5, shortlist = 100)
      .join(broadcast(tomb), Seq("cand_id")).isEmpty)
  }
}
