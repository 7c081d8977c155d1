package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`, assumed L2-normalized so cosine == dot).
  *
  * Scale design: the query set is broadcast; candidates stream through in one
  * pass. Top-k is taken in two phases — partial top-k per input partition,
  * then global top-k — so the shuffle carries at most `k × numPartitions` rows
  * per query instead of every (query, candidate) pair. At 100 TB of candidates
  * the LSH-bucketed variant prunes the candidate set before any dot product is
  * computed.
  */
object Similarity {

  /** Cosine/dot product of two numeric-array columns via the native
    * [[graft.functions.DotProductExpr]] — zero-allocation loop over both
    * array buffers, same index-order double accumulation as the composed
    * higher-order form (equivalence guarded by DotProductSpec). The session
    * the plan is analyzed under must be built with `GraftExtensions`, as
    * every [[graft.LocalSession]] is. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Model constants (centroids, codebooks, weights, selected vectors) as
    * SINGLE array-typed literals. An ArrayType literal is codegen'd as one
    * entry in the plan's `references` array, so two plans that differ only
    * in the VALUES — successive Lloyd/PQ/power iterations, different
    * frozen stores, refreshed weights — generate byte-identical Java
    * source and hit the JVM-wide codegen cache; the element-wise
    * `array(lit, lit, …)` spelling inlines every double into the source,
    * so every iteration of every trainer recompiled its whole stage (and
    * serialized a task binary carrying the unrolled expression tree).
    * Values, arithmetic and IEEE evaluation order are unchanged — only
    * how the constants ride the plan. */
  private[graft] def litVec(a: Array[Double]): Column = lit(a)
  private[graft] def litVecL(a: Array[Long]): Column = lit(a)
  private[graft] def litMat(m: Array[Array[Double]]): Column =
    typedlit(m.map(_.toSeq).toSeq)
  private[graft] def litCube(c: Array[Array[Array[Double]]]): Column =
    typedlit(c.map(_.map(_.toSeq).toSeq).toSeq)

  /** ‖c‖² per row of a centroid matrix — driver-side, the exact
    * accumulation order the inlined spelling used. */
  private def normsSq(c: Array[Array[Double]]): Array[Double] =
    c.map { cv =>
      var nsq = 0d; var i = 0
      while (i < cv.length) { nsq += cv(i) * cv(i); i += 1 }
      nsq
    }

  /** The probe/assignment score table (‖c_j‖² − 2·emb·c_j, j) as an array
    * of structs, built from sequence+transform over matrix literals so the
    * generated code is value-independent (see [[litMat]]). Field names and
    * per-cell arithmetic match the previous unrolled spelling exactly. */
  private def cellScoreArr(c: Array[Array[Double]], emb: Column,
                           idxName: String): Column = {
    val cMat = litMat(c)
    val nsqArr = litVec(normsSq(c))
    transform(sequence(lit(0), lit(c.length - 1)), j =>
      // aliases inside a lambda don't name struct fields — the rename-only
      // cast does (values untouched)
      struct(element_at(nsqArr, j + 1) -
        lit(2d) * dot(emb, element_at(cMat, j + 1)), j)
        .cast(s"struct<d:double,$idxName:int>"))
  }

  /** The query-side ADC lookup tables `parts[s][j] = floor(q_s · c_{s,j} ·
    * 1e6 + 0.5)` over codebook literals — the [[litCube]] spelling of the
    * previously unrolled double array-of-arrays (same values, same
    * evaluation order per entry). */
  private def adcParts(cb: Array[Array[Array[Double]]], resid: Column,
                       dsub: Int): Column = {
    val cbCube = litCube(cb)
    transform(sequence(lit(0), lit(cb.length - 1)), s =>
      transform(element_at(cbCube, s + 1), cvec =>
        floor(dot(slice(resid, s * lit(dsub) + lit(1), lit(dsub)), cvec)
          * 1e6 + 0.5).cast("long")))
  }

  /** The composed higher-order-function form of [[dot]] — the semantic
    * reference the native expression is tested against (RewriteDotProduct
    * rewrites this exact idiom to the native form). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)

  /** Native ADC lookup-sum Σ_s parts(s)(codes(s)) —
    * [[graft.functions.AdcSumExpr]], the quantized-path sibling of [[dot]]
    * (zero allocation per (query, candidate) pair; AdcSumSpec pins parity
    * with the composed form). */
  def adcSum(codes: Column, parts: Column): Column =
    call_function("graft_adc", codes, parts)

  /** The composed higher-order-function ADC form — the semantic reference
    * [[adcSum]] is tested against. */
  def adcSumHof(codes: Column, parts: Column): Column =
    aggregate(zip_with(codes, parts, (c, p) => element_at(p, c + 1)),
      lit(0L), (acc, x) => acc + x)

  /** Brute-force cosine top-k. Inputs: `queries(q_id, q_emb)` (small,
    * broadcast), `candidates(cand_id, cand_emb)`. Scores are rounded to
    * `scale` decimals *before* ranking so floating summation order can never
    * flip the ranking; ties break on cand_id (ids are cast to long).
    *
    * Top-k runs as a bounded typed aggregate ([[graft.functions.TopKAggregator]])
    * with map-side partial aggregation: each partition reduces to ≤2k rows per
    * query before the exchange, so the shuffle carries O(k × partitions) rows
    * per query — never the full score matrix.
    *
    * Contract: `cand_id` must be an integral type (the typed aggregate's
    * (Double, Long) encoder requires it). Enforced up front — a silent
    * cast-to-null would otherwise drop valid candidates from the top-k. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     scale: Int = 3, extraCond: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = candidates.schema("cand_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"bruteForceTopK requires an integral cand_id, got $idType; " +
        "map string ids to dense longs first (e.g. zipWithUniqueId / xxhash64)")
    val scored = candidates
      .join(broadcast(queries), col("cand_id") =!= col("q_id") && extraCond)
      .withColumn("score", round(dot(col("q_emb"), col("cand_emb")), scale))
      .select(col("q_id"), col("cand_id").cast("long").as("cand_id"), col("score"))
      // null scores (null embeddings) or non-numeric ids can never rank in a
      // top-k; dropping them up front also keeps them out of the typed
      // aggregate's non-nullable (Double, Long) input encoder, which would
      // otherwise throw at runtime
      .where(col("score").isNotNull && col("cand_id").isNotNull)
    scored
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("cand_id")).as("tk"))
      .select(col("q_id"), explode(col("tk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"), col("c.score").as("score"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the `k` most similar candidates from a DIFFERENT class — the
    * near-but-wrong examples that make the strongest negatives (the
    * batch-construction step behind dense-retrieval trainers, e.g.
    * Karpukhin et al. 2020's hardest-negatives variant).
    *
    * Same plan shape as [[bruteForceTopK]] (broadcast queries, map-side
    * bounded top-k partials, O(k × partitions) rows on the wire per query);
    * the class constraint rides in the broadcast-join condition, so
    * same-class candidates are dropped before scoring. Rows whose class is
    * NULL never match the inequality and are excluded from both sides'
    * pairings — a null class is not evidence of a different class. */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String,
                    classCol: String, queryPred: Column, k: Int,
                    scale: Int = 3): DataFrame = {
    val q = df.where(queryPred).select(col(idCol).as("q_id"),
      col(embCol).as("q_emb"), col(classCol).as("q_cls"))
    val cands = df.select(col(idCol).as("cand_id"),
      col(embCol).as("cand_emb"), col(classCol).as("cand_cls"))
    bruteForceTopK(q, cands, k, scale, col("cand_cls") =!= col("q_cls"))
  }

  /** Deterministic random hyperplanes for LSH bucketing (fixed seed → stable
    * buckets across runs and executors). */
  private def planes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of an embedding column: one bit per hyperplane. */
  def lshBucket(emb: Column, dim: Int, nBits: Int = 12, seed: Long = 42L): Column =
    planes(dim, nBits, seed).zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(emb, planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-table LSH buckets: `(table, bucket)` pairs, one per hash table —
    * standard cosine-LSH (L independent tables of `nBits` hyperplanes each).
    * More tables → higher recall; fewer bits → bigger buckets. */
  def lshBuckets(emb: Column, dim: Int, nBits: Int, nTables: Int,
                 seed: Long): Column =
    array((0 until nTables).map(t =>
      struct(lit(t).as("table"),
        lshBucket(emb, dim, nBits, seed + t * 7919L).as("bucket"))): _*)

  /** LSH-bucketed ANN: bucket both sides into L tables, equi-join on
    * (table, bucket) — a hash shuffle keyed by bucket, never a cross join —
    * dedup candidates, exact-rerank. Recall < 1 by construction; tune
    * `nBits`/`nTables` for bucket size vs recall. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, dim: Int, k: Int,
              nBits: Int = 6, nTables: Int = 4, seed: Long = 42L): DataFrame = {
    def explodeBuckets(df: DataFrame, embCol: String) =
      df.withColumn("tb", explode(lshBuckets(col(embCol), dim, nBits, nTables, seed)))
        .withColumn("table", col("tb.table")).withColumn("bucket", col("tb.bucket"))
        .drop("tb")
    val qb = explodeBuckets(queries, "q_emb")
    val cb = explodeBuckets(candidates, "cand_emb")
    val cands = cb.join(broadcast(qb), Seq("table", "bucket"))
      .where(col("cand_id") =!= col("q_id"))
      .select("q_id", "q_emb", "cand_id", "cand_emb").distinct()
    val scored = cands
      .withColumn("score", round(dot(col("q_emb"), col("cand_emb")), 3))
      .select("q_id", "cand_id", "score")
    scored.withColumn("__rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("cand_id").asc)))
      .where(col("__rn") <= k).drop("__rn")
  }

  /** IVF-style ANN: a coarse quantizer (one centroid per `cellCol` value)
    * prunes the search to the `nProbe` nearest cells, then exact dot-product
    * rerank within those cells. Centroid components and all scores are
    * rounded before ranking so the op is engine-deterministic (oracle-able).
    *
    * Scale shape: centroids are a tiny broadcast; candidate filtering is an
    * equi-join on the cell id (hash shuffle keyed by cell), so work scales
    * with the probed cells' population, not the full corpus. */
  /** Coarse-quantizer centroids: per-cell element-wise mean, rounded to
    * 4 dp for engine determinism. (cell, cvec) — k × dim doubles, the ONLY
    * state [[ivfAssign]] needs, which is what makes the index resumable. */
  def cellCentroids(df: DataFrame, embCol: String, cellCol: String): DataFrame = {
    val ex = df.select(col(cellCol).as("cell"),
      posexplode(col(embCol)).as(Seq("i", "v")))
    ex.groupBy(col("cell"), col("i"))
      .agg(round(avg(col("v").cast("double")), 4).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        x => x.getField("c")).as("cvec"))
  }

  /** Incremental IVF index maintenance: assign a NEW release's embeddings to
    * their nearest persisted coarse-centroid cell — the vector twin of the
    * [[graft.pipeline.SignatureStore]] idea. The old release contributes
    * only its (cell, centroid) table (kilobytes, broadcast); its vectors are
    * never re-read, so a 100 TB index grows release by release at the cost
    * of scanning the new slice once. Map-only: broadcast centroids + one
    * rank over the per-vector cell scores. */
  def ivfAssign(newVecs: DataFrame, idCol: String, embCol: String,
                centroids: DataFrame): DataFrame =
    newVecs.select(col(idCol).as("vec_id"), col(embCol).as("__emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("cscore", round(dot(col("__emb"), col("cvec")), 3))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cscore").desc, col("cell").asc)))
      .where(col("__rn") === 1)
      .select(col("vec_id"), col("cell"), col("cscore"))

  def ivfTopK(df: DataFrame, idCol: String, embCol: String, cellCol: String,
              queryFilter: Column, k: Int, nProbe: Int = 2): DataFrame = {
    val cent = cellCentroids(df, embCol, cellCol)
    // Assign each query to its nProbe nearest cells.
    val queries = df.where(queryFilter)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val assign = queries.crossJoin(broadcast(cent))
      .withColumn("cscore", round(dot(col("q_emb"), col("cvec")), 3))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cscore").desc, col("cell").asc)))
      .where(col("__rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    // Exact rerank within the probed cells.
    val cands = df.select(col(cellCol).as("cell"), col(idCol).as("cand_id"),
      col(embCol).as("cand_emb"))
    cands.join(broadcast(assign), Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .withColumn("score", round(dot(col("q_emb"), col("cand_emb")), 3))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("cand_id").asc)))
      .where(col("__rn") <= k)
      .select("q_id", "cand_id", "score")
  }

  /** Per-dimension embedding profiler — the vector-store integrity card
    * (dead dimensions, stuck values, range drift) a 100 TB embedding
    * pipeline checks before training consumes a release. Means are exact
    * integer-micro sums (floor(v·1e6 + 0.5)) — the repo's quantized-sum
    * idiom, so the profile is bit-identical under any partitioning.
    *
    * Scale shape: one (dim)-keyed aggregation with map-side partials —
    * `dim` rows out at any corpus size. */
  def embeddingProfile(df: DataFrame, embCol: String): DataFrame =
    df.select(posexplode(col(embCol)).as(Seq("i", "v")))
      .withColumn("q", floor(col("v").cast("double") * 1e6 + 0.5).cast("long"))
      .groupBy(col("i").cast("long").as("i"))
      .agg(count(lit(1)).as("n"),
        expr("div(sum(q), count(1))").as("mean_micro"),
        min(col("q")).as("min_micro"), max(col("q")).as("max_micro"),
        sum((col("q") === 0L).cast("long")).as("n_zero"))

  /** Per-vector L2-norm audit: embeddings contracted to be unit-normalized
    * drift (truncation, bad casts, partial writes) show up as norms off
    * 1.0. Norm is rounded to 4 dp (sqrt is correctly-rounded IEEE, the sum
    * is `dim` terms — same absorb-the-order discipline as every score
    * here); `ok` flags norms within `tolMilli` of 1000.
    *
    * Scale shape: pure per-row expression — no shuffle at all. */
  def vectorNorms(df: DataFrame, idCol: String, embCol: String,
                  tolMilli: Long = 100): DataFrame = {
    val nrm = round(sqrt(aggregate(col(embCol),
      lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
    df.select(col(idCol), nrm.as("norm"))
      .withColumn("norm_milli", floor(col("norm") * 1000).cast("long"))
      .withColumn("ok", abs(col("norm_milli") - 1000) <= tolMilli)
  }

  /** Embedding-space drift monitor — the vector twin of the token-drift
    * report (q135): per cell, the cosine between the OLD slice's centroid
    * and the NEW slice's centroid. A release whose embeddings move (model
    * retrained, domain shift, pipeline bug) shows up as cells whose
    * centroids rotate away from 1.0 before any downstream metric does.
    *
    * Determinism: centroid components are rounded to 4 dp (the
    * [[cellCentroids]] idiom) before the 64-term cosine, which is rounded
    * to 3 dp — the same absorb-the-summation-order discipline every
    * centroid/score query here carries.
    *
    * Scale shape: ONE (cell, dim)-keyed aggregation with conditional
    * old/new averages (map-side partials), then a cell-keyed reduce over
    * `dim` rows — output is |cells| rows, nothing corpus-sized past the
    * first aggregation. */
  def embeddingDrift(df: DataFrame, embCol: String, cellCol: String,
                     isNew: Column): DataFrame = {
    val ex = df.select(col(cellCol).as("cell"), isNew.as("__new"),
      posexplode(col(embCol)).as(Seq("i", "v")))
    ex.groupBy(col("cell"), col("i"))
      .agg(
        round(avg(when(!col("__new"), col("v").cast("double"))), 4).as("co"),
        round(avg(when(col("__new"), col("v").cast("double"))), 4).as("cn"),
        sum(when(!col("__new"), 1L).otherwise(0L)).as("__no"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("__nn"))
      .groupBy(col("cell"))
      .agg(
        max(col("__no")).as("n_old"), max(col("__nn")).as("n_new"),
        round(sum(col("co") * col("cn")) /
          (sqrt(sum(col("co") * col("co"))) * sqrt(sum(col("cn") * col("cn")))),
          3).as("centroid_cos"))
  }

  /** k-NN graph over the whole corpus — every vector's top-k cosine
    * neighbors restricted to its `nProbe` nearest IVF cells, with edges
    * flagged `mutual` when they appear in both directions. The graph is the
    * substrate for graph-based curation (SemDeDup-style cluster pruning,
    * connected-component dedup, kNN-density filtering); the mutual flag is
    * the standard symmetrization choice (mutual-kNN graphs drop hub edges).
    *
    * Differs from [[ivfTopK]] in ONE structural way: the query side is the
    * ENTIRE corpus, so the (node, probed-cell) assignment is corpus-sized
    * and must NOT be broadcast — the candidate step is a plain hash
    * equi-join on the cell id, and per-node work stays bounded by the
    * probed cells' population. The top-k window partitions by src node
    * (cell-bounded, never corpus-wide); mutuality is a self left-join on
    * the (src, dst) edge key — edge-count-sized, k·n rows. At 100 TB the
    * embedding payload rides the cell shuffle nProbe times; the PQ-coded
    * variant (q125/q145's ADC) is the at-rest-compressed alternative. */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, cellCol: String,
               k: Int, nProbe: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val cent = cellCentroids(df, embCol, cellCol)
    val assign = df.select(col(idCol).as("src_id"), col(embCol).as("src_emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cscore", round(dot(col("src_emb"), col("cvec")), 3))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(col("cscore").desc, col("cell").asc)))
      .where(col("__rn") <= nProbe)
      .select(col("src_id"), col("src_emb"), col("cell"))
    val cands = df.select(col(cellCol).as("cell"), col(idCol).as("dst_id"),
      col(embCol).as("dst_emb"))
    val edges = cands.join(assign, Seq("cell"))
      .where(col("dst_id") =!= col("src_id"))
      .withColumn("score", round(dot(col("src_emb"), col("dst_emb")), 3))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(col("score").desc, col("dst_id").asc))
        .cast("long"))
      .where(col("rank") <= k)
      .select(col("src_id"), col("dst_id"), col("score"), col("rank"))
      // the mutual self-join below consumes the edge list twice — pin it
      // once so the scoring pass runs once (|V|·k rows, per-call)
      .localCheckpoint()
    val rev = edges.select(col("dst_id").as("src_id"),
      col("src_id").as("dst_id"), lit(1).as("__m"))
    edges.join(rev, Seq("src_id", "dst_id"), "left")
      .select(col("src_id"), col("dst_id"), col("score"), col("rank"),
        col("__m").isNotNull.as("mutual"))
  }

  /** Distributed Lloyd's k-means over an embedding column, bit-reproducible
    * on any cluster layout — the trainer that produces the coarse quantizer
    * [[ivfTopK]] probes.
    *
    * Determinism (the property a resumable 100 TB build needs):
    *   - init centroids are the embeddings of the `k` smallest ids — no RNG;
    *   - assignment is per-row arithmetic in fixed index order
    *     (argmin_j ‖c_j‖² − 2·v·c_j via the native dot product), so it cannot
    *     depend on partitioning; ties break on the lowest centroid index;
    *   - the centroid update accumulates components as exact longs
    *     (floor(v·1e6 + 0.5)) — integer addition commutes, so the sums are
    *     identical under any partition order, unlike a double sum.
    *
    * Scale shape: centroids ride as broadcast literals (k × dim doubles), so
    * assignment is map-only; the update is one aggregation keyed by
    * (cluster, dimension) with map-side partial sums — the exchange carries
    * ≤ k × dim × partitions rows per iteration, never the corpus. The k × dim
    * driver collect per iteration is metadata-scale (MLlib's KMeans does the
    * same). Clusters left empty keep their previous centroid. */
  def kMeans(df: DataFrame, idCol: String, embCol: String, k: Int,
             iters: Int): DataFrame =
    df.select(col(idCol),
      assignExpr(kMeansCentroids(df, idCol, embCol, k, iters), col(embCol)).as("cluster"))

  /** argmin_j (‖c_j‖² − 2·v·c_j) over centroid literals: strict < keeps the
    * earlier (lower-index) centroid on ties, matching the oracle's ascending
    * scan. The fold runs as an `aggregate` HOF over a scores ARRAY, not a
    * `reduce(when(...))` over Columns: in the latter the accumulator subtree
    * appears twice per step (condition + else-branch), so the expression tree
    * grows 2^k and Catalyst spends tens of seconds per iteration re-analyzing
    * it. The HOF lambda references the accumulator as a variable, keeping the
    * tree linear in k; the heavy per-row math (the dot products) stays in the
    * native codegen'd expression either way. */
  private def assignExpr(c: Array[Array[Double]], emb: Column): Column =
    if (c.length == 1) lit(0)
    else {
      val cMat = litMat(c)
      val nsqArr = litVec(normsSq(c))
      def scored(j: Column) =
        struct(element_at(nsqArr, j + 1) -
          lit(2d) * dot(emb, element_at(cMat, j + 1)), j)
          .cast("struct<d:double,j:int>")
      // fold j = 1..k-1 onto the j = 0 zero — the same strict-< comparison
      // sequence as the previous unrolled array spelling, and still exactly
      // one dot evaluation per cell per row
      aggregate(transform(sequence(lit(1), lit(c.length - 1)), scored(_)),
        scored(lit(0)),
        (acc, s) => when(s.getField("d") < acc.getField("d"), s).otherwise(acc))
        .getField("j")
    }

  /** Lloyd iterations only — returns the final centroids (k × dim doubles)
    * so callers can reuse the assignment expression without a join. */
  def kMeansCentroids(df: DataFrame, idCol: String, embCol: String,
                              k: Int, iters: Int): Array[Array[Double]] = {
    require(k > 0, s"k must be positive, got $k")
    require(iters > 0, s"iters must be positive, got $iters")
    // iterative trainer: cache the (id, vec) projection so each Lloyd
    // round reads memory, not the source scan — the standard shape for an
    // iterative fit (MLlib's KMeans persists its norms RDD the same way)
    val vecs = df.select(col(idCol).as("__id"),
      col(embCol).cast("array<double>").as("__v")).cache()
    try {
      var cents: Array[Array[Double]] = vecs.orderBy(col("__id")).limit(k)
        .select(col("__v")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(cents.nonEmpty, "kMeans needs at least one input row")
      for (_ <- 1 to iters) {
        val sums = vecs
          .select(assignExpr(cents, col("__v")).as("cluster"),
            posexplode(col("__v")).as(Seq("i", "v")))
          .groupBy(col("cluster"), col("i"))
          .agg(sum(floor(col("v") * 1e6 + 0.5).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        sums.foreach { r =>
          next(r.getAs[Int]("cluster"))(r.getAs[Int]("i")) =
            r.getAs[Long]("s").toDouble / r.getAs[Long]("n").toDouble / 1e6
        }
        cents = next
      }
      cents
    } finally vecs.unpersist(blocking = false)
  }

  /** Per-vector projections onto the top principal component of the
    * mean-centered embedding matrix, found by deterministic power iteration —
    * the rotation/whitening prep step ANN compression pipelines run before
    * quantizing (OPQ's simpler cousin), and a drift axis for embedding-space
    * monitoring.
    *
    * Determinism is the kMeans recipe: every corpus-sized sum (the per-dim
    * mean, each iteration's uₜ = Σ rows (x−μ)·((x−μ)·vₜ)) quantizes its
    * per-row contribution with `floor(x·1e6 + 0.5)` and sums exact longs, so
    * no result depends on partition order; the per-iteration driver state is
    * dim-sized (metadata, like centroids). The fixed all-ones start vector
    * makes the sign and the whole trajectory reproducible. Per iteration:
    * one pass over the cached (id, vec) projection into a dim-keyed
    * aggregation with map-side partials.
    *
    * @return (idCol, proj_micro): the centered projection onto the final
    *         component, micro-quantized. */
  def topComponentProjections(df: DataFrame, idCol: String, embCol: String,
                              dim: Int, iters: Int = 3): DataFrame = {
    def q(c: Column): Column = floor(c * 1e6 + 0.5).cast("long")
    val (mu, v) = topComponent(df, idCol, embCol, dim, iters)
    val muLit = litVec(mu)
    val vLit = litVec(v)
    df.select(col(idCol),
        zip_with(col(embCol).cast("array<double>"), muLit, (a, b) => a - b).as("__c"))
      .select(col(idCol),
        q(aggregate(zip_with(col("__c"), vLit, (a, b) => a * b),
          lit(0d), (acc, x) => acc + x)).as("proj_micro"))
  }

  /** The mean vector and unit top principal component of the embedding
    * column — [[topComponentProjections]]'s deterministic power-iteration
    * kernel, exposed for callers that need the COMPONENT itself (e.g.
    * [[opqRotate]]'s reflection). Same reproducibility recipe: every
    * corpus-sized sum micro-quantizes per-row contributions and sums exact
    * longs; driver state is two dim-sized arrays. */
  def topComponent(df: DataFrame, idCol: String, embCol: String,
                   dim: Int, iters: Int = 3): (Array[Double], Array[Double]) = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(iters > 0, s"iters must be positive, got $iters")
    def q(c: Column): Column = floor(c * 1e6 + 0.5).cast("long")
    val vecs = df.select(col(idCol),
      col(embCol).cast("array<double>").as("__v")).cache()
    try {
      val n = vecs.count()
      require(n > 0, "topComponent needs at least one input row")
      val mu = new Array[Double](dim)
      vecs.select(posexplode(col("__v")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(sum(q(col("x"))).as("sx"))
        .collect().foreach { r =>
          mu(r.getAs[Int]("i")) = r.getAs[Long]("sx").toDouble / n.toDouble / 1e6
        }
      val muLit = litVec(mu)
      def centered: Column = zip_with(col("__v"), muLit, (a, b) => a - b)
      def proj(vLit: Column): Column =
        aggregate(zip_with(col("__c"), vLit, (a, b) => a * b),
          lit(0d), (acc, x) => acc + x)
      var v = Array.fill(dim)(1.0)
      for (_ <- 1 to iters) {
        val vLit = litVec(v)
        val u = new Array[Double](dim)
        vecs.select(centered.as("__c"))
          .select(col("__c"), proj(vLit).as("__s"))
          .select(posexplode(col("__c")).as(Seq("i", "cx")), col("__s"))
          .groupBy(col("i"))
          .agg(sum(q(col("cx") * col("__s"))).as("su"))
          .collect().foreach { r =>
            u(r.getAs[Int]("i")) = r.getAs[Long]("su").toDouble / 1e6
          }
        var nsq = 0d
        var i = 0
        while (i < dim) { nsq += u(i) * u(i); i += 1 }
        val norm = math.sqrt(nsq)
        require(norm > 0, "power iteration collapsed to the zero vector " +
          "(all-ones start orthogonal to the data span)")
        v = u.map(_ / norm)
      }
      (mu, v)
    } finally vecs.unpersist(blocking = false)
  }

  /** OPQ-lite: one Householder reflection before product quantization (the
    * single-rotation cut of Ge et al. 2013's "Optimized Product
    * Quantization" objective). The corpus's top principal component — found
    * by [[topComponent]]'s deterministic power iteration — is reflected onto
    * the balanced direction (1,…,1)/√dim, spreading the dominant variance
    * evenly across every coordinate and hence every PQ subspace, so
    * equal-bit sub-quantizers stop wasting codewords on flat subspaces.
    * A reflection is an isometry: dot products, distances, and exact
    * brute-force top-k are bit-for-bit unaffected in exact arithmetic; only
    * the quantization error changes (for the better on anisotropic data —
    * PQSpec pins recall and reconstruction error against plain PQ).
    *
    * Returns (idCol, `emb_rot` array<double>): x′ = x − 2(w·x)w with
    * w ∝ u − t. When the component already lies on the balanced direction
    * (‖u − t‖ ≈ 0) the reflection is the identity and vectors pass through.
    *
    * Scale shape: after the trainer's dim-sized driver state, the rotation
    * itself is a PURE MAP — w broadcasts as a dim-length array literal,
    * each vector reflects in place, nothing shuffles. Feed the output to
    * [[pqCodebooks]]/[[pqEncode]]/[[pqTopK]] unchanged; incremental
    * releases reuse the frozen w exactly like frozen codebooks. */
  def opqRotate(df: DataFrame, idCol: String, embCol: String,
                dim: Int, iters: Int = 3): DataFrame = {
    val raw = df.select(col(idCol), col(embCol).cast("array<double>").as("emb_rot"))
    opqDirection(df, idCol, embCol, dim, iters)
      .fold(raw)(w => householderRotate(raw, "emb_rot", w))
  }

  /** The trained half of [[opqRotate]]: the unit Householder direction
    * w ∝ u − (1/√dim)·1 that reflects the top component onto the
    * balanced direction, or None when the component already sits there
    * (‖u − t·1‖ < 1e-9 ⇒ the reflection is the identity). A dim-length
    * array of driver state — this is what a persisted index stores as its
    * rotation metadata ([[graft.pipeline.IndexStore]]) so encode, probe
    * and rebalance all reflect with the SAME frozen w. */
  def opqDirection(df: DataFrame, idCol: String, embCol: String,
                   dim: Int, iters: Int = 3): Option[Array[Double]] = {
    val (_, u) = topComponent(df, idCol, embCol, dim, iters)
    val t = 1.0 / math.sqrt(dim.toDouble)
    val wRaw = Array.tabulate(dim)(i => u(i) - t)
    val wNorm = math.sqrt(wRaw.map(x => x * x).sum)
    if (wNorm < 1e-9) None else Some(wRaw.map(_ / wNorm))
  }

  /** The map half of [[opqRotate]]: x′ = x − 2(w·x)w over `embCol` in
    * place, every other column untouched. Pure map — w rides as a
    * dim-length array literal; the doubled projection is staged in its own
    * projection so the index-order dot is evaluated once per row (the
    * exact IEEE sequence the Python oracle replicates — do not inline it
    * into the zip_with lambda, which would also re-evaluate it per
    * element). */
  def householderRotate(df: DataFrame, embCol: String,
                        w: Array[Double]): DataFrame = {
    val wLit = litVec(w)
    val others = df.columns.filter(_ != embCol).map(col)
    df.withColumn("__hh_d2",
        aggregate(zip_with(col(embCol), wLit, (a, b) => a * b),
          lit(0d), (acc, x) => acc + x) * 2d)
      .select(others :+
        zip_with(col(embCol), wLit,
          (a, b) => a - col("__hh_d2") * b).as(embCol): _*)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster the
    * embedding space, then drop near-duplicates WITHIN each cluster): k-means
    * confines the pair search to one cluster at a time, so the pair space is
    * Σ|cluster|² instead of n² — the property that makes embedding dedup
    * tractable at corpus scale. A document is dropped iff some lower-id
    * member of its cluster has cosine ≥ `threshold` with it (keep-first by
    * id, the same convention as the exact dedup family). Cosines are rounded
    * to `scale` decimals before the threshold test so the decision is
    * engine-deterministic.
    *
    * Recall: genuine near-duplicates (cosine ≈ 1) sit almost exactly on
    * each other, so they co-cluster and are always found (guarded by
    * TrainingOpsSpec's planted-duplicate case). Pairs merely NEAR the
    * threshold do split across cluster boundaries — measured 93/262 pairs
    * at the aggressive threshold 0.35 on the near-random sf0.001 fixture —
    * the deliberate SemDeDup tradeoff; lower `k` (bigger clusters) or run
    * two clusterings with different init to trade cost for boundary recall.
    *
    * Scale shape: assignment is the map-only k-means expression (broadcast
    * centroid literals); the self-join shuffles on the cluster key only;
    * within-cluster pairs stream through the join without materializing
    * globally. Returns (drop_id, cluster), one row per dropped document. */
  def semDedup(df: DataFrame, idCol: String, embCol: String, k: Int,
               iters: Int, threshold: Double, scale: Int = 3): DataFrame = {
    val cents = kMeansCentroids(df, idCol, embCol, k, iters)
    val assigned = df.select(col(idCol), col(embCol),
      assignExpr(cents, col(embCol)).as("cluster"))
    val a = assigned.toDF("a_id", "a_emb", "cluster")
    val b = assigned.toDF("b_id", "b_emb", "cluster")
    a.join(b, Seq("cluster"))
      .where(col("a_id") < col("b_id"))
      .where(round(dot(col("a_emb"), col("b_emb")), scale) >= threshold)
      .select(col("b_id").as("drop_id"), col("cluster"))
      .distinct()
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the embedding space is
    * split into `m` contiguous subspaces of `dim / m` components and an
    * independent `ksub`-centroid quantizer is trained per subspace, so a
    * vector compresses to `m` small codes (m bytes for ksub ≤ 256 — a
    * 256× reduction on a 64-float embedding) while distances remain
    * approximable from per-subspace lookup tables ([[pqTopK]]).
    *
    * Determinism follows [[kMeans]] exactly: init = sub-slices of the `ksub`
    * smallest-id embeddings, assignment in fixed index order with strict-<
    * tie-break, centroid update via commuting integer sums of
    * floor(v·1e6 + 0.5). The Python oracle replicates the identical IEEE
    * operation sequence per subspace.
    *
    * Scale shape: ALL `m` sub-quantizers train in the same jobs — each Lloyd
    * round is ONE pass over the cached (id, vec) projection (per row, an
    * m-element generate of (sub, cluster, subvector)) feeding one aggregation
    * keyed by (sub, cluster, dimension) with map-side partial sums. The
    * m × ksub × dsub driver collect per round is metadata-scale. */
  def pqCodebooks(df: DataFrame, idCol: String, embCol: String, dim: Int,
                  m: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub > 0, s"ksub must be positive, got $ksub")
    require(iters > 0, s"iters must be positive, got $iters")
    val dsub = dim / m
    val vecs = df.select(col(idCol).as("__id"),
      col(embCol).cast("array<double>").as("__v")).cache()
    try {
      val first = vecs.orderBy(col("__id")).limit(ksub)
        .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
      require(first.nonEmpty, "pqCodebooks needs at least one input row")
      var cb: Array[Array[Array[Double]]] =
        Array.tabulate(m)(s => first.map(_.slice(s * dsub, (s + 1) * dsub)))
      for (_ <- 1 to iters) {
        val subStructs = array((0 until m).map { s =>
          val sl = slice(col("__v"), s * dsub + 1, dsub)
          struct(lit(s).as("sub"), assignExpr(cb(s), sl).as("cluster"),
            sl.as("sv"))
        }: _*)
        val sums = vecs.select(explode(subStructs).as("z"))
          .select(col("z.sub").as("sub"), col("z.cluster").as("cluster"),
            posexplode(col("z.sv")).as(Seq("i", "v")))
          .groupBy(col("sub"), col("cluster"), col("i"))
          .agg(sum(floor(col("v") * 1e6 + 0.5).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val next = cb.map(_.map(_.clone()))
        sums.foreach { r =>
          next(r.getAs[Int]("sub"))(r.getAs[Int]("cluster"))(r.getAs[Int]("i")) =
            r.getAs[Long]("s").toDouble / r.getAs[Long]("n").toDouble / 1e6
        }
        cb = next
      }
      cb
    } finally vecs.unpersist(blocking = false)
  }

  /** Encode each embedding as `m` sub-quantizer codes — map-only (the
    * codebooks ride as broadcast literals inside the assignment expression).
    * Output: (idCol, codes array<int>), the compressed representation a
    * 100 TB vector store keeps at rest. */
  def pqEncode(df: DataFrame, idCol: String, embCol: String, dim: Int,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    df.select(col(idCol),
      array((0 until m).map(s => assignExpr(codebooks(s),
        slice(col(embCol).cast("array<double>"), s * dsub + 1, dsub))): _*)
        .as("codes"))
  }

  /** PQ distortion audit — the geometric counterpart of the q184 recall
    * audit: per subspace, the quantized squared reconstruction error
    * ‖v_s − c_{s,code(v)}‖² of every vector against its assigned codeword,
    * reduced to (count, sum, max, mean) in integer micro-units. This is the
    * card a quantizer owner reads to pick m/ksub and to catch a subspace
    * whose codebook collapsed (one giant cell ⇒ max_err explodes) before
    * recall quietly degrades.
    *
    * Determinism: each (vector, subspace) error is rounded ONCE
    * (floor(err·1e6 + 0.5)) before aggregation — integer sums commute, so
    * the card is identical under any partitioning and in the Python oracle.
    *
    * Scale shape: train is [[pqCodebooks]] (codebooks are kilobyte driver
    * literals); the audit itself is ONE map-only pass (assign + reconstruct
    * + error, all inside the row projection) and one m-row aggregation with
    * map-side partials. */
  def pqDistortion(df: DataFrame, idCol: String, embCol: String, dim: Int,
                   m: Int, ksub: Int, iters: Int): DataFrame = {
    val cb = pqCodebooks(df, idCol, embCol, dim, m, ksub, iters)
    val dsub = dim / m
    val perSub = array((0 until m).map { s =>
      val sl = slice(col(embCol).cast("array<double>"), s * dsub + 1, dsub)
      val cents = litMat(cb(s))
      val chosen = element_at(cents, assignExpr(cb(s), sl) + 1)
      val sq = aggregate(zip_with(sl, chosen, (a, b) => (a - b) * (a - b)),
        lit(0d), (acc, x) => acc + x)
      struct(lit(s).as("sub"), floor(sq * 1e6 + 0.5).cast("long").as("err"))
    }: _*)
    df.where(col(embCol).isNotNull)
      .select(explode(perSub).as("z"))
      .select(col("z.sub").as("sub"), col("z.err").as("err_micro"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_micro")).as("sum_err_micro"),
        max(col("err_micro")).as("max_err_micro"))
      .withColumn("mean_err_micro",
        floor(col("sum_err_micro") / col("n_vecs")).cast("long"))
  }

  /** PQ asymmetric-distance top-k with exact rerank: an ADC pass scores
    * every candidate from its codes alone — the query precomputes one
    * inner-product lookup table per subspace
    * (`parts[s][j] = floor(q_s · c_{s,j} · 1e6 + 0.5)`, an exact integer so
    * partial sums commute) and a candidate's ADC score is the sum of `m`
    * array lookups, never a full dot product — then only the ADC-top-
    * `shortlist` candidates have their full vectors fetched for an exact
    * rounded-dot rerank to the final `k` (the standard IVF-PQ serving
    * shape). Shortlist recall is approximate by construction; PQSpec pins
    * measured recall vs [[bruteForceTopK]] on the fixture.
    *
    * Scale shape: the corpus-sized ADC pass touches only (cand_id, codes) —
    * m small ints a row instead of `dim` floats, the entire point of PQ —
    * joined against a broadcast of the tiny query-side lookup tables;
    * both top-shortlist and top-k run as the bounded
    * [[graft.functions.TopKAggregator]] with map-side partials, so each
    * exchange carries O(shortlist × partitions) rows per query. The exact
    * rerank reads full vectors for |queries| × shortlist ids only, via a
    * broadcast semi-style join into the corpus scan. Integer ADC scores and
    * rounded rerank scores → deterministic under any partitioning. */
  def pqTopK(df: DataFrame, idCol: String, embCol: String,
             queryFilter: Column, dim: Int, m: Int, ksub: Int, iters: Int,
             k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cb = pqCodebooks(df, idCol, embCol, dim, m, ksub, iters)
    val dsub = dim / m
    val enc = pqEncode(df, idCol, embCol, dim, cb)
      .select(col(idCol).cast("long").as("cand_id"), col("codes"))
    val parts = adcParts(cb, col("__q"), dsub)
    val qd = df.where(queryFilter)
      .select(col(idCol).cast("long").as("q_id"),
        col(embCol).cast("array<double>").as("__q"))
    val qtab = qd.select(col("q_id"), parts.as("__parts"))
    val short = enc.join(broadcast(qtab), col("cand_id") =!= col("q_id"))
      .withColumn("adc",
        adcSum(col("codes"), col("__parts")).cast("double"))
      .where(col("adc").isNotNull && col("cand_id").isNotNull)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(shortlist)(col("adc"), col("cand_id"))
        .as("tk"))
      .select(col("q_id"), explode(col("tk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))
    val cands = df.select(col(idCol).cast("long").as("cand_id"),
      col(embCol).cast("array<double>").as("__c"))
    cands.join(broadcast(short), Seq("cand_id"))
      .join(broadcast(qd), Seq("q_id"))
      .withColumn("score", round(dot(col("__q"), col("__c")), 3))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("cand_id")).as("tk"))
      .select(col("q_id"), explode(col("tk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"), col("c.score").as("score"))
  }

  /** IVFADC (Jégou et al. 2011 §IV) — the canonical billion-scale ANN
    * index, composing this file's two verified quantizers: a coarse
    * [[kMeans]] quantizer routes every vector to one of `kCoarse` cells,
    * PQ codebooks are trained and codes stored on the RESIDUAL
    * (v − centroid(cell)) — far more quantizable than the raw vector — and
    * a query probes only its `nProbe` nearest cells, scoring candidates
    * there from codes alone with a PER-CELL lookup table built from the
    * query's own residual against that cell, then exact-reranks the ADC
    * shortlist on full vectors.
    *
    * Determinism is inherited: coarse assignment is [[kMeans]]'s strict-<
    * argmin expression, probed cells rank by the same (‖c‖² − 2·q·c) metric
    * with cell-ascending ties, residual sub-quantizers follow
    * [[pqCodebooks]]'s exact IEEE sequence, ADC scores are exact integer
    * sums, rerank dots round to 3 dp. The Python oracle replays the whole
    * chain.
    *
    * Scale shape: the coarse and PQ trainers keep metadata-sized driver
    * state; encoding is map-only (centroid and codebook literals); the ADC
    * pass is an EQUI-JOIN ON THE CELL ID — only the probed cells'
    * (cand_id, cell, codes) rows meet the broadcast query tables, so work
    * scales with the probed population, not the corpus (this cell-pruned
    * join is what q125's flat ADC lacks and why FAISS serves billions this
    * way); both top-shortlist and top-k are bounded TopK aggregates with
    * map-side partials; the rerank reads |queries| × shortlist full
    * vectors via broadcast joins. */
  def ivfPqTopK(df: DataFrame, idCol: String, embCol: String,
                queryFilter: Column, dim: Int, kCoarse: Int, coarseIters: Int,
                nProbe: Int, m: Int, ksub: Int, iters: Int,
                k: Int, shortlist: Int): DataFrame = {
    val model = ivfPqTrain(df, idCol, embCol, dim, kCoarse, coarseIters,
      m, ksub, iters)
    val enc = ivfPqEncode(df, idCol, embCol, model)
    val qd = df.where(queryFilter)
      .select(col(idCol).cast("long").as("q_id"),
        col(embCol).cast("array<double>").as("q_emb"))
    val fullVecs = df.select(col(idCol).cast("long").as("cand_id"),
      col(embCol).cast("array<double>").as("cand_emb"))
    ivfPqServe(qd, enc, fullVecs, model, nProbe, k, shortlist)
  }

  /** The frozen state an IVFADC index persists: coarse centroids (kCoarse ×
    * dim) + per-subspace residual codebooks (m × ksub × dim/m) — kilobytes
    * of metadata against a 100 TB code table, the exact split
    * [[graft.pipeline.IndexStore]] writes to its meta files. */
  final case class IvfPqModel(dim: Int, centroids: Array[Array[Double]],
                              codebooks: Array[Array[Array[Double]]]) {
    def kCoarse: Int = centroids.length
    def m: Int = codebooks.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
  }

  /** Train the IVFADC quantizers only (no codes, no serving): coarse
    * [[kMeans]] centroids, then [[pqCodebooks]] on the residuals
    * v − centroid(cell). Deterministic end to end (see [[ivfPqTopK]]);
    * driver state is metadata-sized. */
  def ivfPqTrain(df: DataFrame, idCol: String, embCol: String, dim: Int,
                 kCoarse: Int, coarseIters: Int, m: Int, ksub: Int,
                 iters: Int): IvfPqModel = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val cents = kMeansCentroids(df, idCol, embCol, kCoarse, coarseIters)
    val base = ivfPqResiduals(df, idCol, embCol, cents)
    val cb = pqCodebooks(base, "cand_id", "__r", dim, m, ksub, iters)
    IvfPqModel(dim, cents, cb)
  }

  /** (cand_id, __v, cell, __r): cell assignment + residual against the
    * frozen centroids — pure map (centroids ride as array literals). */
  private def ivfPqResiduals(df: DataFrame, idCol: String, embCol: String,
                             cents: Array[Array[Double]]): DataFrame = {
    val centArr = litMat(cents)
    df.select(col(idCol).cast("long").as("cand_id"),
        col(embCol).cast("array<double>").as("__v"))
      .withColumn("cell", assignExpr(cents, col("__v")))
      .withColumn("__r",
        zip_with(col("__v"), element_at(centArr, col("cell") + 1), (a, b) => a - b))
  }

  /** Encode vectors against a FROZEN model — map-only (centroid and codebook
    * literals broadcast with the plan), the operation an incremental release
    * append runs. Output (cand_id, cell, codes array<int>): the at-rest
    * representation, m small ints per vector. */
  def ivfPqEncode(df: DataFrame, idCol: String, embCol: String,
                  model: IvfPqModel): DataFrame = {
    val dsub = model.dim / model.m
    ivfPqResiduals(df, idCol, embCol, model.centroids)
      .select(col("cand_id"), col("cell"),
        array((0 until model.m).map(s => assignExpr(model.codebooks(s),
          slice(col("__r"), s * dsub + 1, dsub))): _*).as("codes"))
  }

  /** Probe selection: each query's `nProbe` nearest coarse cells by the same
    * (‖c‖² − 2·q·c) metric as assignment, cell-ascending ties. Input
    * queries(q_id long, q_emb array<double>); output (q_id, q_emb, cell). */
  def ivfPqProbe(queries: DataFrame, model: IvfPqModel,
                 nProbe: Int): DataFrame = {
    require(nProbe > 0 && nProbe <= model.kCoarse,
      s"nProbe=$nProbe must be in 1..kCoarse=${model.kCoarse}")
    val cellScores = cellScoreArr(model.centroids, col("q_emb"), "cell")
    queries.select(col("q_id"), col("q_emb"), explode(cellScores).as("cs"))
      .select(col("q_id"), col("q_emb"),
        col("cs.d").as("__d"), col("cs.cell").as("cell"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("__d").asc, col("cell").asc)))
      .where(col("__rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cell"))
  }

  /** The query-only IVFADC serving path against a FROZEN model and an
    * ALREADY-ENCODED code table — zero training jobs (what
    * [[graft.pipeline.IndexStore.query]] runs against the persisted index;
    * [[ivfPqTopK]] composes train + encode + this, so the two answers are
    * identical by construction).
    *
    * Inputs: queries(q_id long, q_emb array<double>);
    * enc(cand_id, cell, codes) from [[ivfPqEncode]] or the store;
    * fullVecs(cand_id, cand_emb) for the exact rerank (only
    * |queries| × shortlist ids are ever read from it, via broadcast joins).
    *
    * Plan shape: per-(query, probed-cell) residual lookup tables broadcast;
    * ADC is an equi-join on the cell id so work scales with the probed
    * population; both top-shortlist and top-k are bounded TopK aggregates
    * with map-side partials. */
  def ivfPqServe(queries: DataFrame, enc: DataFrame, fullVecs: DataFrame,
                 model: IvfPqModel, nProbe: Int, k: Int,
                 shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val dsub = model.dim / model.m
    val centArr = litMat(model.centroids)
    val probed = ivfPqProbe(queries, model, nProbe)
    // per-(query, probed cell) residual lookup tables
    val parts = adcParts(model.codebooks, col("__qr"), dsub)
    val qtab = probed
      .withColumn("__qr",
        zip_with(col("q_emb"), element_at(centArr, col("cell") + 1), (a, b) => a - b))
      .select(col("q_id"), col("cell"), parts.as("__parts"))
    val short = enc.join(broadcast(qtab), Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .withColumn("adc",
        adcSum(col("codes"), col("__parts")).cast("double"))
      .where(col("adc").isNotNull && col("cand_id").isNotNull)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(shortlist)(col("adc"), col("cand_id"))
        .as("tk"))
      .select(col("q_id"), explode(col("tk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))
    fullVecs.join(broadcast(short), Seq("cand_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score", round(dot(col("q_emb"), col("cand_emb")), 3))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("cand_id")).as("tk"))
      .select(col("q_id"), explode(col("tk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"), col("c.score").as("score"))
  }

  /** Exact cell-pruned kNN edges under a FROZEN coarse quantizer: each node
    * probes its `nProbe` nearest frozen cells, candidates are the vectors
    * the SAME frozen model assigns there, scores are exact 3-dp rounded
    * dots, top-k is the bounded TopK aggregate with in-list rank. This is
    * the incremental-maintenance scoring path ([[mergeKnnEdges]]): unlike
    * the ADC shortlist, EXACT top-k decomposes — top-k(A ∪ B) =
    * top-k(top-k(A) ∪ top-k(B)) — so a release delta merges into a prior
    * graph with provable identity to a from-scratch build. The ADC path
    * ([[ivfPqGraphEdges]]) remains the at-rest-compressed bulk option.
    *
    * Scale shape: probe is a map + per-node bounded window; candidate
    * assignment is a pure map (frozen centroid literals); the pairing is a
    * plain hash equi-join on the cell id; top-k aggregates with map-side
    * partials. Nothing query-sided broadcasts. */
  def ivfExactGraphEdges(nodes: DataFrame, cands: DataFrame,
                         cents: Array[Array[Double]], nProbe: Int,
                         k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0 && nProbe <= cents.length,
      s"nProbe=$nProbe must be in 1..${cents.length}")
    // probe by the same (‖c‖² − 2·q·c) metric as assignment (the
    // ivfPqProbe spelling, against raw centroids — no codebooks needed)
    val cellScores = cellScoreArr(cents, col("q_emb"), "cell")
    val probed = nodes.select(col("q_id"), col("q_emb"), explode(cellScores).as("cs"))
      .select(col("q_id"), col("q_emb"),
        col("cs.d").as("__d"), col("cs.cell").as("cell"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("__d").asc, col("cell").asc)))
      .where(col("__rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    val cassign = cands.select(col("cand_id"), col("cand_emb"),
      assignExpr(cents, col("cand_emb")).as("cell"))
    cassign.join(probed, Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .withColumn("score", round(dot(col("q_emb"), col("cand_emb")), 3))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("cand_id")).as("tk"))
      .select(col("q_id"), posexplode(col("tk.items")).as(Seq("p", "c")))
      .select(col("q_id").as("src_id"), col("c.id").as("dst_id"),
        col("c.score").as("score"), (col("p") + 1).cast("long").as("rank"))
  }

  /** Merge a prior edge list with a release delta's candidate edges: per
    * source, the bounded top-k of the union by (score desc, id asc), ranks
    * re-derived. Exactness of [[ivfExactGraphEdges]] scores is what makes
    * this equal to a from-scratch build on the union corpus (the q123
    * incremental-clusters contract, for graphs). One src-keyed aggregation
    * over |V|·k + |delta| rows — the corpus is never re-scored. */
  def mergeKnnEdges(prior: DataFrame, delta: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // distinct BEFORE the TopK: if a caller's delta re-scores a (src, dst)
    // pair already in `prior`, the duplicate would occupy two of the k
    // slots and evict a genuine neighbor. Scores are exact per pair, so
    // the 3-col distinct collapses exactly the re-scored duplicates —
    // cheap at |V|·k + |delta| scale.
    prior.select(col("src_id"), col("dst_id"), col("score"))
      .unionByName(delta.select(col("src_id"), col("dst_id"), col("score")))
      .distinct()
      .groupBy(col("src_id").as("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("dst_id")).as("tk"))
      .select(col("q_id"), posexplode(col("tk.items")).as(Seq("p", "c")))
      .select(col("q_id").as("src_id"), col("c.id").as("dst_id"),
        col("c.score").as("score"), (col("p") + 1).cast("long").as("rank"))
  }

  /** Reciprocity flag over an edge list — the shared mutual-kNN tail. */
  def withMutualFlag(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("dst_id").as("src_id"),
      col("src_id").as("dst_id"), lit(1).as("__m"))
    edges.join(rev, Seq("src_id", "dst_id"), "left")
      .select(col("src_id"), col("dst_id"), col("score"), col("rank"),
        col("__m").isNotNull.as("mutual"))
  }

  /** [[ivfPqServe]] with a CORPUS-SIZED query side — the batch-ADC shape a
    * kNN-GRAPH build over the frozen index needs: every vector queries the
    * index, so the per-(query, probed cell) residual lookup tables are a
    * corpus-sized frame and must NOT be broadcast. Three structural changes
    * from the serving path, same arithmetic and determinism:
    *
    *   - the ADC pass is a plain hash equi-join on the cell id (work =
    *     Σ_cell probing-nodes × resident codes — the graph's inherent
    *     cost; cells are the pruning unit exactly as in serving);
    *   - the shortlist rerank joins shuffle on their ids instead of
    *     broadcasting (|nodes| × shortlist rows);
    *   - output carries the in-list `rank` (TopK emits in (score desc, id
    *     asc) order) so the edge list is a complete graph artifact.
    *
    * Input `nodes`: (q_id long, q_emb array<double>) — typically every
    * encoded vector. */
  def ivfPqGraphEdges(nodes: DataFrame, enc: DataFrame, fullVecs: DataFrame,
                      model: IvfPqModel, nProbe: Int, k: Int,
                      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val dsub = model.dim / model.m
    val centArr = litMat(model.centroids)
    val probed = ivfPqProbe(nodes, model, nProbe)
    val parts = adcParts(model.codebooks, col("__qr"), dsub)
    val qtab = probed
      .withColumn("__qr",
        zip_with(col("q_emb"), element_at(centArr, col("cell") + 1), (a, b) => a - b))
      .select(col("q_id"), col("cell"), parts.as("__parts"))
    val short = enc.join(qtab, Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .withColumn("adc",
        adcSum(col("codes"), col("__parts")).cast("double"))
      .where(col("adc").isNotNull && col("cand_id").isNotNull)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(shortlist)(col("adc"), col("cand_id"))
        .as("tk"))
      .select(col("q_id"), explode(col("tk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("cand_id"))
    fullVecs.join(short, Seq("cand_id"))
      .join(nodes, Seq("q_id"))
      .withColumn("score", round(dot(col("q_emb"), col("cand_emb")), 3))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("cand_id")).as("tk"))
      .select(col("q_id"), posexplode(col("tk.items")).as(Seq("p", "c")))
      .select(col("q_id").as("src_id"), col("c.id").as("dst_id"),
        col("c.score").as("score"), (col("p") + 1).cast("long").as("rank"))
  }

  /** Flip an (q_id, cand_id, score) match table into a decontamination DROP
    * LIST: candidates at/above `threshold`, one row per corpus vector with
    * its best eval match (score desc, eval id asc). The shared tail of
    * [[decontaminateWithProbes]] (exact cell search) and
    * [[graft.pipeline.IndexStore.decontaminate]] (ADC-shortlisted index
    * search); a map-side-partial aggregation, never a corpus-keyed window. */
  def dropListFromMatches(matches: DataFrame, threshold: Double): DataFrame =
    matches.where(col("score") >= threshold)
      .groupBy(col("cand_id"))
      .agg(max(struct(col("score"), (-col("q_id")).as("neg_id"))).as("m"))
      .select(col("cand_id").as("vec_id"), (-col("m.neg_id")).as("eval_id"),
        col("m.score").as("cosine"))

  /** Int8 scalar quantization of an embedding column: per-dimension corpus
    * [min, max] → each component mapped to round((v-lo)/((hi-lo)/255)) in
    * 0..255 — 4× smaller at rest than float32, the standard first compression
    * step for a 100 TB embedding store. The stats pass reduces map-side to
    * one row per dimension; the quantize pass is a broadcast join + one
    * aggregation keyed by the vector id. All arithmetic in double so the op
    * is engine-deterministic (oracle-able). */
  def quantizeInt8(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val ex = df.select(col(idCol), posexplode(col(embCol)).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val stats = ex.groupBy("i").agg(min("v").as("lo"), max("v").as("hi"))
    ex.join(broadcast(stats), Seq("i"))
      .withColumn("q", when(col("hi") === col("lo"), 0L)
        .otherwise(round((col("v") - col("lo")) / ((col("hi") - col("lo")) / 255d)).cast("long")))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("q")))),
        x => x.getField("q")).as("q8"))
  }

  /** Int8-quantization RECALL audit — does the 4× at-rest compression of
    * [[quantizeInt8]] preserve retrieval? Per query: the exact float top-k
    * (ground truth) vs the top-k scored against DEQUANTIZED candidates
    * (lo + q·(hi−lo)/255, the exact decode of the q82 encode), joined to
    * integer milli recall — the audit a serving team reads before letting
    * the compressed store answer queries (q165's shape, with the
    * quantizer as the subject instead of the index).
    *
    * Scale shape: the per-dim [lo, hi] table is dim rows — collected as
    * kilobyte driver state (the centroid idiom) and re-broadcast as array
    * literals, so dequantization is a pure map; both top-k passes are the
    * broadcast-queries + bounded-TopK brute-force plan; the audit join is
    * |queries|·k rows. */
  def int8RecallAudit(df: DataFrame, idCol: String, embCol: String,
                      queryFilter: Column, k: Int): DataFrame = {
    val ex = df.select(col(idCol),
        posexplode(col(embCol).cast("array<double>")).as(Seq("i", "v")))
    val stats = ex.groupBy("i").agg(min("v").as("lo"), max("v").as("hi"))
      .orderBy("i").collect()
    val loArr = array(stats.map(r => lit(r.getDouble(1))): _*)
    val hiArr = array(stats.map(r => lit(r.getDouble(2))): _*)
    val dequant = quantizeInt8(df, idCol, embCol)
      .select(col(idCol).as("cand_id"),
        transform(col("q8"), (v, i) => {
          val lo = element_at(loArr, i + 1)
          val hi = element_at(hiArr, i + 1)
          lo + v.cast("double") * ((hi - lo) / lit(255.0))
        }).as("cand_emb"))
    val qd = df.where(queryFilter)
      .select(col(idCol).as("q_id"),
        col(embCol).cast("array<double>").as("q_emb"))
    val truth = bruteForceTopK(qd,
      df.select(col(idCol).as("cand_id"), col(embCol).as("cand_emb")), k)
    val served = bruteForceTopK(qd, dequant, k)
      .select(col("q_id"), col("cand_id"), lit(1L).as("__hit"))
    truth.join(served, Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k_true"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .select(col("q_id"), col("k_true"), col("n_hits"),
        expr("div(n_hits * 1000, k_true)").as("recall_milli"))
  }

  /** Embedding-space eval-set decontamination (the vector twin of the q77
    * n-gram / q114 Bloom passes): flag every CORPUS vector whose cosine with
    * ANY eval-set vector reaches `threshold`, searching only IVF-probed
    * cells instead of the full eval × corpus product. Returns one row per
    * contaminated corpus vector — its best eval match (cosine desc, eval id
    * asc) — i.e. the drop list a release build subtracts before training.
    *
    * Scale shape (the asymmetry is the whole design): the eval set is tiny
    * and the corpus is 100 TB, so everything eval-sized is BROADCAST —
    * coarse centroids (built from the corpus side only, so the index is
    * eval-independent), then the (eval, probed cell) assignment table. The
    * corpus streams through ONCE: an equi-join on its cell id against the
    * broadcast assignment prunes candidates to probed cells, the rounded
    * native dot scores each surviving pair, and the best-match pick is a
    * hash aggregation (`max(struct(cosine, -eval_id))` — map-side partials,
    * no window, no corpus-keyed sort). Cells the eval set never probes are
    * never scored. */
  def ivfDecontaminate(df: DataFrame, idCol: String, embCol: String,
                       cellCol: String, evalFilter: Column,
                       threshold: Double, nProbe: Int = 2): DataFrame = {
    val corpus = df.where(!evalFilter)
      .select(col(cellCol).as("cell"), col(idCol).as("vec_id"),
        col(embCol).as("__emb"))
    val probes = evalProbes(
      df.where(evalFilter).select(col(idCol).as("eval_id"),
        col(embCol).as("e_emb")),
      cellCentroids(df.where(!evalFilter), embCol, cellCol), nProbe)
    decontaminateWithProbes(corpus, "vec_id", "__emb", "cell",
      probes, threshold)
  }

  /** The eval-side probe table for [[ivfDecontaminate]]: each eval vector's
    * `nProbe` nearest coarse cells — (eval_id, e_emb, cell), eval-set-sized.
    * Computed once against frozen centroids, it IS the persistable
    * decontamination artifact a serving path broadcasts (the
    * classifier-weights / PQ-codebooks idiom). */
  def evalProbes(evals: DataFrame, centroids: DataFrame,
                 nProbe: Int): DataFrame =
    evals.crossJoin(broadcast(centroids))
      .withColumn("cscore", round(dot(col("e_emb"), col("cvec")), 3))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("eval_id")).orderBy(col("cscore").desc, col("cell").asc)))
      .where(col("__rn") <= nProbe)
      .select(col("eval_id"), col("e_emb"), col("cell"))

  /** [[ivfDecontaminate]]'s serving half against an ALREADY-COMPUTED probe
    * table: the corpus (carrying its cell id) streams once through the
    * broadcast cell-keyed equi-join, the threshold rides the join
    * condition, and the best-match pick is a map-side-partial aggregation.
    * `StreamEntry.decontaminate` runs exactly this per micro-batch. */
  def decontaminateWithProbes(corpus: DataFrame, idCol: String,
                              embCol: String, cellCol: String,
                              probes: DataFrame,
                              threshold: Double): DataFrame =
    contaminationPairs(corpus, idCol, embCol, cellCol, probes, threshold)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_id"))).as("m"))
      .select(col("vec_id"), (-col("m.neg_id")).as("eval_id"),
        col("m.cosine").as("cosine"))

  /** The (corpus, eval) contamination pair stage both views share: cell-
    * keyed broadcast join, rounded native dot, threshold riding the join —
    * only surviving pairs ever shuffle. */
  private def contaminationPairs(corpus: DataFrame, idCol: String,
                                 embCol: String, cellCol: String,
                                 probes: DataFrame,
                                 threshold: Double): DataFrame =
    corpus.select(col(cellCol).as("cell"), col(idCol).as("vec_id"),
        col(embCol).as("__emb"))
      .join(broadcast(probes), Seq("cell"))
      .withColumn("cosine", round(dot(col("__emb"), col("e_emb")), 3))
      .where(col("cosine") >= threshold)

  /** The EVAL-side view of [[ivfDecontaminate]] — the report an eval-set
    * owner reads: per eval vector, how many corpus vectors sit at/above the
    * threshold in its probed cells, and its worst offender (cosine desc,
    * corpus id asc). Evals with a clean neighborhood report zero with a
    * null offender, so the report always has one row per eval vector.
    *
    * Same scale shape as the drop list — the eval-side aggregation groups
    * the surviving pairs by eval_id (eval-set-sized output) and the
    * zero-row completion is a broadcast-able left join from the tiny eval
    * frame. */
  def contaminationReport(df: DataFrame, idCol: String, embCol: String,
                          cellCol: String, evalFilter: Column,
                          threshold: Double, nProbe: Int = 2): DataFrame = {
    val corpus = df.where(!evalFilter)
      .select(col(cellCol).as("cell"), col(idCol).as("vec_id"),
        col(embCol).as("__emb"))
    val evals = df.where(evalFilter)
      .select(col(idCol).as("eval_id"), col(embCol).as("e_emb"))
    val probes = evalProbes(evals,
      cellCentroids(df.where(!evalFilter), embCol, cellCol), nProbe)
    val perEval = contaminationPairs(corpus, "vec_id", "__emb", "cell",
        probes, threshold)
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_contaminated"),
        max(struct(col("cosine"), (-col("vec_id")).as("neg_id"))).as("m"))
    evals.select(col("eval_id")).join(broadcast(perEval), Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (-col("m.neg_id")).as("top_vec_id"),
        col("m.cosine").as("max_cosine"))
  }
}
