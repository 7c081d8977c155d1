package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}
import graft.pipeline.IndexStore.{Int8, Raw, ServeSpec}
import graft.sources.Tables

/** Vector-similarity queries over the `embeddings` table (`Array[Float]`,
  * L2-normalized → cosine == dot product). The brute-force top-k is the
  * verifiable baseline; the LSH-bucketed variant (rows-only check) is the
  * 100 TB scale path in `graft.operators.Similarity`.
  */
object VectorQueries {

  /** Wall-seconds of the in-harness FIXTURE builds inside the store-MUTATING
    * queries (q180/q181/q186) — the prior-night index/graph/degenerate-store
    * state that is PERSISTED state in production and exists in-query only by
    * self-containment necessity. Mutating queries cannot share the frozen
    * [[graft.pipeline.IndexStore.sharedBuild]] fixture by construction, so
    * the driver's wall-times would otherwise be misread as operator cost;
    * [[graft.Bench]] reads this map after each pass and emits a
    * `fixture_build` attribution block in BENCH_FULL/BENCH_STEADY. Keyed by
    * query name; each query RESETS its entry on entry (reruns overwrite,
    * never accumulate across passes). */
  val fixtureBuildSec = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def addFixtureTime(name: String, sec: Double): Unit =
    fixtureBuildSec.merge(name, sec, (a, b) => Double.box(a + b))

  private[queries] def timedFixture[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    addFixtureTime(name, (System.nanoTime() - t0) / 1e9)
    a
  }

  /** The one full-corpus frozen IVFADC store every READ-ONLY serving query
    * shares per JVM ([[graft.pipeline.IndexStore.sharedBuild]]): identical
    * params everywhere, so the store is identical to what each query used
    * to build privately — the production build-once/serve-many lifecycle
    * instead of ~8 s of quantizer re-training per query. Mutating queries
    * (q180 append, q181 rebalance) build private copies. `caller` is the
    * query paying for the build THIS pass (whichever runs first) — the
    * memoized cost lands in its `fixture_build` attribution, so the bench's
    * wall-time for the first read-only server is not misread as serve
    * cost. */
  private def fullIndex(s: SparkSession, dir: String, caller: String): String =
    timedFixture(caller) {
      graft.pipeline.IndexStore.sharedBuild(s, s"$dir|embeddings|full",
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
        release = "r1")
    }

  /** The shared TWO-RELEASE store (built on r1 = vec_id % 10 < 8, r2
    * appended under the frozen r1 model) for queries that only READ it —
    * q197's as-of serve and q202's churn card. Same memoization contract as
    * [[fullIndex]]: the build is deterministic in (corpus, params), the
    * first caller this pass pays (and attributes) the build. */
  private def asOfIndex(s: SparkSession, dir: String, caller: String): String =
    timedFixture(caller) {
      sharedAsOfStores.computeIfAbsent(dir, _ => {
        val emb = Tables.load(s, dir, "embeddings")
        val isOld = col("vec_id") % 10 < 8
        val path = graft.LocalSession.tempDir("graft-asof").toString
        graft.pipeline.IndexStore.build(s, path, emb.where(isOld), "vec_id",
          "embedding", dim = 64, kCoarse = 8, coarseIters = 4, m = 16,
          ksub = 8, iters = 3, release = "r1")
        graft.pipeline.IndexStore.append(s, path, emb.where(!isOld),
          "vec_id", "embedding", "r2")
        path
      })
    }

  private val sharedAsOfStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sharedFixtureRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once read-only fixture root, keyed by (dir, name) per JVM —
    * the [[fullIndex]]/[[asOfIndex]] memoization contract generalized:
    * the build is deterministic in (corpus, params), so sharing it is
    * invisible to every consumer's answer. */
  private[queries] def sharedFixtureRoot(dir: String, name: String)
                                        (build: String => Unit): String =
    sharedFixtureRoots.computeIfAbsent(s"$dir|$name", _ => {
      val root = graft.LocalSession.tempDir(s"graft-$name").toString
      build(root)
      root
    })

  /** Clone a shared fixture's store directory for a MUTATING consumer —
    * a small filesystem copy (codes + kilobyte meta, never a quantizer
    * retrain): the production restore-snapshot-then-mutate shape, and the
    * reason one shared build can serve many mutating queries. */
  private def cloneStore(s: SparkSession, root: String): String =
    clonePath(s, s"$root/store")

  /** Filesystem-copy any fixture directory to a fresh temp path, deleted
    * at JVM exit — the [[cloneStore]] idiom generalized (the q201
    * restore-snapshot-then-mutate shape) for the text-tier signature/gram
    * stores the takedown queries mutate. */
  private[queries] def clonePath(s: SparkSession, src: String): String = {
    val dst = graft.LocalSession.tempDir("graft-clone").toString + "/store"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(src), fs,
      new org.apache.hadoop.fs.Path(dst), false, conf)
    dst
  }

  /** The shared PRIOR-NIGHT state every maintenance/roll-forward query
    * starts from (persisted in production; in-harness by self-containment
    * necessity): the r1 index over the prior release's corpus slice
    * (non-eval, vec_id % 10 < 8) at coarse size `kc` — 8 is the healthy
    * store, 2 the deliberately degenerate one — plus the exact prior kNN
    * graph under that store's own model, persisted as parquet beside it
    * so consumers read it without pinning (the shared root is never
    * mutated; mutators work on [[cloneStore]] copies). */
  private def priorNight(s: SparkSession, dir: String, kc: Int): String =
    sharedFixtureRoot(dir, s"prior-kc$kc") { root =>
      val emb = Tables.load(s, dir, "embeddings")
      val old = emb.where(col("vec_id") % 50 =!= 0 &&
        col("vec_id") % 10 < 8)
      graft.pipeline.IndexStore.build(s, s"$root/store", old, "vec_id",
        "embedding", dim = 64, kCoarse = kc, coarseIters = 4, m = 16,
        ksub = 8, iters = 3, release = "r1")
      val m0 = graft.pipeline.IndexStore.readModel(s, s"$root/store")
      Similarity.ivfExactGraphEdges(
        old.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb")),
        old.select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb")),
        m0.centroids, nProbe = 2, k = 3)
        .write.mode("overwrite").parquet(s"$root/prior_graph")
    }

  /** A mutable clone of [[priorNight]] plus its (read-only) prior graph;
    * the clone (and, for the first caller, the shared build) lands in
    * `caller`'s fixture_build attribution. */
  private def clonePriorNight(s: SparkSession, dir: String, kc: Int,
                              caller: String)
      : (String, org.apache.spark.sql.DataFrame) =
    timedFixture(caller) {
      val root = priorNight(s, dir, kc)
      (cloneStore(s, root), s.read.parquet(s"$root/prior_graph"))
    }

  /** The shared two-release TEXT stores (signatures + grams, r1 = the old
    * slice, r2 = the new) that q207 audits and q209 tears a clone of —
    * the [[sharedFixtureRoot]] contract (deterministic appends, first
    * caller this pass pays and attributes the build; q209 never mutates
    * the shared root, only its private clone). */
  private def auditStores(s: SparkSession, dir: String): String = {
    val docs = Tables.load(s, dir, "documents")
    val isNew = col("doc_id") % 10 >= 8
    sharedFixtureRoot(dir, "audit-stores") { r =>
      graft.pipeline.SignatureStore.append(s, s"$r/sigs", "r1",
        docs.where(!isNew), "doc_id", "text")
      graft.pipeline.SignatureStore.append(s, s"$r/sigs", "r2",
        docs.where(isNew), "doc_id", "text")
      graft.pipeline.GramStore.append(s, s"$r/grams", "r1",
        docs.where(!isNew), "text")
      graft.pipeline.GramStore.append(s, s"$r/grams", "r2",
        docs.where(isNew), "text")
    }
  }

  /** q191's fixed lexical query terms — q112's term set, so the lexical arm
    * carries the already-hash-checked BM25 spelling. */
  private val hybridTerms = Seq("vector", "merge", "window", "stream")

  private def hybridTermsSql: String =
    hybridTerms.map(t => s"'$t'").mkString(", ")

  /** q192's oracle: the greedy k-center recurrence unrolled as chained CTEs
    * — `pick_i` = argmin over the remaining pool of max rounded similarity
    * to `acc_{i-1}` (ties on id), `acc_i` = `acc_{i-1} ∪ pick_i`. The same
    * per-pair round-to-3dp the Spark side applies before its greatest(). */
  private def kcenterOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pool AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |ex AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i FROM pool),
        |dots AS MATERIALIZED (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         round(SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 3) AS s
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2
        |),
        |sel0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS sel_ord, CAST(min(vec_id) AS BIGINT) AS vec_id,
        |                CAST(NULL AS DOUBLE) AS max_prior_sim FROM pool)""".stripMargin)
    for (i <- 1 until k) {
      val prev = if (i == 1) "sel0" else s"acc${i - 1}"
      sb.append(s""",
        |pick$i AS (
        |  SELECT CAST($i AS BIGINT) AS sel_ord, CAST(d.a_id AS BIGINT) AS vec_id,
        |         max(d.s) AS max_prior_sim
        |  FROM dots d JOIN $prev p ON d.b_id = p.vec_id
        |  WHERE d.a_id NOT IN (SELECT vec_id FROM $prev)
        |  GROUP BY d.a_id
        |  ORDER BY max_prior_sim ASC, vec_id ASC LIMIT 1
        |),
        |acc$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM pick$i)""".stripMargin)
    }
    sb.append(s"\nSELECT sel_ord, vec_id, max_prior_sim FROM acc${k - 1}")
    sb.toString
  }

  /** q194's oracle: q192's greedy recurrence with a per-stratum argmin each
    * round (`row_number() OVER (PARTITION BY label ...)` = 1), seeds = each
    * label's min id. */
  private def kcenterStratOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH ex AS (SELECT vec_id, label, unnest(embedding) AS v,
        |            generate_subscripts(embedding, 1) AS i FROM embeddings),
        |sdots AS MATERIALIZED (
        |  SELECT CAST(a.label AS BIGINT) AS stratum, a.vec_id AS a_id, b.vec_id AS b_id,
        |         round(SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 3) AS s
        |  FROM ex a JOIN ex b ON a.label = b.label AND a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2, 3
        |),
        |sacc0 AS MATERIALIZED (
        |  SELECT CAST(label AS BIGINT) AS stratum, CAST(0 AS BIGINT) AS sel_ord,
        |         CAST(min(vec_id) AS BIGINT) AS vec_id,
        |         CAST(NULL AS DOUBLE) AS max_prior_sim
        |  FROM embeddings GROUP BY label
        |)""".stripMargin)
    for (i <- 1 until k) {
      val prev = s"sacc${i - 1}"
      sb.append(s""",
        |spick$i AS MATERIALIZED (
        |  SELECT stratum, sel_ord, vec_id, max_prior_sim FROM (
        |    SELECT d.stratum, CAST($i AS BIGINT) AS sel_ord,
        |           CAST(d.a_id AS BIGINT) AS vec_id, max(d.s) AS max_prior_sim,
        |           row_number() OVER (PARTITION BY d.stratum
        |                              ORDER BY max(d.s) ASC, d.a_id ASC) AS rn
        |    FROM sdots d JOIN $prev p ON d.stratum = p.stratum AND d.b_id = p.vec_id
        |    WHERE NOT EXISTS (SELECT 1 FROM $prev q
        |                      WHERE q.stratum = d.stratum AND q.vec_id = d.a_id)
        |    GROUP BY d.stratum, d.a_id
        |  ) WHERE rn = 1
        |),
        |sacc$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM spick$i)""".stripMargin)
    }
    sb.append(s"\nSELECT stratum, sel_ord, vec_id, max_prior_sim FROM sacc${k - 1}")
    sb.toString
  }

  /** q196's oracle: the q72 IVF chain (kept with its rank), the q48-style
    * brute-force truth at k, and the exact integer metric arithmetic — the
    * positional discounts are the SAME numbers
    * [[graft.operators.Retrieval.dcgDiscountsMicro]] computes, spelled as
    * literals. */
  private def retrievalMetricsOracleSql(k: Int): String = {
    val disc = graft.operators.Retrieval.dcgDiscountsMicro(k)
    val idcg = disc.sum
    val discCase = disc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    s"""WITH ex AS (
       |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |),
       |cent AS (
       |  SELECT label, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
       |  FROM ex GROUP BY 1, 2
       |),
       |qx AS (SELECT vec_id AS q_id, v, i FROM ex WHERE vec_id % 50 = 0),
       |ascore AS (
       |  SELECT qx.q_id, cent.label, round(SUM(CAST(qx.v AS DOUBLE) * cent.c), 3) AS cscore
       |  FROM qx JOIN cent ON qx.i = cent.i GROUP BY 1, 2
       |),
       |assign AS (
       |  SELECT q_id, label FROM (
       |    SELECT q_id, label,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cscore DESC, label) AS rn
       |    FROM ascore
       |  ) WHERE rn <= 2
       |),
       |pairs AS (
       |  SELECT a.q_id, e.vec_id AS cand_id
       |  FROM assign a JOIN embeddings e ON e.label = a.label AND e.vec_id <> a.q_id
       |),
       |sscores AS (
       |  SELECT p.q_id, p.cand_id,
       |         round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) AS score
       |  FROM pairs p
       |  JOIN ex qe ON qe.vec_id = p.q_id
       |  JOIN ex ce ON ce.vec_id = p.cand_id AND ce.i = qe.i
       |  GROUP BY 1, 2
       |),
       |served AS (
       |  SELECT q_id, cand_id, rn AS rank FROM (
       |    SELECT q_id, cand_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
       |    FROM sscores
       |  ) WHERE rn <= $k
       |),
       |tdots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |         round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS s
       |  FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id % 50 = 0 GROUP BY 1, 2
       |),
       |truth AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, cand_id) AS rn
       |    FROM tdots
       |  ) WHERE rn <= $k
       |),
       |j AS (
       |  SELECT sv.q_id, sv.rank,
       |         CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM served sv LEFT JOIN truth t
       |    ON sv.q_id = t.q_id AND sv.cand_id = t.cand_id
       |),
       |agg AS (
       |  SELECT q_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
       |         CAST(COALESCE(MAX(CASE WHEN hit = 1
       |             THEN CAST(floor(1000000.0 / rank) AS BIGINT) END), 0) AS BIGINT) AS mrr_micro,
       |         CAST(SUM(CASE WHEN hit = 1
       |             THEN CASE rank $discCase ELSE 0 END ELSE 0 END) AS BIGINT) AS dcg_micro
       |  FROM j GROUP BY q_id
       |)
       |SELECT q_id, n_hits, mrr_micro, dcg_micro,
       |       CAST(floor(dcg_micro * 1000.0 / $idcg) AS BIGINT) AS ndcg_milli
       |FROM agg""".stripMargin
  }

  /** q193's oracle: relevance shortlist (top-`n` by rounded dot with vec 0,
    * id tie-break), pairwise milli-sims within the shortlist, then the MMR
    * greedy recurrence unrolled — `pick_i` = argmax of
    * `λ·rel_milli − (1000−λ)·max_sim_milli` over the remaining shortlist
    * against `macc_{i-1}` (ties on id). Identical integer arithmetic to
    * `Retrieval.mmrSelect`. */
  private def mmrOracleSql(k: Int, n: Int, lambdaMilli: Long): String = {
    val mu = 1000L - lambdaMilli
    val sb = new StringBuilder
    sb.append(
      s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS v,
         |            generate_subscripts(embedding, 1) AS i FROM embeddings),
         |rel AS (
         |  SELECT c.vec_id AS vec_id,
         |         round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS rel
         |  FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> 0
         |  WHERE q.vec_id = 0 GROUP BY 1
         |),
         |shortr AS MATERIALIZED (
         |  SELECT vec_id, CAST(round(rel * 1000) AS BIGINT) AS rel_milli
         |  FROM (SELECT vec_id, rel,
         |               row_number() OVER (ORDER BY rel DESC, vec_id) AS r
         |        FROM rel) WHERE r <= $n
         |),
         |sims AS MATERIALIZED (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(round(round(SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 3) * 1000) AS BIGINT) AS sim_milli
         |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM shortr)
         |    AND b.vec_id IN (SELECT vec_id FROM shortr)
         |  GROUP BY 1, 2
         |),
         |macc0 AS MATERIALIZED (
         |  SELECT CAST(0 AS BIGINT) AS sel_ord, CAST(vec_id AS BIGINT) AS vec_id,
         |         CAST(NULL AS BIGINT) AS mmr_micro
         |  FROM (SELECT vec_id FROM shortr ORDER BY rel_milli DESC, vec_id LIMIT 1)
         |)""".stripMargin)
    for (i <- 1 until k) {
      val prev = s"macc${i - 1}"
      sb.append(s""",
        |mpick$i AS (
        |  SELECT CAST($i AS BIGINT) AS sel_ord, CAST(c.vec_id AS BIGINT) AS vec_id,
        |         $lambdaMilli * c.rel_milli - $mu * max(s.sim_milli) AS mmr_micro
        |  FROM shortr c
        |  JOIN sims s ON s.a_id = c.vec_id
        |  JOIN $prev p ON s.b_id = p.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
        |  GROUP BY c.vec_id, c.rel_milli
        |  ORDER BY mmr_micro DESC, vec_id ASC LIMIT 1
        |),
        |macc$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM mpick$i)""".stripMargin)
    }
    sb.append(s"\nSELECT sel_ord, vec_id, mmr_micro FROM macc${k - 1}")
    sb.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-5: queries = vec_id % 50 == 0, all others are
    // candidates. Scores rounded to 3 dp before ranking so float summation
    // order cannot flip the result between engines.
    "q48_cosine_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(q, emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("cand_emb")), k = 5)
    }),

    // HYBRID retrieval with reciprocal-rank fusion: the q112 BM25 arm and a
    // single-query cosine arm (query = doc 0's embedding), each collapsed to
    // a top-20 rank list by the bounded top-k aggregate (no window), fused
    // as integer micro-unit RRF contributions. Arms and fusion are all
    // integer-quantized or rounded-before-ranking, so the fused table is
    // bit-identical in the SQL oracle.
    "q191_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = graft.operators.TextAnalysis
        .bm25(docs, "doc_id", "text", hybridTerms)
      val q0 = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("q_emb"))
      val vec = emb.where(col("vec_id") =!= 0)
        .join(broadcast(q0))
        .select(col("vec_id").as("doc_id"),
          round(Similarity.dot(col("embedding"), col("q_emb")), 3).as("score"))
      Retrieval.rrfFuse(lex, vec, "doc_id", n = 20, rrfK = 60)
    }),

    // Greedy k-center diversity selection (cosine form): seed = min id of
    // the pool (vec_id % 10 == 0), then 7 rounds of argmin-of-max-rounded-
    // similarity with id tie-breaks. The oracle replays the identical greedy
    // recurrence as chained SQL CTEs, so the whole selection sequence is
    // hash-checked, not just the final set.
    "q192_kcenter_select" -> ((s, dir) =>
      Retrieval.kCenterSelect(
        Tables.load(s, dir, "embeddings").where(col("vec_id") % 10 === 0),
        "vec_id", "embedding", k = 8)),

    // FILTERED serving on the int8 tier: q195's pre-shortlist metadata
    // filter composed with q188's raw-corpus-free serve — the production
    // combination (filtered search without touching raw vectors). Shares
    // the frozen fixture store + rerank tier; Python oracle = the q145
    // chain with keep applied pre-shortlist AND the rerank against
    // dequantized candidates.
    "q199_filtered_int8_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = fullIndex(s, dir, "q199_filtered_int8_serve")
      timedFixture("q199_filtered_int8_serve") {
        graft.pipeline.IndexStore.sharedRerank(s, path,
          emb.select(col("vec_id").cast("long").as("cand_id"),
            col("embedding").cast("array<double>").as("cand_emb")))
      }
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val keep = emb.where(col("label") % 2 === 0)
        .select(col("vec_id").cast("long").as("cand_id"))
      graft.pipeline.IndexStore.serve(s, path, qd,
        ServeSpec(Int8, keep = Some(keep)), nProbe = 2, k = 5, shortlist = 100)
    }),

    // PQ distortion audit: per-subspace quantized squared reconstruction
    // error of every vector against its assigned codeword — the geometric
    // counterpart of the q184 recall audit (catch a collapsed codebook
    // before recall quietly degrades). Python oracle replays the q125
    // codebook sequence + identical integer error arithmetic.
    "q198_pq_distortion" -> ((s, dir) =>
      Similarity.pqDistortion(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, m = 16, ksub = 8, iters = 3)),

    // AS-OF (time-travel) frozen-index serving: a two-release store serves
    // restricted to r1's partitions — bit-identical to what the store
    // answered before r2 was appended (appends never retrain). The r2
    // append is part of the claim under test, so the store build is the
    // fixture and the as-of serve is the timed op. Python oracle = the
    // q145 chain over the r1 subset alone.
    "q197_asof_index_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      fixtureBuildSec.remove("q197_asof_index_serve")
      val path = asOfIndex(s, dir, "q197_asof_index_serve")
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      graft.pipeline.IndexStore.serve(s, path, qd,
        ServeSpec(Raw(fv), releases = Some(Seq("r1"))),
        nProbe = 2, k = 5, shortlist = 100)
    }),

    // TOMBSTONE-delete serving (q201): the takedown lifecycle end to end.
    // Clone the shared frozen store (a filesystem copy — no retrain),
    // tombstone vec_id % 7 == 3 (a metadata-only delete), serve the
    // standard query set (stage 'tombstoned': the broadcast anti-join
    // excludes the ids pre-shortlist, k still fills), PURGE (physical
    // removal of exactly the affected (cell, release) partitions), serve
    // again (stage 'purged'). Both stages must answer identically — the
    // purge is pure reclamation — so the Python oracle is the q145 chain
    // with the tombstoned ids skipped pre-shortlist, emitted under both
    // stage tags.
    "q201_tombstone_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      fixtureBuildSec.remove("q201_tombstone_serve")
      val src = fullIndex(s, dir, "q201_tombstone_serve")
      // a private clone: delete/purge MUTATE the store, and the shared
      // fixture is read-only by contract. The copy is small files (codes +
      // kilobyte meta), not a quantizer retrain.
      val path = timedFixture("q201_tombstone_serve") {
        clonePath(s, src)
      }
      graft.pipeline.IndexStore.delete(s, path,
        emb.where(col("vec_id") % 7 === 3)
          .select(col("vec_id").as("cand_id")))
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      // pin stage-1 rows before the purge rewrites the files its lazy plan
      // would otherwise re-list
      val tombed = graft.pipeline.IndexStore.query(s, path, qd, fv,
          nProbe = 2, k = 5, shortlist = 100)
        .withColumn("stage", lit("tombstoned")).localCheckpoint()
      graft.pipeline.IndexStore.purge(s, path)
      val purged = graft.pipeline.IndexStore.query(s, path, qd, fv,
        nProbe = 2, k = 5, shortlist = 100)
        .withColumn("stage", lit("purged"))
      tombed.unionByName(purged)
    }),

    // Release-over-release serving CHURN card (q202): the operational
    // answer to "did last night's append change what users see?" — the
    // as-of machinery serves the same query set against r1 alone and
    // against r1+r2, and the card reduces each query to exact integers:
    // top-k overlap, Jaccard (milli), and whether the top-1 flipped.
    // Python oracle: the frozen-r1-model union encode (the q180 kernel)
    // served against both candidate sets, reduced by the same arithmetic.
    "q202_serving_churn" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      fixtureBuildSec.remove("q202_serving_churn")
      val path = asOfIndex(s, dir, "q202_serving_churn")
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      def asOf(releases: String*): DataFrame =
        graft.pipeline.IndexStore.serve(s, path, qd,
          ServeSpec(Raw(fv), releases = Some(releases)),
          nProbe = 2, k = 5, shortlist = 100)
      val oldS = asOf("r1")
      val newS = asOf("r1", "r2")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("score").desc, col("cand_id"))
      val top1Old = oldS.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select(col("q_id"), col("cand_id").as("old1"))
      val top1New = newS.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select(col("q_id"), col("cand_id").as("new1"))
      val oi = oldS.select("q_id", "cand_id")
      val ni = newS.select("q_id", "cand_id")
      val sizes = oi.groupBy("q_id").agg(count(lit(1)).as("n_old"))
        .join(ni.groupBy("q_id").agg(count(lit(1)).as("n_new")), Seq("q_id"))
      val common = oi.join(ni, Seq("q_id", "cand_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_common"))
      sizes.join(common, Seq("q_id"), "left")
        .na.fill(0L, Seq("n_common"))
        .join(top1Old, Seq("q_id")).join(top1New, Seq("q_id"))
        .select(col("q_id"), col("n_old"), col("n_new"), col("n_common"),
          expr("div(n_common * 1000, n_old + n_new - n_common)")
            .as("jaccard_milli"),
          (col("old1") =!= col("new1")).as("top1_changed"))
    }),

    // TRUNCATED-dimension serving audit (q203): recall of brute-force
    // top-5 using only the first d dims of the embedding (d = 16/32/64)
    // against the full-dim truth — the audit behind prefix-truncation
    // (matryoshka-style) serving tiers: how much recall does a 4×-cheaper
    // prefix scan keep? Exact rounded-dot kernels on both sides, so the
    // whole card is SQL-expressible and hash-checked.
    "q203_truncated_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cands = emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("cand_emb"))
      val truth = Similarity.bruteForceTopK(q, cands, k = 5)
        .select("q_id", "cand_id")
      Seq(16, 32, 64).map { d =>
        val served = Similarity.bruteForceTopK(
            q.withColumn("q_emb", slice(col("q_emb"), 1, d)),
            cands.withColumn("cand_emb", slice(col("cand_emb"), 1, d)),
            k = 5)
          .select(col("q_id"), col("cand_id"), lit(1L).as("__hit"))
        truth.join(served, Seq("q_id", "cand_id"), "left")
          .agg(count(lit(1)).as("n_true"),
            coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
          .select(lit(d.toLong).as("trunc_dim"), col("n_true"), col("n_hits"),
            expr("div(n_hits * 1000, n_true)").as("recall_milli"))
      }.reduce(_ unionByName _)
    }),

    // Ranked-retrieval quality card: MRR + nDCG@3 of the q72 IVF serving
    // against the q48 brute-force truth, per query — exact integer metric
    // arithmetic (micro-unit positional discounts generated once in Scala
    // and spelled as the same literals in the oracle).
    "q196_retrieval_metrics" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val served = Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
          col("vec_id") % 50 === 0, k = 3)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("score").desc, col("cand_id"))))
      val truth = Similarity.bruteForceTopK(
        emb.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        emb.select(col("vec_id").as("cand_id"),
          col("embedding").as("cand_emb")), k = 3)
      Retrieval.rankingMetrics(served, truth, k = 3)
    }),

    // FILTERED frozen-index serving: top-5 among candidates passing a
    // metadata predicate (label % 2 == 0), filter applied to the pruned
    // code scan BEFORE the ADC shortlist so a selective filter can never
    // starve the final top-k. Shares the read-only fixture store; Python
    // oracle = the q145 chain with excluded candidates skipped pre-shortlist.
    "q195_filtered_index_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = fullIndex(s, dir, "q195_filtered_index_serve")
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      val keep = emb.where(col("label") % 2 === 0)
        .select(col("vec_id").cast("long").as("cand_id"))
      graft.pipeline.IndexStore.queryFiltered(s, path, qd, fv, keep,
        nProbe = 2, k = 5, shortlist = 100)
    }),

    // STRATIFIED greedy k-center: q192's exact recurrence run independently
    // per label — the parallel scale path for large total selections (the
    // global greedy is sequential; strata select concurrently after one
    // stratum-keyed shuffle). Oracle unrolls the same recurrence with a
    // per-stratum argmin each round.
    "q194_kcenter_stratified" -> ((s, dir) =>
      Retrieval.kCenterPerStratum(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 4)),

    // MMR rerank of the q191-style relevance shortlist (λ = 0.7): seed =
    // most relevant, then 7 greedy rounds of max(700·rel_milli −
    // 300·max_sim_milli) with id tie-breaks — all integer arithmetic over
    // rounded dots, so the oracle unrolls the identical recurrence.
    "q193_mmr_select" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q0 = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("q_emb"))
      val pool = emb.where(col("vec_id") =!= 0)
        .join(broadcast(q0))
        .select(col("vec_id"), col("embedding"),
          round(Similarity.dot(col("embedding"), col("q_emb")), 3).as("rel"))
      Retrieval.mmrSelect(pool, "vec_id", "embedding", "rel",
        k = 8, n = 20, lambdaMilli = 700L)
    }),

    // IVF ANN: label-cell centroids as the coarse quantizer, probe the 2
    // nearest cells, exact rerank — deterministic, fully oracle-verified.
    "q72_ivf_ann" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", col("vec_id") % 50 === 0, k = 3)),

    // Mutual-kNN graph served from the frozen IVFADC store (q163's learned-
    // quantizer, index-lifecycle sibling): build once, then every encoded
    // vector probes its cells, ADC-shortlists and exact-reranks — the
    // corpus-sized query side shuffles (nothing broadcasts). Python oracle
    // replays the q145 train/encode/probe/ADC/rerank sequence for all nodes
    // plus the reciprocal-edge flag.
    "q170_index_knn" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = fullIndex(s, dir, "q170_index_knn")
      graft.pipeline.IndexStore.knnGraph(s, path,
        emb.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb")),
        emb.select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb")),
        nProbe = 2, k = 3, shortlist = 50)
    }),

    // INCREMENTAL mutual-kNN graph maintenance: release N's graph rolls
    // forward with release N+1's vectors under the FROZEN coarse quantizer
    // — old nodes merge a delta scored only against the NEW slice, new
    // nodes query the union once; exact cell-pruned scores make the merge
    // provably identical to a from-scratch build (the q123 contract for
    // graphs; the Python oracle computes exactly that from-scratch answer).
    // Per release the engine scores O(|V_old|·delta + |new|·union-cells),
    // never re-pairing the old corpus with itself.
    "q176_incremental_knn" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isNew = col("vec_id") % 10 >= 8
      val cents = Similarity.kMeansCentroids(emb.where(!isNew), "vec_id",
        "embedding", 8, 4)
      def nodes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      def cands(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb"))
      // release N state (persisted in prod): the old-corpus graph
      val prior = Similarity.ivfExactGraphEdges(nodes(emb.where(!isNew)),
        cands(emb.where(!isNew)), cents, nProbe = 2, k = 3)
      // the increment: old nodes vs the new slice only; new nodes vs all
      val oldDelta = Similarity.ivfExactGraphEdges(nodes(emb.where(!isNew)),
        cands(emb.where(isNew)), cents, nProbe = 2, k = 3)
      val newEdges = Similarity.ivfExactGraphEdges(nodes(emb.where(isNew)),
        cands(emb), cents, nProbe = 2, k = 3)
      // withMutualFlag self-joins its input — pin the merged list once so
      // the three scoring passes above run once, not twice (same rows; the
      // rollForward night does the same)
      Similarity.withMutualFlag(
        Similarity.mergeKnnEdges(prior, oldDelta, k = 3)
          .unionByName(newEdges).localCheckpoint())
    }),

    // Vector-tier NIGHTLY ROLL-FORWARD (the q140 contract for the ANN
    // tier): one incremental job appends release r2's codes to the frozen
    // IndexStore map-only, merges the prior mutual-kNN graph with a delta
    // scored only against the new slice (the q176 exact kernel — provably
    // identical to a from-scratch union build under the frozen quantizer),
    // and emits the index-served eval drop list from the just-appended
    // codes. One output frame pins all three artifacts: edge rows +
    // release provenance + drop status. Python oracle: the from-scratch
    // union build (old-corpus-trained model, union-encoded codes, exact
    // union graph, ADC-served drop list).
    "q180_vector_release" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isEval = col("vec_id") % 50 === 0
      val corpus = emb.where(!isEval)
      val isNew = col("vec_id") % 10 >= 8
      def nodes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      // nightly state: the shared prior-night fixture (index + exact graph,
      // persisted in production) — cloned because the roll-forward MUTATES
      // the store; the clone (plus, for the first caller, the shared
      // build) lands in fixture_build so the bench attribution is honest
      fixtureBuildSec.remove("q180_vector_release")
      val (path, prior) = clonePriorNight(s, dir, 8, "q180_vector_release")
      graft.pipeline.VectorRelease.rollForward(s, path,
        corpus.where(isNew), corpus.where(!isNew), nodes(emb.where(isEval)),
        prior, "vec_id", "embedding", release = "r2")
    }),

    // MAINTAINED cross-tier nightly release — the full production close:
    // ONE release id drives the text tier's roll-forward (q140: signature
    // dedup, gram decontamination, frozen-classifier gate, novelty — all
    // against persisted prior-release stores) AND the vector tier's
    // MAINTAINED nightly (q186: verdict → conditional rebalance → index
    // append → graph merge → index-served eval drop list), with the q185
    // cross-tier gate at the end: a document ships only if the text tier
    // passed it AND its vector escaped the drop list. This mirrors the
    // reference's orchestrator, where one release id drives every
    // downstream artifact, now including index maintenance. Python oracle:
    // the q140 SQL chain (run in DuckDB — gate q189 together with q140 in
    // partial Verify runs) anti-joined with the q180 from-scratch drop
    // set. The final gate is a broadcast anti-join (the drop list is
    // eval-bounded).
    "q189_maintained_release" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      // text tier (exactly q140/q185's half, against prior-release stores)
      val isNewDoc = col("doc_id") % 10 >= 8
      val oldDocs = docs.where(!isNewDoc)
      fixtureBuildSec.remove("q189_maintained_release")
      val w = TextQueries.frozenWeights(s, dir, "q189_maintained_release")
      val manifest = graft.pipeline.ReleaseBuild.rollForward(
        docs.where(isNewDoc), "doc_id", "text", "source", docs,
        graft.pipeline.SignatureStore.signatures(oldDocs, "doc_id", "text"),
        graft.pipeline.GramStore.grams(oldDocs, "text"), w)
      // vector tier: the q186 healthy-night fixture, run through maintain
      val isEval = col("vec_id") % 50 === 0
      val corpus = emb.where(!isEval)
      val isNewVec = col("vec_id") % 10 >= 8
      def nodes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val (path, prior) =
        clonePriorNight(s, dir, 8, "q189_maintained_release")
      val night = graft.pipeline.VectorRelease.maintain(s, path,
        corpus.where(isNewVec), corpus.where(!isNewVec),
        nodes(emb.where(isEval)), prior, "vec_id", "embedding",
        release = "r2", kCoarse = 8, maxShareMilli = 300)
      val drops = night.where(col("dropped"))
        .select(col("src_id").as("doc_id")).distinct()
      manifest.join(broadcast(drops), Seq("doc_id"), "left_anti")
    }),

    // UNIFIED cross-tier TAKEDOWN (q189's operational mirror for the
    // right-to-be-forgotten path): ONE takedown id set (doc_id % 9 == 2,
    // q205's) lands in BOTH tiers between nights — the text tier realizes
    // it against the persisted signature/gram stores (q205's
    // takedownDocs: exact signature delete + two-pass gram-margin
    // restore), the vector tier as a q201 metadata delete the next
    // maintain night realizes (purge + scrubbed inputs + graph
    // scrub/repair, the q204 kernel) — and the following nightly release
    // then builds on the scrubbed state end to end: q140 text
    // roll-forward over the post-takedown stores, vector maintain with
    // the tombstones realized, and the q189 cross-tier gate at the end.
    // No taken-down document can reach the manifest through EITHER tier.
    // Python oracle: q205's SQL manifest (gate q206 together with
    // q205_doc_takedown in partial Verify runs) anti-joined with the
    // q204-style from-scratch union drop set restricted to the servable
    // (% 9 != 2) corpus.
    "q206_unified_takedown" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val isTomb = col("doc_id") % 9 === 2
      val isNewDoc = col("doc_id") % 10 >= 8
      val oldDocs = docs.where(!isNewDoc)
      // --- text tier: q205 verbatim — persisted prior-release stores
      // (fixture state), the takedown realized, then the roll-forward.
      // The prior-night stores build ONCE per JVM (deterministic appends)
      // and each pass works on a filesystem-copied private clone — the
      // q201 idiom, because the takedown MUTATES the stores; the clone
      // (and, for the first pass, the shared build) lands in
      // fixture_build so the bench attribution stays honest.
      fixtureBuildSec.remove("q206_unified_takedown")
      val root = timedFixture("q206_unified_takedown") {
        val shared = sharedFixtureRoot(dir, "utkd-prior") { r =>
          graft.pipeline.SignatureStore.append(s, s"$r/sigs", "r1",
            oldDocs, "doc_id", "text")
          graft.pipeline.GramStore.append(s, s"$r/grams", "r1",
            oldDocs, "text")
        }
        clonePath(s, shared)
      }
      val w = TextQueries.frozenWeights(s, dir, "q206_unified_takedown")
      graft.pipeline.ReleaseBuild.takedownDocs(s, s"$root/sigs",
        s"$root/grams", docs.where(isTomb).select(col("doc_id")),
        docs.where(!isTomb), "doc_id", "text")
      val manifest = graft.pipeline.ReleaseBuild.rollForwardOnDisk(s,
        docs.where(isNewDoc && !isTomb), "doc_id", "text", "source",
        docs.where(!isTomb), s"$root/sigs", s"$root/grams", "r2", w)
      // --- vector tier: the SAME takedown as a q201 metadata delete, then
      // the q204 takedown-aware maintain night on the shared prior fixture
      val isEval = col("vec_id") % 50 === 0
      val corpus = emb.where(!isEval)
      val isNewVec = col("vec_id") % 10 >= 8
      def nodes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val (path, prior) =
        clonePriorNight(s, dir, 8, "q206_unified_takedown")
      graft.pipeline.IndexStore.delete(s, path,
        emb.where(col("vec_id") % 9 === 2)
          .select(col("vec_id").as("cand_id")))
      val night = graft.pipeline.VectorRelease.maintain(s, path,
        corpus.where(isNewVec), corpus.where(!isNewVec),
        nodes(emb.where(isEval)), prior, "vec_id", "embedding",
        release = "r2", kCoarse = 8, maxShareMilli = 300)
      val drops = night.where(col("dropped"))
        .select(col("src_id").as("doc_id")).distinct()
      manifest.join(broadcast(drops), Seq("doc_id"), "left_anti")
    }),

    // Persisted-store INTEGRITY AUDIT (the nightly health check a 100 TB
    // store fleet runs after every release): one card row per
    // (tier, release) over ALL FIVE persisted surfaces — signatures,
    // grams, index codes, the int8 rerank tier, and the tombstone list —
    // row/id counts plus three invariants: cross_release_dup = ids stored
    // under MORE THAN ONE release partition (the gram store's
    // novel-margin layout stores each gram under exactly one release; a
    // vector's code row lives in exactly one release; the signature
    // fixture's slices are disjoint so the check applies there too),
    // orphan = stored ids absent from the universe the tier claims to
    // index, and missing = the coverage direction — universe ids the
    // store LOST (a dropped append), per release where coverage is
    // contractual (every retained doc signs in its release, every corpus
    // vector has a code row) and store-wide for grams. The int8 tier
    // audits against the CODE TABLE as its universe — a row-PARITY
    // invariant: a torn purge that rewrote codes but crashed before the
    // rerank tier shows as missing, the reverse as orphan. The tombstone
    // row carries the takedown backlog (zero here — the shared store is
    // read-only) and exercises the fail-closed list read. Any non-zero
    // invariant is a corrupted store. Each tier audits with one groupBy
    // over the store, one id-keyed dup check and one anti-join per
    // direction — store-sized, never corpus-text-sized. FULL SQL oracle:
    // expected counts derived independently from the raw tables (slice
    // arithmetic + the q132 shingle chain), invariants pinned to zero.
    "q207_store_audit" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val isNew = col("doc_id") % 10 >= 8
      fixtureBuildSec.remove("q207_store_audit")
      // the audited stores are READ-ONLY here — build them once per JVM
      // like every shared fixture (deterministic appends; the audit is
      // the operator under test, not the builds)
      val root = timedFixture("q207_store_audit") { auditStores(s, dir) }
      val idxPath = fullIndex(s, dir, "q207_store_audit")
      timedFixture("q207_store_audit") {
        // ensure the shared store carries its int8 tier regardless of
        // which serving query ran first this pass (memoized, idempotent)
        graft.pipeline.IndexStore.sharedRerank(s, idxPath,
          emb.select(col("vec_id").cast("long").as("cand_id"),
            col("embedding").cast("array<double>").as("cand_emb")))
      }
      val codes = graft.pipeline.IndexStore.readCodes(s, idxPath)
      // release-sliced universes where coverage is contractual per release
      val sigUniverse = docs.select(col("doc_id"),
        when(isNew, "r2").otherwise("r1").as("release"))
      val codeUniverse = emb.select(col("vec_id"), lit("r1").as("release"))
      graft.pipeline.StoreAudit.card("signatures",
          graft.pipeline.SignatureStore.read(s, s"$root/sigs"),
          "doc_id", sigUniverse)
        .unionByName(graft.pipeline.StoreAudit.card("grams",
          graft.pipeline.GramStore.read(s, s"$root/grams"),
          "gram_h", graft.pipeline.GramStore.grams(docs, "text")))
        .unionByName(graft.pipeline.StoreAudit.card("codes",
          codes, "cand_id", codeUniverse))
        .unionByName(graft.pipeline.StoreAudit.card("rerank_int8",
          graft.pipeline.IndexStore.readRerankCodes(s, idxPath),
          "cand_id", codes.select("cand_id", "release")))
        .unionByName(graft.pipeline.StoreAudit.tombstones(s, idxPath))
        .orderBy("tier", "release")
    }),

    // AUDIT-DRIVEN REPAIR (the q207 card's operational close): a store
    // whose int8 rerank tier was torn — here the fault injection drops
    // every r1 rerank partition, the state a purge crash or an operator
    // error leaves — is DETECTED by the code↔int8 parity card (missing =
    // the whole release), REPAIRED by IndexStore.repairRelease (drop the
    // torn release's partitions in both tiers, map-only re-append from
    // the release's source slice — partition-bounded, no retrain), and
    // re-audited to zero. Output = the parity card at both stages, so the
    // hash pins the detection counts AND the recovery. FULL SQL oracle:
    // the torn stage's missing count is the corpus size by construction,
    // the repaired stage is the healthy card. StoreRepairSpec pins the
    // repaired store ≡ a never-corrupted build, tier for tier.
    "q208_store_repair" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      fixtureBuildSec.remove("q208_store_repair")
      val src = fullIndex(s, dir, "q208_store_repair")
      val path = timedFixture("q208_store_repair") {
        // tier must exist on the SHARED store before cloning (memoized,
        // idempotent — same call q188/q207 make)
        graft.pipeline.IndexStore.sharedRerank(s, src,
          emb.select(col("vec_id").cast("long").as("cand_id"),
            col("embedding").cast("array<double>").as("cand_emb")))
        // a private clone: the tear and the repair MUTATE the store
        val dst = clonePath(s, src)
        // fault injection: drop every r1 partition of the rerank tier
        // only (codes survive — the exact one-tier-rewritten divergence)
        graft.pipeline.PartitionDirs.drop(s, s"$dst/rerank/codes",
          graft.pipeline.IndexStore.CodeCols, _.last != "r1")
        dst
      }
      def parity = graft.pipeline.StoreAudit.card("rerank_int8",
        graft.pipeline.IndexStore.readRerankCodes(s, path), "cand_id",
        graft.pipeline.IndexStore.readCodes(s, path)
          .select("cand_id", "release"))
      // pin the torn card before the repair rewrites the files its lazy
      // plan would re-list
      val detected = parity.withColumn("stage", lit("detected"))
        .localCheckpoint()
      graft.pipeline.IndexStore.repairRelease(s, path, emb,
        "vec_id", "embedding", "r1")
      detected.unionByName(parity.withColumn("stage", lit("repaired")))
        .orderBy("stage", "release")
    }),

    // TEXT-TIER AUDIT-DRIVEN REPAIR (q208's twin for the signature/gram
    // stores — round 12 could detect a torn text tier but not repair it):
    // the fault injection drops the signature store's WHOLE r1 partition
    // and the gram store's r2 partition (two tiers, two releases, the
    // lost-partition corruption class a crashed rewrite or an operator
    // error leaves). DETECTED by the q207 cards — signatures: r1's row
    // shows missing = every old doc; grams: the store-wide coverage row
    // loses exactly r2's novel margin (one release per gram, so r2's
    // grams live nowhere else). REPAIRED by ReleaseBuild.repairRelease
    // per named release: the signature partition rebuilds independently
    // from the release's retained slice (order-free, exact); the gram
    // partition's novel margin RE-DERIVES against the rest of the store
    // (GramStore.append's anti-join — later releases excluded this one's
    // grams at their own append time, so the margin reproduces
    // bit-for-bit). Re-audited to zero; output = both tiers' cards at
    // both stages, so the hash pins detection counts AND recovery. FULL
    // SQL oracle: slice arithmetic + the q132 shingle chain, both stages.
    // StoreRepairSpec pins repaired ≡ never-corrupted per text tier.
    "q209_text_store_repair" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val isNew = col("doc_id") % 10 >= 8
      fixtureBuildSec.remove("q209_text_store_repair")
      val root = timedFixture("q209_text_store_repair") {
        // a private clone of the shared q207 stores: tear + repair MUTATE
        val dst = clonePath(s, auditStores(s, dir))
        Seq(s"$dst/sigs" -> "r1", s"$dst/grams" -> "r2").foreach { case (p, r) =>
          require(graft.pipeline.PartitionDirs
            .vacuumReleases(s, p, _ != r).nonEmpty, s"tear failed: $p release $r")
        }
        dst
      }
      val sigUniverse = docs.select(col("doc_id"),
        when(isNew, "r2").otherwise("r1").as("release"))
      // the gram card's universe (the corpus gram set — a full shingle +
      // distinct pass) feeds BOTH the torn and the repaired card, which
      // run as SEPARATE actions around the repair — pin it once (cross-
      // action reuse; deterministic, so both cards see identical values)
      val uniGrams = graft.pipeline.GramStore.grams(docs, "text")
        .localCheckpoint()
      def cards = graft.pipeline.StoreAudit.card("signatures",
          graft.pipeline.SignatureStore.read(s, s"$root/sigs"),
          "doc_id", sigUniverse)
        .unionByName(graft.pipeline.StoreAudit.card("grams",
          graft.pipeline.GramStore.read(s, s"$root/grams"),
          "gram_h", uniGrams))
      // pin the torn cards before the repair rewrites the files their
      // lazy plans would re-list (the q208 idiom)
      val detected = cards.withColumn("stage", lit("detected"))
        .localCheckpoint()
      graft.pipeline.ReleaseBuild.repairRelease(s, s"$root/sigs",
        s"$root/grams", docs.where(!isNew), "doc_id", "text", "r1")
      graft.pipeline.ReleaseBuild.repairRelease(s, s"$root/sigs",
        s"$root/grams", docs.where(isNew), "doc_id", "text", "r2")
      s.catalog.refreshByPath(s"$root/sigs")
      s.catalog.refreshByPath(s"$root/grams")
      detected.unionByName(cards.withColumn("stage", lit("repaired")))
        .orderBy("stage", "tier", "release")
    }),

    // OPQ-rotated FROZEN index serving (q144's better quantizer finally
    // shipped in the q146 lifecycle): build trains the Householder
    // direction on the seed corpus, persists it as kilobyte metadata
    // beside the centroids/codebooks, and quantizes the ROTATED space;
    // the query path reflects queries and rerank vectors through the same
    // frozen w (pure map — the reflection is an isometry, so the exact
    // rerank is originals' dots up to fp rounding; the win is balanced
    // sub-quantizer variance in the ADC shortlist). Python oracle: the
    // q144 rotation sequence + the q145 IVFADC chain over the rotated
    // vectors. IndexStoreSpec pins store-served ≡ inline opqRotate +
    // ivfPqTopK and rotation survival/retrain across append/rebalance.
    "q187_opq_index_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = timedFixture("q187_opq_index_serve") {
        graft.pipeline.IndexStore.sharedBuild(s,
          s"$dir|embeddings|full-opq", emb, "vec_id", "embedding",
          dim = 64, kCoarse = 8, coarseIters = 4, m = 16, ksub = 8, iters = 3,
          release = "r1", opq = true)
      }
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      graft.pipeline.IndexStore.query(s, path, qd, fv,
        nProbe = 2, k = 5, shortlist = 100)
    }),

    // INT8-rerank frozen-index serving (the 100 TB scan-budget close): the
    // ADC shortlist comes from the code table as always, but the exact
    // rerank reads the store's OWN int8 tier — per-dim scalar-quantized
    // resident vectors partitioned by the same (cell, release) layout, so
    // BOTH scans partition-prune to the probed cells and the raw float64
    // corpus is never touched at query time (4x rerank-scan reduction; the
    // q184 audit bounds the recall delta of exactly this dequantized
    // ranking). Python oracle: the q145 chain with the rerank dots taken
    // against q82-spelling dequantized vectors.
    "q188_int8_index_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = fullIndex(s, dir, "q188_int8_index_serve")
      timedFixture("q188_int8_index_serve") {
        graft.pipeline.IndexStore.sharedRerank(s, path,
          emb.select(col("vec_id").cast("long").as("cand_id"),
            col("embedding").cast("array<double>").as("cand_emb")))
      }
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      graft.pipeline.IndexStore.serve(s, path, qd, ServeSpec(Int8),
        nProbe = 2, k = 5, shortlist = 100)
    }),

    // UNIFIED nightly index maintenance (the operational close of the
    // vector tier): ONE call runs q183's health verdict, q181's conditional
    // rebalance, and q180's append/graph/drop-list roll-forward, crash-safe
    // across the step boundary (VectorRelease.maintain). Exercised on BOTH
    // decision branches: a healthy kCoarse=8 prior store (verdict passes,
    // rebalance skipped) AND a degenerate kCoarse=2 one (verdict trips,
    // store retrained to the same kCoarse=8 target before the roll-forward,
    // the stale prior graph rebuilt under the healed model). Because the
    // rebalance retrains with exactly the q180 frozen-model params, BOTH
    // branches provably converge to the q180 from-scratch-union answer —
    // the Python oracle computes that answer once and expects it under both
    // store tags, with the branch pinned by the rebalanced flag (the
    // verdict arithmetic replayed oracle-side).
    "q186_index_maintain" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isEval = col("vec_id") % 50 === 0
      val corpus = emb.where(!isEval)
      val isNew = col("vec_id") % 10 >= 8
      def nodes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      fixtureBuildSec.remove("q186_index_maintain")
      def night(kc: Int, tag: String) = {
        // prior-night state (persisted in production): the shared fixture
        // at this night's coarse size — index + exact graph built on the
        // prior release under THIS store's own model; for the degenerate
        // store that graph is cell-pruned under the bad quantizer, and
        // maintain must discard it, not merge it. Both nights' clones (and
        // any first-caller shared builds) time into ONE attribution entry.
        val (path, prior) = clonePriorNight(s, dir, kc, "q186_index_maintain")
        graft.pipeline.VectorRelease.maintain(s, path, corpus.where(isNew),
          corpus.where(!isNew), nodes(emb.where(isEval)), prior,
          "vec_id", "embedding", release = "r2",
          kCoarse = 8, maxShareMilli = 300)
          .withColumn("store", lit(tag))
      }
      night(8, "healthy").unionByName(night(2, "degen"))
    }),

    // TAKEDOWN-AWARE nightly maintenance (q204): takedown requests land
    // between nights as q201 metadata deletes; the next maintain night
    // REALIZES them — purges the store's code + int8 partitions, scrubs
    // the night's vector inputs, scrubs the prior graph of tombstoned
    // endpoints and REPAIRS exactly the nodes that lost a neighbor (re-
    // scored against the servable corpus), so the merged graph stays
    // provably identical to a from-scratch build on the SERVABLE union.
    // Python oracle: the q180 union answer restricted to vec_id % 7 != 3,
    // with the verdict arithmetic replayed over the purged store.
    "q204_takedown_maintain" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isEval = col("vec_id") % 50 === 0
      val corpus = emb.where(!isEval)
      val isNew = col("vec_id") % 10 >= 8
      def nodes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      fixtureBuildSec.remove("q204_takedown_maintain")
      val (path, prior) =
        clonePriorNight(s, dir, 8, "q204_takedown_maintain")
      // the takedown arrives between nights: a metadata-only q201 delete
      graft.pipeline.IndexStore.delete(s, path,
        emb.where(col("vec_id") % 7 === 3)
          .select(col("vec_id").as("cand_id")))
      graft.pipeline.VectorRelease.maintain(s, path, corpus.where(isNew),
        corpus.where(!isNew), nodes(emb.where(isEval)), prior,
        "vec_id", "embedding", release = "r2",
        kCoarse = 8, maxShareMilli = 300)
    }),

    // Index REBALANCE (the fix for what q178 detects): the store is first
    // built with a deliberately degenerate coarse quantizer (kCoarse = 2 —
    // monster cells, the hot-partition/recall-loss failure mode), then
    // IndexStore.rebalance retrains coarse + codebooks at kCoarse = 8 on
    // the raw vectors, re-encodes the resident population map-only and
    // atomically swaps the new store in (write-next + marker + vacuum-old;
    // IndexStoreSpec pins crash recovery on both sides of the marker).
    // Serving afterwards answers EXACTLY like a fresh kCoarse = 8 build —
    // the oracle is q145's, shared verbatim like q146's.
    "q181_index_rebalance" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // the deliberately degenerate prior store is FIXTURE state (persisted
      // in production): built once per JVM, cloned here because the
      // rebalance mutates it — timed for the bench attribution
      fixtureBuildSec.remove("q181_index_rebalance")
      val path = timedFixture("q181_index_rebalance") {
        val root = sharedFixtureRoot(dir, "degen-full") { r =>
          graft.pipeline.IndexStore.build(s, s"$r/store", emb, "vec_id",
            "embedding", dim = 64, kCoarse = 2, coarseIters = 4, m = 16,
            ksub = 8, iters = 3, release = "r1")
        }
        cloneStore(s, root)
      }
      graft.pipeline.IndexStore.rebalance(s, path, emb, "vec_id",
        "embedding", kCoarse = 8, coarseIters = 4, pqIters = 3)
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      graft.pipeline.IndexStore.query(s, path, qd, fv,
        nProbe = 2, k = 5, shortlist = 100)
    }),

    // Recall-targeted serving DIAL (closing the q175 audit loop): audit the
    // frozen index's recall over the (nProbe, shortlist) grid against the
    // brute-force truth, then for each recall floor emit the CHEAPEST dial
    // meeting it (probe count dominates serve cost; unreachable floors fall
    // back to the best-recall combo flagged met=false). Python oracle
    // replays the served grid with the q145 machinery and the same argmin.
    "q182_recall_dial" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = fullIndex(s, dir, "q182_recall_dial")
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      graft.pipeline.IndexStore.recallDial(s, path, qd, fv, k = 5,
        grid = Seq((1, 10), (1, 100), (2, 10), (2, 100), (4, 10), (4, 100)),
        floors = Seq(500, 900, 990))
    }),

    // Index health VERDICT (the decide step between q178's detector and
    // q181's fix): one policy row per store — populated/empty cells,
    // extreme shares, needs_rebalance flag — evaluated on BOTH a healthy
    // kCoarse=8 store and a deliberately degenerate kCoarse=2 one, so
    // both decision branches are exercised and hash-pinned. Python oracle
    // extends the q178 Lloyd histogram with the same arithmetic.
    "q183_health_verdict" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val degen = timedFixture("q183_health_verdict") {
        graft.pipeline.IndexStore.sharedBuild(s,
          s"$dir|embeddings|full-kc2", emb, "vec_id", "embedding",
          dim = 64, kCoarse = 2, coarseIters = 4, m = 16, ksub = 8, iters = 3,
          release = "r1")
      }
      graft.pipeline.IndexStore.healthVerdict(s, fullIndex(s, dir, "q183_health_verdict"),
          kCoarse = 8, maxShareMilli = 300)
        .withColumn("store", lit("kc8"))
        .unionByName(
          graft.pipeline.IndexStore.healthVerdict(s, degen,
              kCoarse = 2, maxShareMilli = 300)
            .withColumn("store", lit("kc2")))
    }),

    // Int8-quantization recall audit: q82's 4x at-rest compression judged
    // by what serving actually cares about — per query, the top-5 against
    // DEQUANTIZED candidates vs the float ground truth (full SQL oracle:
    // the q82 encode + exact decode + two q48 dot chains + the q165 tail).
    "q184_int8_recall" -> ((s, dir) =>
      Similarity.int8RecallAudit(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 50 === 0, k = 5)),

    // Index health card: the frozen store's per-cell code population — a
    // degenerate coarse quantizer (empty or monster cells) shows up here
    // before it shows up as recall loss or a hot serving partition. One
    // cell-keyed count over the codes table; |cells| rows out.
    "q178_index_health" -> ((s, dir) => {
      val codes = graft.pipeline.IndexStore.readCodes(s, fullIndex(s, dir, "q178_index_health"))
      val tot = codes.agg(count(lit(1)).as("n_total"))
      codes.groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_codes"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_codes"),
          expr("div(n_codes * 1000, n_total)").as("share_milli"))
    }),

    // Frozen-index recall audit: IndexStore.query's top-5 measured against
    // the brute-force ground truth per query — q165's learned-quantizer
    // sibling, the recall/cost dial a serving team reads before trusting
    // the ADC shortlist. Python oracle: the q145 chain for the served side,
    // an exact rounded-dot ranking for the truth side, joined per query.
    "q175_index_recall" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isQ = col("vec_id") % 50 === 0
      val path = fullIndex(s, dir, "q175_index_recall")
      val qd = emb.where(isQ)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      val served = graft.pipeline.IndexStore.query(s, path, qd, fv,
          nProbe = 2, k = 5, shortlist = 100)
        .select(col("q_id"), col("cand_id"), lit(1L).as("__hit"))
      Similarity.bruteForceTopK(qd, fv, k = 5)
        .join(served, Seq("q_id", "cand_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k_true"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .select(col("q_id"), col("k_true"), col("n_hits"),
          expr("div(n_hits * 1000, k_true)").as("recall_milli"))
    }),

    // Per-dimension embedding profiler: dead dims / stuck values / range
    // drift — integer-micro quantized sums, 64 rows out at any scale.
    "q172_embedding_profile" -> ((s, dir) =>
      Similarity.embeddingProfile(Tables.load(s, dir, "embeddings"),
        "embedding")),

    // Per-vector L2-norm audit: unit-norm contract check, pure map.
    "q173_vector_norms" -> ((s, dir) =>
      Similarity.vectorNorms(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding")),

    // Embedding drift monitor (the vector twin of q135's token drift): per
    // label cell, cosine between the old slice's centroid and the new
    // slice's — distribution shift shows up as cells rotating off 1.0.
    "q169_embedding_drift" -> ((s, dir) =>
      Similarity.embeddingDrift(Tables.load(s, dir, "embeddings"),
        "embedding", "label", isNew = col("vec_id") % 10 >= 8)),

    // ANN recall audit: q72's IVF top-3 measured against q48's brute-force
    // ground truth, per query — the quality dial (nProbe/k) a serving team
    // reads before trusting the cell-pruned path. Both sides are the
    // verified operators; the audit is one edge-keyed left join.
    "q165_ann_recall" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isQ = col("vec_id") % 50 === 0
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
          isQ, k = 3)
        .select(col("q_id"), col("cand_id"), lit(1L).as("__hit"))
      val bf = Similarity.bruteForceTopK(
        emb.where(isQ).select(col("vec_id").as("q_id"),
          col("embedding").as("q_emb")),
        emb.select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb")),
        k = 3)
      bf.join(ivf, Seq("q_id", "cand_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k_true"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .select(col("q_id"), col("k_true"), col("n_hits"),
          expr("div(n_hits * 1000, k_true)").as("recall_milli"))
    }),

    // Corpus-wide mutual-kNN graph: every vector's top-3 neighbors inside
    // its 2 probed IVF cells, edges flagged mutual when reciprocated — the
    // substrate for graph-based curation. q72 with the query side = the
    // whole corpus (assignment NOT broadcast).
    "q163_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 3)),

    // Embedding-cosine near-duplicate pairs, exact within label blocks
    // (the LSH-blocked variant is q49; this is the verifiable exact core)
    "q75_cosine_neardup" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val a = emb.select(col("label"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val b = emb.select(col("label"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      a.join(b, Seq("label"))
        .where(col("a_id") < col("b_id"))
        .withColumn("cosine", round(Similarity.dot(col("a_emb"), col("b_emb")), 3))
        .where(col("cosine") >= 0.9)
        .select("a_id", "b_id", "cosine")
    }),

    // Distributed Lloyd's k-means (the trainer for q72's coarse quantizer):
    // deterministic init (k smallest ids), map-only assignment against
    // broadcast centroid literals, integer-accumulated centroid update so
    // the result is bit-identical under any partitioning. Python oracle
    // replicates the identical IEEE operation sequence.
    "q109_kmeans" -> ((s, dir) =>
      Similarity.kMeans(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 4)),

    // SemDeDup (Abbas et al. 2023): k-means-confined semantic dedup — exact
    // cosine pairs only WITHIN each cluster, drop the higher id. Same
    // centroids/assignment as q109, so the Python oracle replicates the
    // identical operation sequence end to end.
    "q113_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 4, threshold = 0.35)),

    // Int8 scalar quantization of the embedding store (4x compression),
    // serialized as a JSON int array for the driver compare.
    "q82_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .withColumn("q8", to_json(col("q8")))),

    // Incremental IVF index maintenance (the vector twin of the signature
    // store): the new release's embeddings (ids ≡ 8,9 mod 10) are assigned
    // to their nearest cell using ONLY the prior release's persisted
    // (cell, centroid) table — old vectors are never re-read. Map-only:
    // broadcast centroids + one per-vector rank.
    "q124_incremental_ann" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isNew = col("vec_id") % 10 >= 8
      Similarity.ivfAssign(emb.where(isNew), "vec_id", "embedding",
        Similarity.cellCentroids(emb.where(!isNew), "embedding", "label"))
    }),

    // Product-quantization ANN (Jégou et al. 2011): 16 subspaces ×
    // 8-centroid deterministic sub-k-means codebooks compress each vector
    // to 16 codes; integer-quantized ADC lookups score every candidate from
    // codes alone into a top-100 shortlist, then an exact rounded-dot
    // rerank picks the final top-5 (the standard IVF-PQ serving shape —
    // measured shortlist recall 0.96 on this worst-case near-random
    // fixture). No SQL oracle (the sub-k-means is the same IEEE sequence
    // as q109) — the Python oracle replicates training, encoding, ADC and
    // rerank end to end; q48/q72 are the driver-green twins for the
    // broadcast-queries + bounded-top-k shape.
    "q125_pq_ann" -> ((s, dir) =>
      Similarity.pqTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 50 === 0,
        dim = 64, m = 16, ksub = 8, iters = 3, k = 5, shortlist = 100)),

    // IVFADC (the FAISS-style billion-scale index, Jégou 2011 §IV): coarse
    // k-means routes vectors to cells, PQ codes live on the residuals, a
    // query probes its 2 nearest cells and ADC-scores only their members
    // (cell-keyed equi-join — the pruning q125's flat ADC lacks), then
    // exact-reranks. Python-oracled by composing the q109 Lloyd's and q125
    // PQ kernels with residual/probe steps replayed in the same IEEE order.
    "q145_ivfpq_ann" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 50 === 0,
        dim = 64, kCoarse = 8, coarseIters = 4, nProbe = 2,
        m = 16, ksub = 8, iters = 3, k = 5, shortlist = 100)),

    // Persisted-index serving (q145's index with the RIGHT lifecycle): build
    // writes the trained IVFADC index to disk — coarse centroids + residual
    // codebooks as kilobyte metadata, codes parquet-partitioned by
    // (cell, release) — then the query path loads ONLY the frozen metadata,
    // probes, prunes the code scan to the probed cells' directories (a
    // literal partition filter), ADC-scores and exact-reranks: ZERO training
    // jobs at query time. Same Python oracle as q145 — the frozen-index
    // answer equals the in-job answer by construction (both run ivfPqServe
    // on the same encode output; IndexStoreSpec pins disk round-trip,
    // rebuild idempotence and append ≡ frozen-encode).
    "q146_index_serve" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val path = fullIndex(s, dir, "q146_index_serve")
      val qd = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cand_emb"))
      graft.pipeline.IndexStore.query(s, path, qd, fv,
        nProbe = 2, k = 5, shortlist = 100)
    }),

    // OPQ-lite end to end: q136's power-iteration component reflects every
    // embedding onto the balanced direction (Householder, pure map), then
    // the q125 PQ pipeline runs over the rotated space. The reflection is
    // an isometry, so exact search is unchanged; what the rotation buys is
    // sub-quantizer variance balance (PQSpec pins the distortion win).
    // Python-oracled: q136's quantized power sequence + index-order
    // reflection + q125's Lloyd/ADC/rerank over the rotated vectors.
    "q144_opq_ann" -> ((s, dir) => {
      val rot = Similarity.opqRotate(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, iters = 3)
      Similarity.pqTopK(rot, "vec_id", "emb_rot", col("vec_id") % 50 === 0,
        dim = 64, m = 16, ksub = 8, iters = 3, k = 5, shortlist = 100)
    }),

    // Incremental PQ index maintenance (completes the incremental family:
    // q120/q121 signatures, q123 clusters, q124 IVF cells, q127 PQ codes):
    // codebooks train on the prior release only; the new release's vectors
    // are encoded against those frozen codebooks map-only — old vectors are
    // never re-read, and the codebooks ride as literal broadcast state
    // exactly like q124's centroid table. Python-oracled (same Lloyd
    // sequence as q125); codes serialized via to_json for the compare.
    "q127_incremental_pq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isNew = col("vec_id") % 10 >= 8
      val cb = Similarity.pqCodebooks(emb.where(!isNew), "vec_id",
        "embedding", dim = 64, m = 16, ksub = 8, iters = 3)
      Similarity.pqEncode(emb.where(isNew), "vec_id", "embedding",
          dim = 64, cb)
        .select(col("vec_id"), to_json(col("codes")).as("codes"))
    }),

    // Hard-negative mining (dense-retrieval batch construction): per query
    // vector, the top-3 most similar candidates of a DIFFERENT label —
    // near-but-wrong examples. Same broadcast + bounded-top-k plan as q48;
    // the label constraint rides in the join condition.
    "q130_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", col("vec_id") % 50 === 0, k = 3)),

    // Top principal component by deterministic power iteration (the OPQ-style
    // rotation prep): per-vector centered projections, micro-quantized.
    // Python-oracled (index-order IEEE replication, the q109 pattern).
    "q136_top_component" -> ((s, dir) =>
      Similarity.topComponentProjections(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, iters = 3)),

    // The EVAL-side contamination report (q152's other view): one row per
    // eval vector — how many corpus vectors sit at cosine >= 0.3 in its
    // probed cells, and its worst offender. Zero-match evals report 0 with
    // a null offender, so the eval owner sees the full set.
    "q157_contamination_report" -> ((s, dir) =>
      Similarity.contaminationReport(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", col("vec_id") % 50 === 0,
        threshold = 0.3, nProbe = 2)),

    // Decontamination served FROM the persisted IVFADC index (the 100 TB
    // shape of q152 — the corpus is never scanned): the index builds on the
    // corpus side only, each eval vector probes 2 cells, ADC-scores their
    // persisted codes (partition-pruned), exact-reranks its shortlist, and
    // candidates at cosine >= 0.3 join the drop list with their best eval
    // match. Python-oracled (corpus-only Lloyd's + ADC + rerank + flip).
    "q156_index_decontaminate" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isEval = col("vec_id") % 50 === 0
      val path = timedFixture("q156_index_decontaminate") {
        graft.pipeline.IndexStore.sharedBuild(s,
          s"$dir|embeddings|noneval50", emb.where(!isEval), "vec_id",
          "embedding", dim = 64, kCoarse = 8, coarseIters = 4, m = 16,
          ksub = 8, iters = 3, release = "r1")
      }
      val evals = emb.where(isEval)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      val fv = emb.where(!isEval)
        .select(col("vec_id").cast("long").as("cand_id"),
          col("embedding").cast("array<double>").as("cand_emb"))
      graft.pipeline.IndexStore.decontaminate(s, path, evals, fv,
        nProbe = 2, shortlist = 100, threshold = 0.3)
    }),

    // Int8-served decontamination: exactly q156's chain, but the exact
    // rerank reads the store's int8 tier (dequantized per the frozen
    // per-dim stats over the residents) instead of the raw float corpus —
    // the q188 move applied to the drop-list path
    // (IndexStore.serve with the Int8 rerank). At 100 TB this removes the
    // decontamination job's dominant scan: the raw-vector side. The tier
    // is additive, so it piggybacks on q156's shared store.
    "q190_int8_decontaminate" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val isEval = col("vec_id") % 50 === 0
      val path = timedFixture("q190_int8_decontaminate") {
        val p = graft.pipeline.IndexStore.sharedBuild(s,
          s"$dir|embeddings|noneval50", emb.where(!isEval), "vec_id",
          "embedding", dim = 64, kCoarse = 8, coarseIters = 4, m = 16,
          ksub = 8, iters = 3, release = "r1")
        graft.pipeline.IndexStore.sharedRerank(s, p,
          emb.where(!isEval).select(col("vec_id").cast("long").as("cand_id"),
            col("embedding").cast("array<double>").as("cand_emb")))
        p
      }
      val evals = emb.where(isEval)
        .select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("q_emb"))
      Similarity.dropListFromMatches(graft.pipeline.IndexStore.serve(s, path,
        evals, ServeSpec(Int8), nProbe = 2, k = 100, shortlist = 100),
        threshold = 0.3)
    }),

    // Embedding-space eval-set decontamination: eval = vec_id % 50 == 0,
    // corpus = the rest; a corpus vector is dropped when its cosine with any
    // eval vector reaches 0.3, searched only inside the eval vectors'
    // 2-probed IVF cells (label-cell centroids from the CORPUS side, q72's
    // coarse quantizer). Output = the drop list with each vector's best eval
    // match. The vector twin of q77/q114's n-gram decontamination.
    "q152_embed_decontaminate" -> ((s, dir) =>
      Similarity.ivfDecontaminate(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", col("vec_id") % 50 === 0,
        threshold = 0.3, nProbe = 2))
  )

  /** q203's oracle: the q48 brute-force spelling once at full dim (truth)
    * and once per truncation (`q.i <= d` on the unnested join — DuckDB's
    * subscripts are 1-based like Spark's slice), reduced to the same
    * integer recall card. */
  private def truncatedOracleSql(dims: Seq[Int]): String = {
    def dots(extra: String) =
      s"""  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
         |    FROM (
         |      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |             round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS score
         |      FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> q.vec_id$extra
         |      WHERE q.vec_id % 50 = 0
         |      GROUP BY 1, 2)
         |  ) WHERE rn <= 5""".stripMargin
    val sb = new StringBuilder
    sb.append(
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |truth AS (
        |""".stripMargin)
    sb.append(dots(""))
    sb.append("\n)")
    dims.foreach { d =>
      sb.append(s""",
        |served$d AS (
        |""".stripMargin)
      sb.append(dots(s" AND q.i <= $d"))
      sb.append(s"""
        |),
        |card$d AS (
        |  SELECT CAST($d AS BIGINT) AS trunc_dim, CAST(COUNT(*) AS BIGINT) AS n_true,
        |         CAST(COALESCE(SUM(CASE WHEN s.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
        |  FROM truth t LEFT JOIN served$d s ON s.q_id = t.q_id AND s.cand_id = t.cand_id
        |)""".stripMargin)
    }
    sb.append("\nSELECT trunc_dim, n_true, n_hits, (n_hits * 1000) // n_true AS recall_milli\nFROM (")
    sb.append(dims.map(d => s"SELECT * FROM card$d").mkString(" UNION ALL "))
    sb.append(")")
    sb.toString
  }

  def oracles: Map[String, String] = Map(
    "q203_truncated_serve" -> truncatedOracleSql(Seq(16, 32, 64)),
    // the torn stage loses exactly the corpus-sized release from the int8
    // tier (missing = every code row's parity twin), the repaired stage
    // is the healthy card — both derivable from the raw table alone
    "q208_store_repair" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM embeddings)
        |SELECT 'rerank_int8' AS tier, 'r1' AS release,
        |       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_ids,
        |       CAST(0 AS BIGINT) AS cross_release_dup,
        |       CAST(0 AS BIGINT) AS orphan, c AS missing,
        |       'detected' AS stage
        |FROM n
        |UNION ALL
        |SELECT 'rerank_int8', 'r1', c, c, CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'repaired'
        |FROM n
        |ORDER BY stage, release""".stripMargin,
    // the torn stage loses the sig store's whole r1 partition (missing =
    // every old doc, flagged on r1's row) and the gram store's r2
    // partition (missing = exactly r2's novel margin, on the store-wide
    // coverage row — one release per gram, so those grams live nowhere
    // else and r2 vanishes from the card entirely); the repaired stage is
    // the healthy q207 card for both text tiers. All counts derivable
    // from the documents table alone: slice arithmetic + the q132
    // shingle chain.
    "q209_text_store_repair" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |         ELSE [array_to_string(t[i:i+7], ' ') FOR i IN generate_series(1, len(t) - 7)]
        |    END)) AS gram
        |  FROM toks
        |),
        |oldg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 < 8),
        |newg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 >= 8),
        |novel2 AS (SELECT gram FROM newg ANTI JOIN oldg USING (gram)),
        |no AS (SELECT COUNT(*) AS c FROM documents WHERE doc_id % 10 < 8),
        |nn AS (SELECT COUNT(*) AS c FROM documents WHERE doc_id % 10 >= 8),
        |go AS (SELECT COUNT(*) AS c FROM oldg),
        |g2 AS (SELECT COUNT(*) AS c FROM novel2),
        |card AS (
        |  SELECT 'grams' AS tier, '(store)' AS release, 0 AS n_rows, 0 AS n_ids,
        |         (SELECT c FROM g2) AS missing, 'detected' AS stage
        |  UNION ALL
        |  SELECT 'grams', 'r1', (SELECT c FROM go), (SELECT c FROM go), 0, 'detected'
        |  UNION ALL
        |  SELECT 'signatures', 'r1', 0, 0, (SELECT c FROM no), 'detected'
        |  UNION ALL
        |  SELECT 'signatures', 'r2', (SELECT c FROM nn), (SELECT c FROM nn), 0, 'detected'
        |  UNION ALL
        |  SELECT 'grams', '(store)', 0, 0, 0, 'repaired'
        |  UNION ALL
        |  SELECT 'grams', 'r1', (SELECT c FROM go), (SELECT c FROM go), 0, 'repaired'
        |  UNION ALL
        |  SELECT 'grams', 'r2', (SELECT c FROM g2), (SELECT c FROM g2), 0, 'repaired'
        |  UNION ALL
        |  SELECT 'signatures', 'r1', (SELECT c FROM no), (SELECT c FROM no), 0, 'repaired'
        |  UNION ALL
        |  SELECT 'signatures', 'r2', (SELECT c FROM nn), (SELECT c FROM nn), 0, 'repaired'
        |)
        |SELECT tier, release, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_ids AS BIGINT) AS n_ids,
        |       CAST(0 AS BIGINT) AS cross_release_dup,
        |       CAST(0 AS BIGINT) AS orphan,
        |       CAST(missing AS BIGINT) AS missing, stage
        |FROM card ORDER BY stage, tier, release""".stripMargin,
    // expected per-(tier, release) counts derived from the raw tables:
    // slice arithmetic for signatures/codes/rerank, the q132 shingle
    // chain for the gram store's novel margins; all three invariants
    // pinned to zero, the gram tier's store-wide coverage row and the
    // (empty) tombstone backlog row included
    "q207_store_audit" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |         ELSE [array_to_string(t[i:i+7], ' ') FOR i IN generate_series(1, len(t) - 7)]
        |    END)) AS gram
        |  FROM toks
        |),
        |oldg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 < 8),
        |newg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 >= 8),
        |novel2 AS (SELECT gram FROM newg ANTI JOIN oldg USING (gram)),
        |card AS (
        |  SELECT 'signatures' AS tier, 'r1' AS release,
        |         (SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 8) AS n_rows,
        |         (SELECT COUNT(DISTINCT doc_id) FROM documents WHERE doc_id % 10 < 8) AS n_ids
        |  UNION ALL
        |  SELECT 'signatures', 'r2',
        |         (SELECT COUNT(*) FROM documents WHERE doc_id % 10 >= 8),
        |         (SELECT COUNT(DISTINCT doc_id) FROM documents WHERE doc_id % 10 >= 8)
        |  UNION ALL
        |  SELECT 'grams', '(store)', 0, 0
        |  UNION ALL
        |  SELECT 'grams', 'r1',
        |         (SELECT COUNT(*) FROM oldg), (SELECT COUNT(*) FROM oldg)
        |  UNION ALL
        |  SELECT 'grams', 'r2',
        |         (SELECT COUNT(*) FROM novel2), (SELECT COUNT(*) FROM novel2)
        |  UNION ALL
        |  SELECT 'codes', 'r1',
        |         (SELECT COUNT(*) FROM embeddings),
        |         (SELECT COUNT(DISTINCT vec_id) FROM embeddings)
        |  UNION ALL
        |  SELECT 'rerank_int8', 'r1',
        |         (SELECT COUNT(*) FROM embeddings),
        |         (SELECT COUNT(DISTINCT vec_id) FROM embeddings)
        |  UNION ALL
        |  SELECT 'tombstones', '(store)', 0, 0
        |)
        |SELECT tier, release, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_ids AS BIGINT) AS n_ids,
        |       CAST(0 AS BIGINT) AS cross_release_dup,
        |       CAST(0 AS BIGINT) AS orphan,
        |       CAST(0 AS BIGINT) AS missing
        |FROM card ORDER BY tier, release""".stripMargin,
    // q82's encode + the exact decode (lo + q·(hi−lo)/255, identical IEEE
    // spelling to the Spark expression) + two q48 dot chains + q165's tail
    "q184_int8_recall" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |stats AS (SELECT i, min(v) AS lo, max(v) AS hi FROM ex GROUP BY i),
        |dq AS (
        |  SELECT vec_id, ex.i,
        |         lo + CAST(CASE WHEN hi = lo THEN 0
        |              ELSE CAST(round((v - lo) / ((hi - lo) / 255.0)) AS BIGINT)
        |              END AS DOUBLE) * ((hi - lo) / 255.0) AS dv
        |  FROM ex JOIN stats ON ex.i = stats.i
        |),
        |tdots AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |         round(SUM(q.v * c.v), 3) AS score
        |  FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0
        |  GROUP BY 1, 2
        |),
        |truth AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM tdots
        |  ) WHERE rn <= 5
        |),
        |idots AS (
        |  SELECT q.vec_id AS q_id, d.vec_id AS cand_id,
        |         round(SUM(q.v * d.dv), 3) AS score
        |  FROM ex q JOIN dq d ON q.i = d.i AND d.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0
        |  GROUP BY 1, 2
        |),
        |i8 AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM idots
        |  ) WHERE rn <= 5
        |)
        |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k_true,
        |       CAST(SUM(CASE WHEN s.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |       (CAST(SUM(CASE WHEN s.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |         // CAST(COUNT(*) AS BIGINT) AS recall_milli
        |FROM truth t LEFT JOIN i8 s ON s.q_id = t.q_id AND s.cand_id = t.cand_id
        |GROUP BY 1""".stripMargin,
    "q124_incremental_ann" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |cent AS (
        |  SELECT label AS cell, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
        |  FROM ex WHERE vec_id % 10 < 8 GROUP BY 1, 2
        |),
        |qx AS (SELECT vec_id, v, i FROM ex WHERE vec_id % 10 >= 8),
        |ascore AS (
        |  SELECT qx.vec_id, cent.cell,
        |         round(SUM(CAST(qx.v AS DOUBLE) * cent.c), 3) AS cscore
        |  FROM qx JOIN cent ON qx.i = cent.i GROUP BY 1, 2
        |)
        |SELECT vec_id, cell, cscore FROM (
        |  SELECT vec_id, cell, cscore,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) AS rn
        |  FROM ascore
        |) WHERE rn = 1""".stripMargin,

    "q82_quantize_int8" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |stats AS (SELECT i, min(v) AS lo, max(v) AS hi FROM ex GROUP BY i),
        |q AS (
        |  SELECT vec_id, ex.i,
        |         CASE WHEN hi = lo THEN 0
        |              ELSE CAST(round((v - lo) / ((hi - lo) / 255.0)) AS BIGINT) END AS q
        |  FROM ex JOIN stats ON ex.i = stats.i
        |)
        |SELECT vec_id,
        |       '[' || string_agg(CAST(q AS VARCHAR), ',' ORDER BY i) || ']' AS q8
        |FROM q GROUP BY vec_id""".stripMargin,

    "q48_cosine_topk" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |dots AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |         round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS score
        |  FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT q_id, cand_id, score FROM (
        |  SELECT q_id, cand_id, score,
        |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |  FROM dots
        |) WHERE rn <= 5""".stripMargin,

    "q130_hard_negatives" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |dots AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |         round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS score
        |  FROM ex q JOIN ex c
        |    ON q.i = c.i AND c.vec_id <> q.vec_id AND c.label <> q.label
        |  WHERE q.vec_id % 50 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT q_id, cand_id, score FROM (
        |  SELECT q_id, cand_id, score,
        |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |  FROM dots
        |) WHERE rn <= 3""".stripMargin,

    "q72_ivf_ann" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |cent AS (
        |  SELECT label, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
        |  FROM ex GROUP BY 1, 2
        |),
        |qx AS (SELECT vec_id AS q_id, v, i FROM ex WHERE vec_id % 50 = 0),
        |ascore AS (
        |  SELECT qx.q_id, cent.label, round(SUM(CAST(qx.v AS DOUBLE) * cent.c), 3) AS cscore
        |  FROM qx JOIN cent ON qx.i = cent.i GROUP BY 1, 2
        |),
        |assign AS (
        |  SELECT q_id, label FROM (
        |    SELECT q_id, label,
        |           row_number() OVER (PARTITION BY q_id ORDER BY cscore DESC, label) AS rn
        |    FROM ascore
        |  ) WHERE rn <= 2
        |),
        |pairs AS (
        |  SELECT a.q_id, e.vec_id AS cand_id
        |  FROM assign a JOIN embeddings e ON e.label = a.label AND e.vec_id <> a.q_id
        |),
        |scores AS (
        |  SELECT p.q_id, p.cand_id,
        |         round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) AS score
        |  FROM pairs p
        |  JOIN ex qe ON qe.vec_id = p.q_id
        |  JOIN ex ce ON ce.vec_id = p.cand_id AND ce.i = qe.i
        |  GROUP BY 1, 2
        |)
        |SELECT q_id, cand_id, score FROM (
        |  SELECT q_id, cand_id, score,
        |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |  FROM scores
        |) WHERE rn <= 3""".stripMargin,

    "q172_embedding_profile" ->
      """WITH ex AS (
        |  SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings
        |),
        |q AS (SELECT CAST(i AS BIGINT) AS i,
        |             CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
        |      FROM ex)
        |SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(q) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_micro,
        |       MIN(q) AS min_micro, MAX(q) AS max_micro,
        |       CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM q GROUP BY i""".stripMargin,

    "q173_vector_norms" ->
      """WITH n AS (
        |  SELECT vec_id,
        |         round(sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
        |  FROM embeddings
        |)
        |SELECT vec_id, norm,
        |       CAST(floor(norm * 1000) AS BIGINT) AS norm_milli,
        |       abs(CAST(floor(norm * 1000) AS BIGINT) - 1000) <= 100 AS ok
        |FROM n""".stripMargin,

    // conditional per-dim centroid averages (4 dp), then the 64-term cosine
    // (3 dp) per cell — same rounding discipline as the q72 cent chain.
    "q169_embedding_drift" ->
      """WITH ex AS (
        |  SELECT vec_id, label, vec_id % 10 >= 8 AS isnew,
        |         unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |cent AS (
        |  SELECT label AS cell, i,
        |         round(avg(CASE WHEN NOT isnew THEN CAST(v AS DOUBLE) END), 4) AS co,
        |         round(avg(CASE WHEN isnew THEN CAST(v AS DOUBLE) END), 4) AS cn,
        |         CAST(SUM(CASE WHEN NOT isnew THEN 1 ELSE 0 END) AS BIGINT) AS no,
        |         CAST(SUM(CASE WHEN isnew THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM ex GROUP BY 1, 2
        |)
        |SELECT cell, MAX(no) AS n_old, MAX(nn) AS n_new,
        |       round(SUM(co * cn) / (sqrt(SUM(co * co)) * sqrt(SUM(cn * cn))), 3)
        |         AS centroid_cos
        |FROM cent GROUP BY cell""".stripMargin,

    // q48's brute-force chain (k=3) and q72's IVF chain composed, joined on
    // the (q_id, cand_id) edge.
    "q165_ann_recall" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |bdots AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |         round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS score
        |  FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id % 50 = 0
        |  GROUP BY 1, 2
        |),
        |bf AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM bdots
        |  ) WHERE rn <= 3
        |),
        |cent AS (
        |  SELECT label, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
        |  FROM ex GROUP BY 1, 2
        |),
        |qx AS (SELECT vec_id AS q_id, v, i FROM ex WHERE vec_id % 50 = 0),
        |ascore AS (
        |  SELECT qx.q_id, cent.label, round(SUM(CAST(qx.v AS DOUBLE) * cent.c), 3) AS cscore
        |  FROM qx JOIN cent ON qx.i = cent.i GROUP BY 1, 2
        |),
        |assign AS (
        |  SELECT q_id, label FROM (
        |    SELECT q_id, label,
        |           row_number() OVER (PARTITION BY q_id ORDER BY cscore DESC, label) AS rn
        |    FROM ascore
        |  ) WHERE rn <= 2
        |),
        |ipairs AS (
        |  SELECT a.q_id, e.vec_id AS cand_id
        |  FROM assign a JOIN embeddings e ON e.label = a.label AND e.vec_id <> a.q_id
        |),
        |iscores AS (
        |  SELECT p.q_id, p.cand_id,
        |         round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) AS score
        |  FROM ipairs p
        |  JOIN ex qe ON qe.vec_id = p.q_id
        |  JOIN ex ce ON ce.vec_id = p.cand_id AND ce.i = qe.i
        |  GROUP BY 1, 2
        |),
        |ivf AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
        |    FROM iscores
        |  ) WHERE rn <= 3
        |)
        |SELECT b.q_id, CAST(COUNT(*) AS BIGINT) AS k_true,
        |       CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |       (CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |         // CAST(COUNT(*) AS BIGINT) AS recall_milli
        |FROM bf b LEFT JOIN ivf i ON i.q_id = b.q_id AND i.cand_id = b.cand_id
        |GROUP BY 1""".stripMargin,

    // q72's probe/rerank chain with the query side widened to every vector,
    // plus the reciprocal-edge left join for the mutual flag.
    "q163_knn_graph" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |cent AS (
        |  SELECT label, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
        |  FROM ex GROUP BY 1, 2
        |),
        |ascore AS (
        |  SELECT ex.vec_id AS src_id, cent.label, round(SUM(CAST(ex.v AS DOUBLE) * cent.c), 3) AS cscore
        |  FROM ex JOIN cent ON ex.i = cent.i GROUP BY 1, 2
        |),
        |assign AS (
        |  SELECT src_id, label FROM (
        |    SELECT src_id, label,
        |           row_number() OVER (PARTITION BY src_id ORDER BY cscore DESC, label) AS rn
        |    FROM ascore
        |  ) WHERE rn <= 2
        |),
        |pairs AS (
        |  SELECT a.src_id, e.vec_id AS dst_id
        |  FROM assign a JOIN embeddings e ON e.label = a.label AND e.vec_id <> a.src_id
        |),
        |scores AS (
        |  SELECT p.src_id, p.dst_id,
        |         round(SUM(CAST(se.v AS DOUBLE) * CAST(de.v AS DOUBLE)), 3) AS score
        |  FROM pairs p
        |  JOIN ex se ON se.vec_id = p.src_id
        |  JOIN ex de ON de.vec_id = p.dst_id AND de.i = se.i
        |  GROUP BY 1, 2
        |),
        |edges AS (
        |  SELECT src_id, dst_id, score, CAST(rn AS BIGINT) AS rank FROM (
        |    SELECT src_id, dst_id, score,
        |           row_number() OVER (PARTITION BY src_id ORDER BY score DESC, dst_id) AS rn
        |    FROM scores
        |  ) WHERE rn <= 3
        |)
        |SELECT e.src_id, e.dst_id, e.score, e.rank,
        |       r.src_id IS NOT NULL AS mutual
        |FROM edges e
        |LEFT JOIN edges r ON r.src_id = e.dst_id AND r.dst_id = e.src_id""".stripMargin,

    "q152_embed_decontaminate" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |cent AS (
        |  SELECT label, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
        |  FROM ex WHERE vec_id % 50 <> 0 GROUP BY 1, 2
        |),
        |qx AS (SELECT vec_id AS eval_id, v, i FROM ex WHERE vec_id % 50 = 0),
        |ascore AS (
        |  SELECT qx.eval_id, cent.label, round(SUM(CAST(qx.v AS DOUBLE) * cent.c), 3) AS cscore
        |  FROM qx JOIN cent ON qx.i = cent.i GROUP BY 1, 2
        |),
        |assign AS (
        |  SELECT eval_id, label FROM (
        |    SELECT eval_id, label,
        |           row_number() OVER (PARTITION BY eval_id ORDER BY cscore DESC, label) AS rn
        |    FROM ascore
        |  ) WHERE rn <= 2
        |),
        |pairs AS (
        |  SELECT a.eval_id, e.vec_id
        |  FROM assign a JOIN embeddings e ON e.label = a.label AND e.vec_id % 50 <> 0
        |),
        |scores AS (
        |  SELECT p.vec_id, p.eval_id,
        |         round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) AS cosine
        |  FROM pairs p
        |  JOIN ex qe ON qe.vec_id = p.eval_id
        |  JOIN ex ce ON ce.vec_id = p.vec_id AND ce.i = qe.i
        |  GROUP BY 1, 2
        |  HAVING round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) >= 0.3
        |)
        |SELECT vec_id, eval_id, cosine FROM (
        |  SELECT vec_id, eval_id, cosine,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rn
        |  FROM scores
        |) WHERE rn = 1""".stripMargin,

    "q157_contamination_report" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |),
        |cent AS (
        |  SELECT label, i, round(avg(CAST(v AS DOUBLE)), 4) AS c
        |  FROM ex WHERE vec_id % 50 <> 0 GROUP BY 1, 2
        |),
        |qx AS (SELECT vec_id AS eval_id, v, i FROM ex WHERE vec_id % 50 = 0),
        |ascore AS (
        |  SELECT qx.eval_id, cent.label, round(SUM(CAST(qx.v AS DOUBLE) * cent.c), 3) AS cscore
        |  FROM qx JOIN cent ON qx.i = cent.i GROUP BY 1, 2
        |),
        |assign AS (
        |  SELECT eval_id, label FROM (
        |    SELECT eval_id, label,
        |           row_number() OVER (PARTITION BY eval_id ORDER BY cscore DESC, label) AS rn
        |    FROM ascore
        |  ) WHERE rn <= 2
        |),
        |pairs AS (
        |  SELECT a.eval_id, e.vec_id
        |  FROM assign a JOIN embeddings e ON e.label = a.label AND e.vec_id % 50 <> 0
        |),
        |scores AS (
        |  SELECT p.vec_id, p.eval_id,
        |         round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) AS cosine
        |  FROM pairs p
        |  JOIN ex qe ON qe.vec_id = p.eval_id
        |  JOIN ex ce ON ce.vec_id = p.vec_id AND ce.i = qe.i
        |  GROUP BY 1, 2
        |  HAVING round(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE)), 3) >= 0.3
        |),
        |r AS (
        |  SELECT eval_id, vec_id, cosine,
        |         CAST(COUNT(*) OVER (PARTITION BY eval_id) AS BIGINT) AS n_contaminated,
        |         row_number() OVER (PARTITION BY eval_id ORDER BY cosine DESC, vec_id) AS rn
        |  FROM scores
        |),
        |ev AS (SELECT vec_id AS eval_id FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT ev.eval_id,
        |       COALESCE(r1.n_contaminated, 0) AS n_contaminated,
        |       r1.vec_id AS top_vec_id, r1.cosine AS max_cosine
        |FROM ev LEFT JOIN (SELECT * FROM r WHERE rn = 1) r1 USING (eval_id)""".stripMargin,

    "q75_cosine_neardup" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 3) AS cosine
        |FROM ex a JOIN ex b ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
        |GROUP BY 1, 2
        |HAVING round(SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 3) >= 0.9""".stripMargin,

    // The lexical arm re-spells q112's hash-checked BM25 chain (same IEEE
    // constant expressions, same integer micro-unit quantization); the
    // vector arm is q48's dots spelling with the single query vec_id = 0;
    // ranks and the final fusion are exact integer arithmetic.
    "q191_hybrid_rrf" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
         |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl,
         |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         |toks AS (SELECT doc_id, unnest(t) AS term FROM d),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |  WHERE term IN ($hybridTermsSql) GROUP BY 1, 2
         |),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |contrib AS (
         |  SELECT tf.doc_id,
         |         CAST(floor(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         |           * (tf * (1.2 + 1))
         |           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         |           * 1e6 + 0.5) AS BIGINT) AS c
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
         |),
         |bm AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) / 1e6 AS score
         |       FROM contrib GROUP BY doc_id),
         |lexr AS (SELECT doc_id, r FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM bm) WHERE r <= 20),
         |ex AS (SELECT vec_id, unnest(embedding) AS v,
         |              generate_subscripts(embedding, 1) AS i FROM embeddings),
         |dots AS (
         |  SELECT c.vec_id AS doc_id,
         |         round(SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)), 3) AS score
         |  FROM ex q JOIN ex c ON q.i = c.i AND c.vec_id <> 0
         |  WHERE q.vec_id = 0 GROUP BY 1
         |),
         |vecr AS (SELECT doc_id, r FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM dots) WHERE r <= 20)
         |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |       CAST(l.r AS BIGINT) AS lex_rank, CAST(v.r AS BIGINT) AS vec_rank,
         |       COALESCE(CAST(floor(1000000.0 / (60 + l.r)) AS BIGINT), 0)
         |     + COALESCE(CAST(floor(1000000.0 / (60 + v.r)) AS BIGINT), 0) AS rrf_micro
         |FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id""".stripMargin,

    "q192_kcenter_select" -> kcenterOracleSql(8),

    "q193_mmr_select" -> mmrOracleSql(k = 8, n = 20, lambdaMilli = 700L),

    "q194_kcenter_stratified" -> kcenterStratOracleSql(4),

    "q196_retrieval_metrics" -> retrievalMetricsOracleSql(3)
  )
}
