package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.operators._
import graft.pipeline.MainPipeline
import graft.sources.Tables

/** Long-format upload-layer queries (trim_sides with full oracle) plus the
  * rows-only-checked operators whose outputs depend on engine-internal hashes
  * or nested types DuckDB can't hash-compare (nest, MinHash, SimHash,
  * fingerprint, LSH ANN, BLAKE2s, full EAV pipeline).
  */
object MiscQueries {

  /** Long EAV-ish frame with three engineered metrics: `clipped` (leading
    * zeros → exercises head trim), `variants` (never trimmed), `gappy`
    * (interior nulls). Shared by the Spark query and the oracle. */
  private def longFrame(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.supplierDaily(s, dir)
    d.select(col("l_suppkey"), col("date"), lit("clipped").as("metric"),
        greatest(col("qty") - 25d, lit(0d)).as("payload"))
      .unionByName(d.select(col("l_suppkey"), col("date"), lit("variants").as("metric"),
        col("qty").as("payload")))
      .unionByName(d.select(col("l_suppkey"), col("date"), lit("gappy").as("metric"),
        when(dayofmonth(col("date")) % 3 === 0, lit(null)).otherwise(col("qty")).as("payload")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P6: trim_sides on long rows, pandas-quirk-faithful (uploader.py:55-90)
    "q36_trim_sides" -> ((s, dir) =>
      Trim.trimSides(longFrame(s, dir), Seq("l_suppkey"), "date")
        .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))),

    // P7: weekly-metric null drop (uploader.py:444-475)
    "q37_weekly_drop" -> ((s, dir) =>
      Trim.dropWeeklyNulls(
        longFrame(s, dir).withColumn("metric",
          when(col("metric") === "gappy", "gappyWeekly").otherwise(col("metric"))),
        "metric", "payload")
        .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))),

    // R6: nest to array-of-structs, serialized with to_json so the driver's
    // pandas compare can hash it (typed form asserted in ServingSpec). Dates
    // ride as yyyy-MM-dd strings, counts as BIGINT — both engines render
    // those identically inside JSON.
    "q34_nest_series" -> ((s, dir) => {
      val daily = Tables.supplierDaily(s, dir).select(col("l_suppkey"),
        date_format(col("date"), "yyyy-MM-dd").as("date"),
        col("qty").cast("long").as("qty"))
      Reshape.nest(daily, Seq("l_suppkey"), "date", Seq("qty"), "series")
        .withColumn("series",
          to_json(col("series"), Map("ignoreNullFields" -> "false")))
    }),

    // Keyed BLAKE2s row hash — rows-only (no BLAKE2 in DuckDB); RFC vectors
    // asserted in ScalaTest.
    "q35_blake2s_hash" -> ((s, dir) => {
      Tables.load(s, dir, "documents").select(col("doc_id"),
        HashFunctions.blake2sHex(col("text"), MainPipeline.RecordKey, 12).as("row_hash"))
    }),

    // MinHash-LSH near-dup pairs. Candidate generation is xxhash64-LSH, but
    // every candidate is verified against EXACT Jaccard >= 0.5, and RecallSpec
    // + a pre-commit sweep show 100% recall on this corpus — so the output
    // equals the exact pair set and carries a full DuckDB oracle.
    "q45_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashNearDups(Tables.load(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)),

    // Near-containment pairs (Broder's containment, not resemblance): a
    // small doc quoted inside a much larger one has Jaccard → 0 but
    // containment → 1, so Jaccard-banded LSH can never surface it — this
    // df-capped inverted-index pass can, at O(dfCap²) fan-out per shingle.
    "q133_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), "doc_id",
        "text", threshold = 0.8)),

    // Edit-distance verification on top of the MinHash pairs: token-set
    // Jaccard can be high for texts whose character sequences differ
    // (reordered spans); the levenshtein bound — computed for verified
    // pairs only, never the corpus pair space — rejects those. Exact
    // integer distance + single-multiply ratio ⇒ deterministic, full
    // DuckDB oracle (same levenshtein definition).
    "q128_edit_dups" -> ((s, dir) =>
      Dedup.editVerifiedNearDups(Tables.load(s, dir, "documents"), "doc_id",
        "text", threshold = 0.5, maxEditRatio = 0.02)),

    // Near-dup CLUSTERS: connected components over the verified MinHash
    // pairs, one canonical keeper (min id) per component, singletons kept —
    // the step that turns pairwise dedup into an actual corpus dedup.
    // Leakage-safe split: q84's hash split taken on the near-dup CLUSTER
    // root instead of the doc id, so no near-duplicate pair straddles
    // train/valid (q87's components + one map-side expression).
    "q166_cluster_split" -> ((s, dir) =>
      Dedup.clusterSplit(Tables.load(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)),

    // Dedup savings card: the q87 cluster map aggregated to a cluster-SIZE
    // histogram with doc and token savings — the report that justifies (or
    // kills) a dedup pass before anything is deleted. Removable = everything
    // but each cluster's keeper (the min-id root).
    "q177_dedup_savings" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val comp = Dedup.connectedComponents(
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5),
        "a_id", "b_id")
      val perCluster = docs
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster"), col("doc_id")))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz"), sum(col("n")).as("toks"),
          sum(when(col("doc_id") === col("cluster_id"), col("n"))
            .otherwise(0L)).as("keep_toks"))
      perCluster.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1).as("removable_docs"),
          sum(col("toks") - col("keep_toks")).as("removable_tokens"))
    }),

    "q87_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      val comp = Dedup.connectedComponents(pairs, "a_id", "b_id")
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster"), col("doc_id")) === col("doc_id")).as("keeper"))
    }),

    // INCREMENTAL near-dup clusters: release N's cluster map rolls forward
    // with release N+1's pair increment (star-contract old clusters, stitch
    // with the SignatureStore pair increment) — provably identical to
    // re-clustering the full corpus from scratch, which is exactly what the
    // oracle computes (q87's recursive CTE over ALL pairs). The resumable
    // form of q87: per release the engine does O(|V_old| + |E_new|) work,
    // never re-reading old pairs or re-signing old text.
    "q123_incremental_clusters" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val isNew = col("doc_id") % 10 >= 8
      val oldDocs = docs.where(!isNew)
      // release N state (persisted in prod; SignatureStoreSpec covers disk)
      val oldClusters = Dedup.connectedComponents(
        Dedup.minhashNearDups(oldDocs, "doc_id", "text", threshold = 0.5),
        "a_id", "b_id")
      // release N+1 increment: every pair touching a new doc, via the store
      val newPairs = graft.pipeline.SignatureStore.incrementalNearDups(
        docs.where(isNew), "doc_id", "text",
        graft.pipeline.SignatureStore.signatures(oldDocs, "doc_id", "text"),
        docs, threshold = 0.5)
      val comp = Dedup.incrementalComponents(oldClusters,
        newPairs.select(col("new_id"), col("dup_id")), "new_id", "dup_id")
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster"), col("doc_id")) === col("doc_id")).as("keeper"))
    }),

    // SimHash fingerprints + near-dup pairs — rows-only.
    "q46_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.load(s, dir, "documents"), "doc_id", "text",
        maxHamming = 6)),

    // Rolling-hash document fingerprint — rows-only.
    "q47_fingerprint" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    // LSH-bucketed ANN — rows-only (bucket boundaries are seed-dependent).
    "q49_lsh_ann" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        emb.select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb")),
        dim = 64, k = 5)
    }),

    // Full EAV pipeline (flagship, also SparkEntry.entry) — rows-only
    // (row hashes aren't DuckDB-expressible; q64 oracles the same pipeline
    // minus the hash column).
    "q51_eav_pipeline" -> ((s, dir) => MainPipeline.run(s, dir)),

    // MSOA convert_types: pack the derived family into one JSON payload per
    // date (msoa_etl_db/processor.py:96-110). Counts ride as BIGINT inside
    // the JSON so double formatting can't diverge between engines.
    "q57_payload_pack" -> ((s, dir) => {
      val fam = Rolling.changeBySum(
        Reshape.densifyDates(Tables.supplierDaily(s, dir), Seq("l_suppkey"), "date")
          .withColumn("qty0", coalesce(col("qty"), lit(0d))).drop("qty"),
        Seq("l_suppkey"), "date", "qty0")
      fam.select(col("l_suppkey"), date_format(col("date"), "yyyy-MM-dd").as("date"),
        to_json(struct(
          col("qty0RollingSum").cast("long").as("rollingSum"),
          col("qty0Change").cast("long").as("change"),
          col("qty0Direction").as("direction"),
          col("qty0ChangePercentage").as("changePercentage")),
          Map("ignoreNullFields" -> "false")).as("payload"))
    }),

    // R8: per-category rate enrichment of a nested column — explode, join the
    // (key, category) population dim, compute the rate, re-nest, serialize.
    // Counts ride as BIGINT; rates as DECIMAL(20,1) — Double.toString would
    // switch to scientific notation past 1e7 where DuckDB never does, decimals
    // render identically in both engines.
    "q61_nested_rate" -> ((s, dir) => {
      val nested = Reshape.nest(
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_suppkey"), col("l_returnflag"))
          .agg(sum("l_quantity").cast("double").as("qty")),
        Seq("l_suppkey"), "l_returnflag", Seq("qty"), "byFlag")
      val pop = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), abs(col("s_acctbal")).as("population"))
      val exploded = Reshape.unnest(nested, Seq("l_suppkey"), "byFlag")
        .select(col("l_suppkey"), col("elem.l_returnflag").as("flag"), col("elem.qty").as("qty"))
        .join(broadcast(pop), Seq("l_suppkey"))
        .select(col("l_suppkey"), col("flag"), col("qty").cast("long").as("qty"),
          round(col("qty") / col("population") * 100000, 1).cast("decimal(20,1)").as("rate"))
      Reshape.nest(exploded, Seq("l_suppkey"), "flag", Seq("qty", "rate"), "byFlagRated")
        .withColumn("byFlagRated",
          to_json(col("byFlagRated"), Map("ignoreNullFields" -> "false")))
    }),

    // R9: element-wise pair operation on two aligned nested metrics via
    // zip_with (single codegen'd projection, no explode/re-nest). The two
    // arrays are built by one groupBy over the same (supplier, status) grid so
    // they align positionally; output serialized for the driver compare.
    "q62_zip_pair_sum" -> ((s, dir) => {
      val byStatus = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_linestatus"))
        .agg(sum(when(col("l_returnflag") === "A", col("l_quantity")).otherwise(0d))
               .cast("long").as("qty_a"),
             sum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(0d))
               .cast("long").as("qty_r"))
      val nested = byStatus.groupBy(col("l_suppkey")).agg(
        sort_array(collect_list(struct(col("l_linestatus").as("status"), col("qty_a")))).as("arr_A"),
        sort_array(collect_list(struct(col("l_linestatus").as("status"), col("qty_r")))).as("arr_R"))
      Reshape.zipNested(nested, "arr_A", "arr_R", "paired")((a, b) =>
          struct(a.getField("status").as("status"),
            (a.getField("qty_a") + b.getField("qty_r")).as("total")))
        .select(col("l_suppkey"),
          to_json(col("paired"), Map("ignoreNullFields" -> "false")).as("paired"))
    }),

    // BLAKE2b slug (private_report/process.py:124-127) — rows-only; RFC
    // vectors asserted in ScalaTest.
    "q63_blake2b_slug" -> ((s, dir) => {
      Tables.load(s, dir, "documents").select(col("doc_id"),
        HashFunctions.blake2bHex(col("text"), "", 32).as("slug"))
    }),

    // MSOA pipeline end to end (zero-pad → densify → rolling family with
    // substitution → rate → suppression → periodic sampling → packed payload)
    // with a full SQL oracle; the engine hash column is excluded from the
    // query output (not DuckDB-expressible — covered by q35/q51 + Soak).
    "q67_msoa_pipeline" -> ((s, dir) =>
      graft.pipeline.MsoaPipeline.run(s, dir)
        .drop("hash")
        .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))),

    // Demographics pipeline (R4 densify → per-band rolling rates → R6 nest),
    // nested metric serialized to JSON (counts as BIGINT, rates as
    // DECIMAL(20,1)) so the full pipeline is oracle-checked; typed form
    // asserted in PipelinesSpec.
    "q68_demographics" -> ((s, dir) => {
      val input = Tables.load(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1995)
        .select(lit("supplier").as("areaType"),
          col("l_suppkey").cast("string").as("areaCode"),
          to_date(col("l_shipdate")).as("date"),
          col("l_returnflag").as("age"), col("l_quantity"))
        .groupBy("areaType", "areaCode", "date", "age")
        .agg(sum("l_quantity").cast("double").as("newCases"))
      val pop = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").cast("string").as("areaCode"),
          abs(col("s_acctbal")).as("population"))
        .crossJoin(s.createDataFrame(Seq(Tuple1("A"), Tuple1("N"), Tuple1("R")))
          .toDF("age"))
      graft.pipeline.DemographicsPipeline.run(input,
        graft.pipeline.DemographicsPipeline.Spec("age", 1, "newCases", "cases",
          "newCasesAgeDemographics"), pop)
        .select(col("areaType"), col("areaCode"),
          date_format(col("date"), "yyyy-MM-dd").as("date"),
          to_json(transform(col("newCasesAgeDemographics"), x => struct(
            x.getField("age").as("age"),
            x.getField("cases").cast("long").as("cases"),
            x.getField("rollingSum").cast("long").as("rollingSum"),
            x.getField("rollingRate").cast("decimal(20,1)").as("rollingRate"))),
            Map("ignoreNullFields" -> "false")).as("newCasesAgeDemographics"))
    }),

    // J-family completion: explicit anti join (suppliers with no 1998
    // shipment) — the set-difference dual of q15's semi join.
    "q81_anti_join" -> ((s, dir) => {
      val active = Tables.load(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1998)
        .select(col("l_suppkey")).distinct()
      Tables.load(s, dir, "supplier")
        .join(active, col("s_suppkey") === col("l_suppkey"), "left_anti")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // O-family extension: hierarchical subtotals via rollup + grouping_id —
    // Spark's GROUPING SETS surface, oracled by DuckDB's ROLLUP.
    "q79_rollup" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").cast("long").as("sum_qty"),
          count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))),

    // The reference's biggest serving query (cache_prepopulate/query.sql,
    // 292 lines): per area, rank the latest row per metric by (priority,
    // date desc), map direction to arrow degrees (UP→0, SAME→90, DOWN→180),
    // and aggregate everything into one JSON cache blob per area — W5 rank +
    // conditional mapping + A13 JSONB_AGG in a single composite.
    "q86_cache_blob" -> ((s, dir) => {
      val fam = Rolling.changeBySum(
        Reshape.densifyDates(Tables.supplierDaily(s, dir), Seq("l_suppkey"), "date")
          .withColumn("qty", coalesce(col("qty"), lit(0d))),
        Seq("l_suppkey"), "date", "qty")
      val latest = fam.where(col("qtyRollingSum").isNotNull)
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_suppkey"))
            .orderBy(col("date").desc)))
        .where(col("__rn") === 1)
      val long = latest.select(col("l_suppkey"), col("date"),
          col("qtyRollingSum").cast("decimal(20,1)").as("v1"),
          col("qtyChange").cast("decimal(20,1)").as("v2"),
          col("qtyChangePercentage").cast("decimal(20,1)").as("v3"),
          when(col("qtyDirection") === "UP", 0)
            .when(col("qtyDirection") === "SAME", 90)
            .when(col("qtyDirection") === "DOWN", 180).as("degrees"))
        .select(col("l_suppkey"), date_format(col("date"), "yyyy-MM-dd").as("date"),
          explode(array(
            struct(lit(1).as("priority"), lit("rollingSum").as("metric"),
              col("v1").as("value"), lit(null).cast("int").as("degrees")),
            struct(lit(2).as("priority"), lit("change").as("metric"),
              col("v2").as("value"), col("degrees").as("degrees")),
            struct(lit(3).as("priority"), lit("changePercentage").as("metric"),
              col("v3").as("value"), lit(null).cast("int").as("degrees")))).as("e"))
      long.groupBy(col("l_suppkey"), col("date"))
        .agg(to_json(sort_array(collect_list(struct(
          col("e.priority").as("priority"), col("e.metric").as("metric"),
          col("e.value").as("value"), col("e.degrees").as("degrees")))),
          Map("ignoreNullFields" -> "false")).as("blob"))
    }),

    // The full MainPipeline with a DuckDB oracle: every stage (densify,
    // bounded zero-fill, rolling family, rate, trim, melt, JSON wrap)
    // replicated in SQL — the strongest end-to-end correctness statement.
    "q64_pipeline_sql" -> ((s, dir) =>
      MainPipeline.run(s, dir).select(
        col("areaCode"), date_format(col("date"), "yyyy-MM-dd").as("date"),
        col("metric"), col("payload")))
  )

  private val longCte =
    """daily AS (
      |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS date,
      |         CAST(SUM(l_quantity) AS DOUBLE) AS qty
      |  FROM lineitem GROUP BY 1, 2
      |),
      |long AS (
      |  SELECT l_suppkey, date, 'clipped' AS metric, greatest(qty - 25, 0) AS payload FROM daily
      |  UNION ALL
      |  SELECT l_suppkey, date, 'variants', qty FROM daily
      |  UNION ALL
      |  SELECT l_suppkey, date, 'gappy',
      |         CASE WHEN day(date) % 3 = 0 THEN NULL ELSE qty END FROM daily
      |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q81_anti_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_suppkey = s_suppkey AND year(l_shipdate) = 1998
        |)""".stripMargin,

    "q79_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |       COUNT(*) AS n, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q34_nest_series" ->
      """WITH daily AS (
        |  SELECT l_suppkey, strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS date,
        |         CAST(SUM(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT l_suppkey,
        |       '[' || string_agg('{"date":"' || date || '","qty":' || CAST(qty AS VARCHAR) || '}',
        |                         ',' ORDER BY date) || ']' AS series
        |FROM daily GROUP BY l_suppkey""".stripMargin,

    "q61_nested_rate" ->
      """WITH agg AS (
        |  SELECT l_suppkey, l_returnflag AS flag, CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |),
        |rated AS (
        |  SELECT a.l_suppkey, a.flag, CAST(a.qty AS BIGINT) AS qty,
        |         CAST(round(a.qty / abs(s.s_acctbal) * 100000, 1) AS DECIMAL(20,1)) AS rate
        |  FROM agg a JOIN supplier s ON a.l_suppkey = s.s_suppkey
        |)
        |SELECT l_suppkey,
        |       '[' || string_agg('{"flag":"' || flag || '","qty":' || CAST(qty AS VARCHAR)
        |                         || ',"rate":' || CAST(rate AS VARCHAR) || '}',
        |                         ',' ORDER BY flag) || ']' AS byFlagRated
        |FROM rated GROUP BY l_suppkey""".stripMargin,

    "q62_zip_pair_sum" ->
      """WITH bs AS (
        |  SELECT l_suppkey, l_linestatus AS status,
        |         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS BIGINT) AS qa,
        |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS BIGINT) AS qr
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT l_suppkey,
        |       '[' || string_agg('{"status":"' || status || '","total":' || CAST(qa + qr AS VARCHAR) || '}',
        |                         ',' ORDER BY status) || ']' AS paired
        |FROM bs GROUP BY l_suppkey""".stripMargin,

    "q68_demographics" ->
      """WITH input AS (
        |  SELECT 'supplier' AS areaType, CAST(l_suppkey AS VARCHAR) AS areaCode,
        |         CAST(l_shipdate AS DATE) AS date, l_returnflag AS age,
        |         CAST(SUM(l_quantity) AS DOUBLE) AS newCases
        |  FROM lineitem WHERE year(l_shipdate) = 1995
        |  GROUP BY 1, 2, 3, 4
        |),
        |bounds AS (SELECT min(date) AS lo, max(date) AS hi FROM input),
        |dates AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM bounds
        |),
        |spine AS (
        |  SELECT k.areaType, k.areaCode, d.date, a.age
        |  FROM (SELECT DISTINCT areaType, areaCode FROM input) k
        |  CROSS JOIN dates d
        |  CROSS JOIN (SELECT DISTINCT age FROM input) a
        |),
        |dense AS (
        |  SELECT s.areaType, s.areaCode, s.date, s.age, COALESCE(i.newCases, 0) AS cases
        |  FROM spine s LEFT JOIN input i
        |    ON i.areaType = s.areaType AND i.areaCode = s.areaCode
        |   AND i.date = s.date AND i.age = s.age
        |),
        |rolled AS (
        |  SELECT *, CASE WHEN COUNT(cases) OVER w7 = 7 THEN SUM(cases) OVER w7 END AS rollingSum
        |  FROM dense
        |  WINDOW w7 AS (PARTITION BY areaType, areaCode, age ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |),
        |rated AS (
        |  SELECT r.*, round(r.rollingSum / abs(s.s_acctbal) * 100000, 1) AS rollingRate
        |  FROM rolled r LEFT JOIN supplier s ON r.areaCode = CAST(s.s_suppkey AS VARCHAR)
        |)
        |SELECT areaType, areaCode, strftime(date, '%Y-%m-%d') AS date,
        |       '[' || string_agg('{"age":"' || age
        |           || '","cases":' || CAST(CAST(cases AS BIGINT) AS VARCHAR)
        |           || ',"rollingSum":' || COALESCE(CAST(CAST(rollingSum AS BIGINT) AS VARCHAR), 'null')
        |           || ',"rollingRate":' || COALESCE(CAST(CAST(rollingRate AS DECIMAL(20,1)) AS VARCHAR), 'null')
        |           || '}', ',' ORDER BY age) || ']' AS newCasesAgeDemographics
        |FROM rated GROUP BY 1, 2, 3""".stripMargin,

    "q45_minhash_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT a_id, b_id,
        |       round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5""".stripMargin,

    "q133_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_inter,
        |       round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 4) >= 0.8""".stripMargin,

    "q128_edit_dups" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a_id, b_id,
        |         round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5
        |)
        |SELECT a_id, b_id, jaccard,
        |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
        |FROM pairs
        |JOIN documents da ON da.doc_id = a_id
        |JOIN documents db ON db.doc_id = b_id
        |WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |      <= 0.02 * greatest(len(da.text), len(db.text))""".stripMargin,

    // q87's recursive-CTE cluster chain + per-cluster token sums + a
    // cluster-size GROUP BY
    "q177_dedup_savings" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5
        |),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
        |m AS (
        |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id,
        |         CAST(len(t.toks) AS BIGINT) AS n
        |  FROM documents d
        |  LEFT JOIN comp c ON c.id = d.doc_id
        |  JOIN t USING (doc_id)
        |),
        |pc AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz,
        |         CAST(SUM(n) AS BIGINT) AS toks,
        |         CAST(SUM(CASE WHEN doc_id = cluster_id THEN n ELSE 0 END) AS BIGINT) AS keep_toks
        |  FROM m GROUP BY 1
        |)
        |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |       CAST(SUM(sz) AS BIGINT) AS n_docs,
        |       CAST(SUM(sz - 1) AS BIGINT) AS removable_docs,
        |       CAST(SUM(toks - keep_toks) AS BIGINT) AS removable_tokens
        |FROM pc GROUP BY 1""".stripMargin,

    // q87's recursive-CTE cluster chain + q84's split CASE on the root id
    "q166_cluster_split" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5
        |),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
        |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id,
        |       CASE WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id) AS VARCHAR)), 1, 2) < '1a'
        |            THEN 'valid' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,

    "q87_dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5
        |),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
        |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id,
        |       COALESCE(c.cluster, d.doc_id) = d.doc_id AS keeper
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,

    // the INCREMENTAL clustering must equal a from-scratch clustering of the
    // full corpus — so its oracle IS q87's batch recursive-CTE oracle
    "q123_incremental_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
        |  FROM t
        |),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:least(i + 2, len(toks))], ' ') AS shingle
        |  FROM idx
        |),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5
        |),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
        |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id,
        |       COALESCE(c.cluster, d.doc_id) = d.doc_id AS keeper
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,

    "q86_cache_blob" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS date,
        |         CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |),
        |bounds AS (SELECT min(date) AS lo, max(date) AS hi FROM daily),
        |dates AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM bounds
        |),
        |dense AS (
        |  SELECT k.l_suppkey, d.date, COALESCE(daily.qty, 0) AS qty0
        |  FROM (SELECT DISTINCT l_suppkey FROM daily) k
        |  CROSS JOIN dates d
        |  LEFT JOIN daily ON daily.l_suppkey = k.l_suppkey AND daily.date = d.date
        |),
        |rs AS (
        |  SELECT l_suppkey, date,
        |         CASE WHEN COUNT(qty0) OVER w7 = 7 THEN SUM(qty0) OVER w7 END AS rs0
        |  FROM dense
        |  WINDOW w7 AS (PARTITION BY l_suppkey ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |),
        |z AS (
        |  SELECT l_suppkey, date,
        |         CASE WHEN SUM(rs0) OVER (PARTITION BY l_suppkey) = 0 THEN NULL ELSE rs0 END AS rsv
        |  FROM rs
        |),
        |ch AS (
        |  SELECT l_suppkey, date, rsv,
        |         rsv - lag(rsv, 7) OVER w AS change,
        |         lag(rsv, 7) OVER w AS den,
        |         COUNT(rsv) OVER (w ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cnt8
        |  FROM z WINDOW w AS (PARTITION BY l_suppkey ORDER BY date)
        |),
        |fam AS (
        |  SELECT l_suppkey, date, rsv, change,
        |         CASE WHEN change > 0 THEN 'UP' WHEN change < 0 THEN 'DOWN'
        |              WHEN change = 0 THEN 'SAME' END AS direction,
        |         CASE WHEN cnt8 = 8 THEN
        |           CAST(CASE WHEN rsv = 0 AND den > 0 THEN -100.0
        |                WHEN rsv / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1 = -1 THEN 0.0
        |                ELSE round((rsv / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1) * 100, 1)
        |           END AS DOUBLE)
        |         END AS pct
        |  FROM ch
        |),
        |latest AS (
        |  SELECT l_suppkey, date, rsv, change, direction, pct
        |  FROM fam WHERE rsv IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY l_suppkey ORDER BY date DESC) = 1
        |)
        |SELECT l_suppkey, strftime(date, '%Y-%m-%d') AS date,
        |  '[{"priority":1,"metric":"rollingSum","value":'
        |    || COALESCE(CAST(CAST(rsv AS DECIMAL(20,1)) AS VARCHAR), 'null') || ',"degrees":null}'
        |  || ',{"priority":2,"metric":"change","value":'
        |    || COALESCE(CAST(CAST(change AS DECIMAL(20,1)) AS VARCHAR), 'null') || ',"degrees":'
        |    || COALESCE(CAST(CASE direction WHEN 'UP' THEN 0 WHEN 'SAME' THEN 90
        |                     WHEN 'DOWN' THEN 180 END AS VARCHAR), 'null') || '}'
        |  || ',{"priority":3,"metric":"changePercentage","value":'
        |    || COALESCE(CAST(CAST(pct AS DECIMAL(20,1)) AS VARCHAR), 'null') || ',"degrees":null}]' AS blob
        |FROM latest""".stripMargin,

    "q67_msoa_pipeline" ->
      """WITH daily AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS areaCode, CAST(l_shipdate AS DATE) AS date,
        |         CAST(SUM(l_quantity) AS DOUBLE) AS cases
        |  FROM lineitem GROUP BY 1, 2
        |),
        |bounds AS (SELECT min(date) AS lo, max(date) AS hi FROM daily),
        |dates AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM bounds
        |),
        |dense AS (
        |  SELECT k.areaCode, d.date, COALESCE(daily.cases, 0) AS cases
        |  FROM (SELECT DISTINCT areaCode FROM daily) k
        |  CROSS JOIN dates d
        |  LEFT JOIN daily ON daily.areaCode = k.areaCode AND daily.date = d.date
        |),
        |rs AS (
        |  SELECT areaCode, date, cases,
        |         CASE WHEN COUNT(cases) OVER w7 = 7 THEN SUM(cases) OVER w7 END AS rs0
        |  FROM dense
        |  WINDOW w7 AS (PARTITION BY areaCode ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |),
        |sub AS (
        |  SELECT areaCode, date, cases, CASE WHEN rs0 < 3 THEN 2 ELSE rs0 END AS rs1 FROM rs
        |),
        |z AS (
        |  SELECT *, CASE WHEN SUM(rs1) OVER (PARTITION BY areaCode) = 0 THEN NULL ELSE rs1 END AS rs2
        |  FROM sub
        |),
        |ch AS (
        |  SELECT areaCode, date, rs2,
        |         rs2 - lag(rs2, 7) OVER w AS change0,
        |         lag(rs2, 7) OVER w AS den,
        |         COUNT(rs2) OVER (w ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cnt8
        |  FROM z WINDOW w AS (PARTITION BY areaCode ORDER BY date)
        |),
        |fam AS (
        |  SELECT areaCode, date, rs2, change0,
        |         CASE WHEN change0 > 0 THEN 'UP' WHEN change0 < 0 THEN 'DOWN'
        |              WHEN change0 = 0 THEN 'SAME' END AS direction,
        |         CASE WHEN cnt8 = 8 THEN
        |           CAST(CASE WHEN rs2 = 0 AND den > 0 THEN -100.0
        |                WHEN rs2 / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1 = -1 THEN 0.0
        |                ELSE round((rs2 / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1) * 100, 1)
        |           END AS DOUBLE)
        |         END AS pct
        |  FROM ch
        |),
        |supp AS (
        |  SELECT areaCode, date,
        |         CASE WHEN rs2 = 2 THEN NULL ELSE rs2 END AS rsf,
        |         CASE WHEN rs2 = 2 THEN NULL ELSE change0 END AS changef,
        |         CASE WHEN rs2 = 2 THEN NULL ELSE direction END AS directionf,
        |         CASE WHEN rs2 = 2 THEN NULL ELSE pct END AS pctf
        |  FROM fam
        |),
        |rated AS (
        |  SELECT supp.*, CAST(round(supp.rsf / abs(s.s_acctbal) * 100000, 1) AS DECIMAL(20,1)) AS rate
        |  FROM supp LEFT JOIN supplier s ON supp.areaCode = CAST(s.s_suppkey AS VARCHAR)
        |),
        |anch AS (SELECT CAST(max(date) - INTERVAL 5 DAY AS DATE) AS a FROM rated)
        |SELECT CAST(1 AS INTEGER) AS release_id, areaCode, '2026_8_1|msoa' AS partition_id,
        |       strftime(r.date, '%Y-%m-%d') AS date,
        |       '{"rollingSum":' || COALESCE(CAST(CAST(rsf AS BIGINT) AS VARCHAR), 'null')
        |       || ',"change":' || COALESCE(CAST(CAST(changef AS BIGINT) AS VARCHAR), 'null')
        |       || ',"direction":' || COALESCE('"' || directionf || '"', 'null')
        |       || ',"changePercentage":' || COALESCE(CAST(pctf AS VARCHAR), 'null')
        |       || ',"rollingRate":' || COALESCE(CAST(rate AS VARCHAR), 'null')
        |       || '}' AS payload
        |FROM rated r, anch
        |WHERE r.date <= anch.a AND date_diff('day', r.date, anch.a) % 7 = 0""".stripMargin,

    "q36_trim_sides" ->
      s"""WITH $longCte,
         |pos AS (
         |  SELECT l_suppkey, metric, date, payload,
         |         row_number() OVER w AS p,
         |         SUM(abs(payload)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM long WINDOW w AS (PARTITION BY l_suppkey, metric ORDER BY date)
         |),
         |b1 AS (
         |  SELECT *, COALESCE(
         |           min(CASE WHEN cum > 0 THEN p END) OVER g,
         |           min(CASE WHEN payload IS NOT NULL THEN p END) OVER g) AS f,
         |         min(CASE WHEN payload IS NOT NULL THEN p END) OVER g AS fnn
         |  FROM pos WINDOW g AS (PARTITION BY l_suppkey, metric)
         |),
         |b2 AS (
         |  SELECT *, max(CASE WHEN payload IS NOT NULL AND p > f + 1 THEN p END) OVER g AS l
         |  FROM b1 WINDOW g AS (PARTITION BY l_suppkey, metric)
         |)
         |SELECT l_suppkey, strftime(date, '%Y-%m-%d') AS date, metric, payload
         |FROM b2
         |WHERE fnn IS NULL OR metric = 'variants' OR l IS NULL
         |      OR (p > f + 1 AND p < l - 1)""".stripMargin,

    "q57_payload_pack" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS date,
        |         CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |),
        |bounds AS (SELECT min(date) AS lo, max(date) AS hi FROM daily),
        |dates AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM bounds
        |),
        |dense AS (
        |  SELECT s.l_suppkey, s.date, COALESCE(daily.qty, 0) AS qty0
        |  FROM (SELECT k.l_suppkey, d.date
        |        FROM (SELECT DISTINCT l_suppkey FROM daily) k CROSS JOIN dates d) s
        |  LEFT JOIN daily ON daily.l_suppkey = s.l_suppkey AND daily.date = s.date
        |),
        |rs AS (
        |  SELECT l_suppkey, date, qty0,
        |         CASE WHEN COUNT(qty0) OVER w7 = 7 THEN SUM(qty0) OVER w7 END AS rs0
        |  FROM dense
        |  WINDOW w7 AS (PARTITION BY l_suppkey ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |),
        |z AS (
        |  SELECT l_suppkey, date,
        |         CASE WHEN SUM(rs0) OVER (PARTITION BY l_suppkey) = 0 THEN NULL ELSE rs0 END AS rs
        |  FROM rs
        |),
        |ch AS (
        |  SELECT l_suppkey, date, rs,
        |         rs - lag(rs, 7) OVER w AS change,
        |         lag(rs, 7) OVER w AS den,
        |         COUNT(rs) OVER (w ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cnt8
        |  FROM z WINDOW w AS (PARTITION BY l_suppkey ORDER BY date)
        |),
        |fam AS (
        |  SELECT l_suppkey, date, rs, change,
        |         CASE WHEN change > 0 THEN 'UP' WHEN change < 0 THEN 'DOWN'
        |              WHEN change = 0 THEN 'SAME' END AS direction,
        |         CASE WHEN cnt8 = 8 THEN
        |           CAST(CASE WHEN rs = 0 AND den > 0 THEN -100.0
        |                WHEN rs / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1 = -1 THEN 0.0
        |                ELSE round((rs / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1) * 100, 1)
        |           END AS DOUBLE)
        |         END AS pct
        |  FROM ch
        |)
        |SELECT l_suppkey, strftime(date, '%Y-%m-%d') AS date,
        |       '{"rollingSum":' || COALESCE(CAST(CAST(rs AS BIGINT) AS VARCHAR), 'null')
        |       || ',"change":' || COALESCE(CAST(CAST(change AS BIGINT) AS VARCHAR), 'null')
        |       || ',"direction":' || COALESCE('"' || direction || '"', 'null')
        |       || ',"changePercentage":' || COALESCE(CAST(pct AS VARCHAR), 'null')
        |       || '}' AS payload
        |FROM fam""".stripMargin,

    "q64_pipeline_sql" ->
      """WITH daily AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS areaCode, CAST(l_shipdate AS DATE) AS date,
        |         CAST(SUM(l_quantity) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |),
        |bounds AS (SELECT min(date) AS lo, max(date) AS hi FROM daily),
        |dates AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM bounds
        |),
        |dense AS (
        |  SELECT s.areaCode, s.date, daily.qty
        |  FROM (SELECT k.areaCode, d.date
        |        FROM (SELECT DISTINCT areaCode FROM daily) k CROSS JOIN dates d) s
        |  LEFT JOIN daily ON daily.areaCode = s.areaCode AND daily.date = s.date
        |),
        |zf AS (
        |  SELECT areaCode, date,
        |         CASE WHEN date >= min(CASE WHEN qty IS NOT NULL THEN date END) OVER g
        |               AND date <  max(CASE WHEN qty IS NOT NULL THEN date END) OVER g
        |              THEN COALESCE(qty, 0) ELSE qty END AS m
        |  FROM dense WINDOW g AS (PARTITION BY areaCode)
        |),
        |rs AS (
        |  SELECT areaCode, date, m,
        |         CASE WHEN COUNT(m) OVER w7 = 7 THEN SUM(m) OVER w7 END AS rs0
        |  FROM zf
        |  WINDOW w7 AS (PARTITION BY areaCode ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |),
        |z AS (
        |  SELECT areaCode, date, m,
        |         CASE WHEN SUM(rs0) OVER (PARTITION BY areaCode) = 0 THEN NULL ELSE rs0 END AS rs1
        |  FROM rs
        |),
        |ch AS (
        |  SELECT areaCode, date, m, rs1,
        |         rs1 - lag(rs1, 7) OVER w AS change0,
        |         lag(rs1, 7) OVER w AS den,
        |         COUNT(rs1) OVER (w ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cnt8
        |  FROM z WINDOW w AS (PARTITION BY areaCode ORDER BY date)
        |),
        |fam AS (
        |  SELECT areaCode, date, m,
        |         CASE WHEN m IS NULL THEN NULL ELSE rs1 END AS rs,
        |         CASE WHEN m IS NULL THEN NULL ELSE change0 END AS change,
        |         CASE WHEN m IS NULL THEN NULL
        |              WHEN change0 > 0 THEN 'UP' WHEN change0 < 0 THEN 'DOWN'
        |              WHEN change0 = 0 THEN 'SAME' END AS direction,
        |         CASE WHEN m IS NULL THEN NULL
        |              WHEN cnt8 = 8 THEN
        |           CAST(CASE WHEN rs1 = 0 AND den > 0 THEN -100.0
        |                WHEN rs1 / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1 = -1 THEN 0.0
        |                ELSE round((rs1 / (CASE WHEN den = 0 THEN 1 ELSE den END) - 1) * 100, 1)
        |           END AS DOUBLE)
        |         END AS pct
        |  FROM ch
        |),
        |rated AS (
        |  SELECT fam.*, round(fam.rs / abs(supplier.s_acctbal) * 100000, 1) AS rate
        |  FROM fam LEFT JOIN supplier ON fam.areaCode = CAST(supplier.s_suppkey AS VARCHAR)
        |),
        |trimmed AS (
        |  SELECT areaCode, date,
        |         CASE WHEN date <= (SELECT CAST(max(date) - INTERVAL 5 DAY AS DATE) FROM daily) THEN m END AS m,
        |         CASE WHEN date <= (SELECT CAST(max(date) - INTERVAL 5 DAY AS DATE) FROM daily) THEN rs END AS rs,
        |         change, direction, pct,
        |         CASE WHEN date <= (SELECT CAST(max(date) - INTERVAL 5 DAY AS DATE) FROM daily) THEN rate END AS rate
        |  FROM rated
        |)
        |SELECT areaCode, strftime(date, '%Y-%m-%d') AS date, 'qty' AS metric,
        |       '{"value":' || COALESCE(CAST(m AS VARCHAR), 'null') || '}' AS payload FROM trimmed
        |UNION ALL
        |SELECT areaCode, strftime(date, '%Y-%m-%d'), 'qtyRollingSum',
        |       '{"value":' || COALESCE(CAST(rs AS VARCHAR), 'null') || '}' FROM trimmed
        |UNION ALL
        |SELECT areaCode, strftime(date, '%Y-%m-%d'), 'qtyChange',
        |       '{"value":' || COALESCE(CAST(change AS VARCHAR), 'null') || '}' FROM trimmed
        |UNION ALL
        |SELECT areaCode, strftime(date, '%Y-%m-%d'), 'qtyDirection',
        |       '{"value":' || COALESCE('"' || direction || '"', 'null') || '}' FROM trimmed
        |UNION ALL
        |SELECT areaCode, strftime(date, '%Y-%m-%d'), 'qtyChangePercentage',
        |       '{"value":' || COALESCE(CAST(pct AS VARCHAR), 'null') || '}' FROM trimmed
        |UNION ALL
        |SELECT areaCode, strftime(date, '%Y-%m-%d'), 'qtyRollingRate',
        |       '{"value":' || COALESCE(CAST(rate AS VARCHAR), 'null') || '}' FROM trimmed""".stripMargin,

    "q37_weekly_drop" ->
      s"""WITH $longCte,
         |renamed AS (
         |  SELECT l_suppkey, date,
         |         CASE WHEN metric = 'gappy' THEN 'gappyWeekly' ELSE metric END AS metric,
         |         payload
         |  FROM long
         |)
         |SELECT l_suppkey, strftime(date, '%Y-%m-%d') AS date, metric, payload
         |FROM renamed
         |WHERE NOT (lower(metric) LIKE '%weekly%' AND payload IS NULL)""".stripMargin
  )
}
