package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Physical-plan regression guards: the properties that make these plans
  * scale (broadcast dims, pushdown, single window sort) are asserted, not
  * assumed — a refactor that silently reintroduces a shuffle fails here. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("star join broadcasts every dimension") {
    val p = plan("q21_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("filters reach the parquet scan") {
    val scan = Tables.load(spark, sf, "lineitem")
      .where(col("l_quantity") > 40 && col("l_returnflag") === "A")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: ["))
    assert(scan.contains("GreaterThan(l_quantity,40.0)"))
    // column pruning: only the referenced columns are read
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("l_extendedprice"))
  }

  test("EAV serving scans prune to the release partition and push area, metric and date filters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val store = EavRequests.store(spark, sf)
    val r2 = s"(partition_id = ${EavRequests.partition(2)})"
    val r1 = s"(partition_id = ${EavRequests.partition(1)})"
    val area = "EqualTo(areaCode,1)"
    val metric = "EqualTo(metric,qty)"
    val date = s"GreaterThanOrEqual(date,${EavRequests.DeltaFrom})"
    // per kind: for each of its scans, the partition it prunes to and the
    // filters it pushes into the parquet reader
    val expected = Map(
      "latest" -> Seq(r2 -> Seq(area, metric)),
      "blob" -> Seq(r2 -> Seq(area, metric)),
      "percentiles" -> Seq(r2 -> Seq(metric), r2 -> Seq(metric)),
      "delta" -> Seq(r2 -> Seq(metric, date), r1 -> Seq(metric, date)))
    EavRequests.Kinds.foreach { kind =>
      val scans = EavRequests(spark, store, kind, "1", "qty").queryExecution.sparkPlan
        .collect { case s: FileSourceScanExec => s.metadata }
      assert(scans.length === expected(kind).length, s"$kind: $scans")
      scans.zip(expected(kind)).foreach { case (m, (part, pushed)) =>
        assert(m("PartitionFilters").replaceAll("#\\d+", "").contains(part), s"$kind: $m")
        pushed.foreach(f => assert(m("PushedFilters").contains(f), s"$kind: $m"))
      }
    }
  }

  test("rolling family shares one window sort (windows never re-exchange)") {
    val p = plan("q05_change_direction")
    // the window stack (rolling sum count+sum, lag-7) must share a single
    // Sort/partitioning — exactly one Sort above the final Exchange, however
    // many Window operators stack on it
    assert("Window ".r.findAllIn(p).size >= 2)
    assert("\\+- Sort ".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("full EAV pipeline sorts its window stack exactly once") {
    // zero-fill bounds, rolling family, all-zero guard, lag-7 and the 8-row
    // pct window all ride one ordered spec; an unordered window spec anywhere
    // in the chain reintroduces a mid-pipeline re-sort of the dense frame
    val p = plan("q64_pipeline_sql")
    assert("\\+- Sort ".r.findAllIn(p).size === 1, p.take(3000))
    // and the trim cutoff must come from the cheap upstream frame: deriving
    // it from the dense frame re-computes the whole densify subtree (seen as
    // a second set of collect_set ObjectHashAggregates) for one max(date)
    assert("ObjectHashAggregate".r.findAllIn(p).size <= 4, p.take(3000))
  }

  test("latest-date semi join broadcasts the scalar side") {
    val p = plan("q15_semi_latest")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("ANN candidate generation never cross-joins") {
    val p = plan("q49_lsh_ann")
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus assembly: packing/capping shuffle once, sampling not at all") {
    assert("hashpartitioning".r.findAllIn(plan("q92_pack_sequences")).size === 1)
    assert("hashpartitioning".r.findAllIn(plan("q94_source_cap")).size === 1)
    val sample = plan("q93_stratified_sample")
    assert(!sample.contains("Exchange"), sample.take(1500))
  }

  test("top-N rank takes an ordered slice, not a global sort-to-one") {
    val p = plan("q59_sort_rank")
    // orderBy+limit plans as TakeOrderedAndProject: per-partition top-k
    // heaps merged at the driver — the full table is never shuffled into a
    // single sort partition
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("no declared query plans an unpartitioned or skew-buffering window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.StringType
    // Two window shapes that don't survive scale: (1) an empty partitionSpec
    // funnels the operator's whole input through one partition (Spark's own
    // "No Partition Defined" warning) — fine on a bounded slice, catastrophic
    // on a table. (2) an UNORDERED frame keyed by an unbounded-cardinality
    // text column (e.g. count(*) over (partition by gram)) buffers every
    // instance of a hot key in one unsplittable partition AQE cannot break —
    // the aggregate+join-back formulation is skew-safe and must be used
    // instead (see Dedup.scrubRepeatedSpans). Ordered frames over string
    // ATTRIBUTES (streaming rank) are allowed — but a window partitioned by
    // a COMPUTED string key (row_number over md5(text)) is keep-first-by-
    // content in disguise, always expressible as a min-per-key aggregate +
    // join-back, and buffers every copy of a flooded text in one sort
    // partition; ban it ordered or not.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val unpartitioned = scala.collection.mutable.Set[String]()
    val skewBuffering = scala.collection.mutable.Set[String]()
    val cartesian = scala.collection.mutable.Set[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty => unpartitioned += name
        case w: WindowExec if w.orderSpec.isEmpty &&
            w.partitionSpec.exists(_.dataType == StringType) =>
          skewBuffering += name
        case w: WindowExec if w.partitionSpec.exists(e =>
            e.dataType == StringType &&
              !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) =>
          skewBuffering += name
        // a genuine cross product (broadcast scalar anchors plan as
        // BroadcastNestedLoopJoin and are fine; this is the pair-explosion)
        case _: CartesianProductExec => cartesian += name
        case _ =>
      }
    }
    assert(unpartitioned.isEmpty,
      s"unpartitioned WindowExec in: ${unpartitioned.toSeq.sorted.mkString(", ")}")
    assert(skewBuffering.isEmpty,
      s"unordered string-keyed WindowExec in: ${skewBuffering.toSeq.sorted.mkString(", ")}")
    assert(cartesian.isEmpty,
      s"CartesianProduct in: ${cartesian.toSeq.sorted.mkString(", ")}")
  }

  test("source manifest: hot-key collect combines in two salted levels") {
    val p = plan("q122_source_manifest")
    // every source key is hot; the roster must build as partial lists on
    // (source, __salt) before the per-source flatten — a single-level
    // collect_list would funnel each source through one task
    assert(p.contains("__salt"), p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("span scrub decides repeats by aggregate+join-back, never a window") {
    val p = plan("q119_span_scrub")
    // the repeated-gram decision must partial-aggregate map-side (hot grams
    // collapse before the wire) and join back — a window keyed by gram would
    // buffer a boilerplate gram's every occurrence in one partition
    assert(!p.contains("Window"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("maximal spans: q119's no-gram-window kernel plus ONE doc-keyed island window") {
    val p = plan("q141_maximal_spans")
    // the covered-position decision inherits q119's aggregate+join-back
    // shape; the only window allowed is the gaps-and-islands merge,
    // partitioned by the doc id (bounded by one document's token count)
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
    // Window [exprs], [partitionSpec], [orderSpec] — partitioned by the doc
    // id and ordered by position
    assert("Window \\[[^\\]]*\\], \\[doc_id#\\d+L?\\], \\[pos#\\d+".r
      .findFirstIn(p).isDefined, p.take(2000))
    // span text rejoins the doc table without a sort-merge
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("tokenizer-budgeted packing: vocab broadcast join + ONE key-bounded window") {
    // q147/q149 compose q143's count kernel with the packing windows: the
    // vocab must still broadcast (never a shuffle of the token stream) and
    // the only window is the pack's shard-/bucket-keyed running frame
    Seq("q147_bpe_pack", "q149_bpe_batches").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"$name: ${p.take(2000)}")
      assert("Window".r.findAllIn(p).size === 1, s"$name: ${p.take(2000)}")
    }
  }

  test("embed decontaminate: corpus streams once through broadcast probes, no corpus window") {
    val p = plan("q152_embed_decontaminate")
    // the corpus side must meet the eval assignment as a broadcast equi-join
    // on the cell id — never a sort-merge (that shuffles 100 TB of vectors)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // the only window is the eval-side probe rank, partitioned by eval_id
    // (eval-set-sized, and group-limit-pushed); the best-match pick must be
    // an aggregation with map-side partials, not a corpus-keyed window
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(2000))
    assert("Window \\[[^\\]]*\\], \\[eval_id#\\d+".r.findFirstIn(p).isDefined,
      p.take(2000))
    // the threshold filter rides the join so only surviving pairs reach the
    // partial aggregate (its sort is over the drop list, not the corpus)
    assert("partial_max".r.findAllIn(p).nonEmpty, p.take(2000))
  }

  test("contamination report: broadcast joins throughout, eval-keyed probe window only") {
    val p = plan("q157_contamination_report")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(2000))
    assert("Window \\[[^\\]]*\\], \\[eval_id#\\d+".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("pack manifest: count kernel + ONE shard window, seams aggregate hash-keyed") {
    val p = plan("q153_pack_manifest")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("curriculum shards: literal phase boundaries, one shard-keyed window, no join") {
    // boundaries are driver-collected trainer state riding as literals, so
    // the served plan must contain NO join at all and exactly one window —
    // the shard-keyed position rank (hash-balanced, never a global sort)
    val p = plan("q155_curriculum")
    assert(!p.contains("Join"), p.take(2000))
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(2000))
    assert("Window \\[[^\\]]*\\], \\[shard#\\d+".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("epoch orders: pure explode fan-out, one (epoch, shard)-keyed window, no join") {
    val p = plan("q159_epoch_orders")
    assert(!p.contains("Join"), p.take(2000))
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(2000))
    assert("Window \\[[^\\]]*\\], \\[epoch#\\d+L?, shard#\\d+".r
      .findFirstIn(p).isDefined, p.take(2000))
  }

  test("tokenizer fertility: broadcast joins only, no window anywhere") {
    val p = plan("q154_tokenizer_fertility")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("BPE token counts: vocab broadcasts into the word join, one doc-keyed agg") {
    val p = plan("q143_bpe_tokens")
    // the trained vocabulary is vocabulary-sized state — it must reach the
    // corpus as a broadcast build side, never by shuffling the token stream
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("block dedup keeps-first by aggregate+join-back, never a window") {
    // same skew reasoning as span scrub: min(struct(id,pos)) per block text
    // partial-combines map-side; a row_number window keyed by block would
    // sort every instance of a hot boilerplate block in one task
    val p = plan("q99_block_dedup")
    assert(!p.contains("Window"), p.take(2000))
  }

  test("heavy hitters: sketch reduces map-side, candidates broadcast") {
    val p = plan("q100_heavy_hitters")
    // pass 1 must partial-aggregate (<=64 counters per partition cross the
    // wire); pass 2's recount must join candidates by broadcast, never by
    // shuffling the token stream against them
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("weighted sample: one shuffle, bounded top-k partials") {
    val p = plan("q103_weighted_sample")
    assert("hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).size === 2) // partial + final
  }

  test("media decode plan never exchanges raw binary columns") {
    val p = plan("q101_media_decode")
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("bm25: ordered slice at the top, stats broadcast, no sort-merge join") {
    val p = plan("q112_bm25")
    // top-N must plan as per-partition heaps (TakeOrderedAndProject); the
    // df/N/avgdl sides are term-count- and scalar-sized so they must enter
    // by broadcast, never by shuffling the tf stream against them
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("semdedup: pair join is keyed by cluster, never a cross join") {
    val p = plan("q113_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the a_id < b_id predicate must ride the cluster equi-join, not a
    // nested-loop over the corpus
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("bloom decontamination: probe is map-side against one broadcast bitmap") {
    val p = plan("q114_bloom_decontaminate")
    // exactly one IdentityBroadcastMode broadcast: the single-row bitmap.
    // The probe itself is a Filter, not a join, so the corpus shingle
    // stream must not hash-exchange before it is Bloom-filtered.
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("length batches: one bucket-keyed shuffle feeds window and aggregate") {
    val p = plan("q115_length_batches")
    assert("\\+- Sort ".r.findAllIn(p).size === 1, p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("source overlap: one shingle-keyed shuffle, no doc-pair join") {
    val p = plan("q116_source_overlap")
    // the (source, shingle) dedup and the source-set aggregate share the
    // same shingle-keyed partitioning; pair expansion is a projection
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("quality classifier iteration: weights broadcast, sums combine map-side") {
    // trainScore materializes each iteration eagerly (localCheckpoint), so
    // the declared q131 plan only shows the final scoring join — assert the
    // per-iteration shape on its building blocks instead: the d-row weight
    // table must enter by broadcast and the exact-long margin sum must have
    // a map-side partial, with no sort-merge or cartesian anywhere.
    val docs = Tables.load(spark, sf, "documents")
    val feat = graft.operators.Classifier.hashedFeatures(docs, "doc_id", "text", 256)
    val w = feat.select(col("idx")).distinct().withColumn("w_int", lit(0L))
    val p = feat.join(broadcast(w), Seq("idx"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("w_int")).as("margin_micro"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("partial_sum"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("containment pairs: prefix-filtered candidates, set-array verification") {
    val p = plan("q133_containment")
    // candidate generation must seed from each doc's sliced PREFIX (the
    // df-rarest shingles), not the full posting × posting self-join — the
    // unfiltered form is O(df²) per shingle and measured 12.9× at 8× data;
    // verification must be id-keyed array_intersect over the materialized
    // sets, never a second shingle-keyed shuffle of the corpus
    assert(p.contains("slice(vals"), p.take(3000))
    assert(p.contains("array_intersect"), p.take(3000))
    // the doc-keyed set build is a collect_list aggregate (sort_array is
    // applied in the projection above it and doesn't survive to plan text)
    assert("collect_list".r.findAllIn(p).nonEmpty, p.take(3000))
  }

  test("blocklist scan: literal membership, no join touches the text stream") {
    // the phrase match must be a Filter over the generated n-grams (a
    // codegen'd array_contains against a literal), never a join — the only
    // exchange below the count agg would shuffle matched hits, not text
    val p = plan("q138_blocklist_scan")
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("array_contains"), p.take(1500))
  }

  test("chunk routing filters rows at the scan and never cross-joins") {
    val p = plan("q88_run_direct")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the route predicate is a CASE on l_returnflag, so it can't become a
    // parquet PushedFilter — but it MUST sit directly above the scan (row
    // pruning before any aggregation), and column pruning must still hold
    assert("Filter [^\\n]*l_returnflag[^\\n]*\\n[^\\n]*FileScan parquet".r
      .findFirstIn(p).isDefined, p.take(1500))
    assert(!p.contains("l_extendedprice"))
  }

  test("threshold sweep: one corpus histogram, no window, no per-threshold pass") {
    // the corpus must collapse in a single bin-keyed aggregation; the
    // per-threshold counts read the kilobyte histogram (a second tiny agg),
    // with no Window and no corpus-side explode per threshold
    val p = plan("q161_threshold_sweep")
    assert(!p.contains("Window"), p.take(1500))
    // the histogram is cached and BOTH consumers (per-threshold sums,
    // totals) read the cache — two InMemoryTableScans in the plan; an
    // uncached design would show zero and re-run the corpus scoring pass
    // for the totals branch (the printed cached-plan text still embeds the
    // originating FileScan, so scans can't be counted textually)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("gopher rules: no window anywhere — top gram decided by min(struct)") {
    val p = plan("q171_gopher_rules")
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("decontamination scrub: anti-join kernel, no window, no pair space") {
    val p = plan("q174_decontamination_scrub")
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("vocab coverage: every k is an ordered slice, never a global sort") {
    val p = plan("q160_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("epoch quotas: the partial-pass prefix is the one source-keyed window") {
    val p = plan("q167_epoch_quotas")
    assert("Window ".r.findAllIn(p).size === 1, p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }
}
