package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * MinHash-LSH banding, SimHash, and n-gram Jaccard verification.
  *
  * All hashing uses `xxhash64` (codegen'd Catalyst expression) with literal
  * seeds, so signatures are deterministic across executors and runs. The
  * MinHash path is the 100 TB design: shingle → signature is a per-row map-side
  * projection; the only shuffle is the equi-join on (band, bucket-hash), which
  * scales with the number of *colliding* pairs rather than all pairs.
  */
object Dedup {

  /** A14: exact dedup on a key set (reference `drop_duplicates(keep="first")`,
    * `db_etl_upload/uploader.py:308-312`) made deterministic: keep the row with
    * the smallest `orderCol` per key group. */
  def exactFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))))
      .where(col("__rn") === 1).drop("__rn")

  /** Exact content dedup: group by content hash, keep min-id representative. */
  def exactByContent(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Word shingles of size `n` from a text column (codegen'd higher-order fns,
    * no UDF): overlapping n-token windows joined with spaces. */
  def shingles(textCol: Column, n: Int): Column =
    shinglesOfTokens(split(textCol, " "), n)

  /** [[shingles]] over an already-split token array — callers that need
    * several shingle widths stage the tokenization ONCE in a projection and
    * window it repeatedly (CollapseProject won't inline a multiply-referenced
    * non-trivial alias, so the split really does run once per row). */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** MinHash signature: `numHashes` min-hashes of the shingle set via the
    * classic permutation family — ONE xxhash64 per shingle, then `numHashes`
    * cheap universal-hash permutations `(a*h + b) mod p` (p = 2^31-1,
    * coefficients fixed by seed). 32× fewer hash evaluations than hashing
    * every shingle per slot; everything stays inside signed-long range so the
    * expression is ANSI-mode safe. Pure projection, no shuffle. */
  private val MersenneP = 2147483647L // 2^31 - 1

  /** One 31-bit base hash per shingle (single xxhash64 pass). */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => pmod(xxhash64(s), lit(MersenneP)))

  /** Signature from pre-computed base hashes via the native
    * [[graft.functions.MinHashSigExpr]]: all `numHashes` universal-hash
    * minima in ONE pass over the base-hash array (the composed form below
    * materializes a transformed array per slot per row). Coefficients are
    * the same seed-fixed sequence — signatures are identical (MinHashSpec).
    * The session must be built with `GraftExtensions`, as every
    * [[graft.LocalSession]] is. */
  def minhashFromHashes(baseHashes: Column, numHashes: Int): Column =
    call_function("graft_minhash", baseHashes, lit(numHashes), lit(0x5eed))

  /** The composed higher-order-function form of [[minhashFromHashes]] — the
    * semantic reference the native expression is tested against. Coefficients come from the SAME shared
    * generator, so the two forms cannot drift. */
  def minhashFromHashesHof(baseHashes: Column, numHashes: Int): Column = {
    val (as, bs) = graft.functions.MinHashCoefs.generate(numHashes, 0x5eed)
    array(as.indices.map { j =>
      array_min(transform(baseHashes, h => pmod(h * as(j) + bs(j), lit(MersenneP))))
    }: _*)
  }

  /** MinHash-LSH candidate pairs: signature → `bands` bands of
    * `numHashes/bands` rows each → band bucket hash → self-equi-join on
    * (band, bucket). Emits distinct (a_id, b_id) candidate pairs. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 16,
                        bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    // Stage the shingle array and the base-hash array in their own
    // projections — inlined, each of the `numHashes` slots would re-run the
    // shingle build and the xxhash pass per row.
    val sig = df.select(col(idCol).as("doc_id"),
        shingles(col(textCol), shingleSize).as("sh"))
      .select(col("doc_id"), shingleHashes(col("sh")).as("bh"))
      .select(col("doc_id"), minhashFromHashes(col("bh"), numHashes).as("sig"))
    // Explode the band index BEFORE hashing the band slice: the generator
    // then replicates the materialized signature array instead of inlining
    // the full 32-slot signature expression once per band (8× recompute).
    val banded = sig
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64(lit("band"), col("band"),
          to_json(slice(col("sig"), col("band") * rows + 1, lit(rows)))).as("bucket"))
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** MinHash near-dup pairs with exact Jaccard verification of the candidates
    * (estimate from signatures is free; exact check only touches candidates). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleSize: Int = 3,
                      numHashes: Int = 16, bands: Int = 8): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleSize, numHashes, bands)
    val sh = df.select(col(idCol).as("doc_id"),
      array_distinct(shingles(col(textCol), shingleSize)).as("sh"))
    cands
      .join(sh.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sh", "sh_a"), Seq("a_id"))
      .join(sh.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sh", "sh_b"), Seq("b_id"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Edit-distance-verified near-duplicate pairs: the character-level
    * verification pass layered on the MinHash pipeline (the shape of
    * RETSim-style dedup, where a cheap candidate generator is confirmed by
    * an exact string metric). A pair survives only if exact Jaccard ≥
    * `threshold` AND `levenshtein(a, b) ≤ maxEditRatio · max(|a|, |b|)` —
    * token-set similarity can be high for texts whose character sequences
    * differ a lot (reordered sentences), and the edit bound rejects those.
    *
    * Scale shape: candidate generation + Jaccard verify are
    * [[minhashNearDups]]'s (shuffle keyed by (band, bucket) collisions,
    * never the corpus pair space); the text join-back and the O(|a|·|b|)
    * dynamic-programming edit distance run for VERIFIED pairs only, so the
    * expensive metric's cost scales with the near-dup count. Both
    * `levenshtein` and the ratio comparison are exact integer / single-op
    * double arithmetic — deterministic under any partitioning. */
  def editVerifiedNearDups(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, maxEditRatio: Double,
                           shingleSize: Int = 3, numHashes: Int = 16,
                           bands: Int = 8): DataFrame = {
    require(maxEditRatio > 0 && maxEditRatio <= 1,
      s"maxEditRatio must be in (0, 1], got $maxEditRatio")
    val pairs = minhashNearDups(df, idCol, textCol, threshold,
      shingleSize, numHashes, bands)
    val txt = df.select(col(idCol), col(textCol))
    pairs
      .join(txt.select(col(idCol).as("a_id"), col(textCol).as("__ta")), Seq("a_id"))
      .join(txt.select(col(idCol).as("b_id"), col(textCol).as("__tb")), Seq("b_id"))
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .where(col("edit_dist").cast("double") <=
        lit(maxEditRatio) *
          greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
      .select(col("a_id"), col("b_id"), col("jaccard"), col("edit_dist"))
  }

  /** Near-containment pairs: C(a, b) = |Sa ∩ Sb| / min(|Sa|, |Sb|) over
    * df-capped distinct shingle sets — catches a small document quoted
    * wholesale inside a much larger one, which Jaccard-keyed MinHash-LSH
    * misses BY CONSTRUCTION: A ⊂ B with |B| ≫ |A| has Jaccard |A|/|B| → 0,
    * so no Jaccard threshold band ever collides the pair, while its
    * containment is 1.0 (Broder 1997 distinguishes resemblance from
    * containment for exactly this case).
    *
    * Scale shape: the q44 inverted-index discipline — a shingle occurring
    * in more than `dfCap` documents is dropped from BOTH the intersection
    * and the set sizes (containment over the capped sets; the oracle
    * mirrors the cap) — PLUS prefix filtering from the set-similarity-join
    * literature (Chaudhuri et al. 2006's SSJoin primitive; Bayardo et al.
    * 2007 All-Pairs; Xiao et al. 2008 PPJoin): only each document's RAREST
    * few shingles seed candidate pairs, so the per-shingle fan-out is
    * O(df_prefix × df), never O(df²) — and df_prefix is small precisely for
    * the hot shingles that dominate the unfiltered pair stream.
    *
    * Why the filter is LOSSLESS (the oracle stays the exact all-pairs
    * containment, proving it): for a qualifying pair, let m = min(|Sa|,|Sb|)
    * and o = ⌈(t − ε)·m⌉ ≤ |Sa ∩ Sb| the minimum shared-shingle count
    * (ε absorbs the 4-decimal rounding of the output filter). Sort every
    * doc's capped shingles by (global df, hash). The SMALLER doc misses at
    * most o − 1 of the shared shingles from its first |S| − o + 1 entries —
    * so at least one shared shingle sits in the smaller doc's PREFIX, and
    * trivially in the larger doc's full set. Candidates therefore come from
    * (prefix entry) × (full entry, larger-or-equal size) joins only. The
    * symmetric prefix×prefix form of PPJoin is sound for Jaccard but NOT
    * for containment-over-min (a 1-shingle doc fully contained in a huge
    * doc shares nothing with the huge doc's short prefix), hence the
    * asymmetric prefix×full join with the size inequality on the full side.
    * Every candidate is then verified by exact intersection counting over
    * the capped sets, so false candidates cost time, never correctness. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleSize: Int = 3,
                       dfCap: Int = 100): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // Shingle strings collapse to xxhash64 keys immediately: every exchange
    // and join in this pass carries 8-byte longs instead of ~60-byte strings
    // (measured 8.2 → ~7.3 s steady at sf0.1; the byte savings grow with
    // shingle width at 100 TB where the exchanges dominate). A 64-bit
    // collision merges two posting lists — vanishing below ~10⁹ distinct
    // shingles, and a bounded-candidate perturbation (never a miss) beyond.
    val raw = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), shingleSize))).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
    val rare = raw.groupBy(col("sh_h")).agg(count(lit(1)).as("__df"))
      .where(col("__df") <= dfCap)
    val sh = raw.join(rare, Seq("sh_h"))
    // ONE doc-keyed shuffle materializes each doc's capped set, sorted by
    // the global (df, hash) order (sort_array on the struct is exactly that
    // lexicographic order) — prefix, probe and verification all derive from
    // it map-side, so the set stream is never re-shuffled per use and no
    // per-doc window is needed. A per-row array of a doc's shingles is the
    // memory class every shingling caller already lives in (shingles()
    // itself builds one from the text in-row).
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("__df"), col("sh_h")))).as("__s"))
      .select(col("doc_id"),
        transform(col("__s"), s => s.getField("sh_h")).as("vals"),
        size(col("__s")).as("n_sh"))
    // The output filter keeps round(n_inter/m, 4) >= t, i.e. n_inter >=
    // (t − 5e-5)·m; the 1e-4 margin makes the float product's ceil
    // overshoot-proof (a product landing 1e-12 above an exact integer must
    // not raise the required overlap by one — that would shorten the prefix
    // below the lossless bound).
    val oMin = ceil((lit(threshold) - lit(0.0001)) * col("n_sh")).cast("int")
    val pref = sets
      .select(col("doc_id").as("p_id"), col("n_sh").as("p_n"),
        explode(slice(col("vals"), lit(1), col("n_sh") - oMin + 1)).as("sh_h"))
    val full = sets
      .select(col("doc_id").as("f_id"), col("n_sh").as("f_n"),
        explode(col("vals")).as("sh_h"))
    val cand = pref.join(full, Seq("sh_h"))
      .where(col("p_id") =!= col("f_id") && col("p_n") <= col("f_n"))
      .select(least(col("p_id"), col("f_id")).as("a_id"),
        greatest(col("p_id"), col("f_id")).as("b_id"))
      .distinct()
    // exact verification: id-keyed joins over the candidate set only;
    // array_intersect over the distinct-element capped sets equals the
    // shingle-join count of the unfiltered formulation
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("vals").as("__va"),
        col("n_sh").as("n_a")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("vals").as("__vb"),
        col("n_sh").as("n_b")), Seq("b_id"))
      .withColumn("n_inter",
        size(array_intersect(col("__va"), col("__vb"))).cast("long"))
      .withColumn("containment", round(col("n_inter").cast("double")
        / least(col("n_a"), col("n_b")), 4))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "n_inter", "containment")
  }

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise matches into dedup clusters (one keeper per component).
    *
    * Min-label propagation with pointer jumping: every node starts labeled
    * with its own id; each round every node takes the minimum label in its
    * neighborhood (including itself) and then follows its label's OWN label
    * one hop (path halving). The jump contracts label chains geometrically,
    * so convergence needs O(log diameter) rounds, not O(diameter) — a
    * million-node path converges in ~20 rounds instead of a million. Each
    * round is two keyed shuffles (edge join + label self-join), lineage cut
    * per round with localCheckpoint; iteration stops when a round changes
    * nothing. Labels only ever decrease and only ever hold ids from the same
    * component, so the fixpoint labels every component by its minimum id.
    *
    * @return (id, cluster) — every node from `pairs`, labeled with its
    *         component's minimum id.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("nmin"))
      val stepped = labels.withColumnRenamed("cluster", "old")
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("c1"))
      // Pointer jump (path halving) from round 2 on: adopt the label's own
      // label. Label values are always node ids, so the self-join hits unless
      // the label is already a root. Round 1 skips the jump — on the shallow
      // graphs LSH dedup produces, plain propagation settles most labels in
      // that round and the extra self-join shuffle would be pure overhead;
      // deep graphs still get the geometric contraction from round 2 onward.
      val jumped =
        if (iter == 0) stepped.withColumnRenamed("c1", "cluster")
        else {
          val parents = stepped.select(col("id").as("k"), col("c1").as("gp"))
          stepped.join(parents, col("c1") === col("k"), "left")
            .select(col("id"), col("old"),
              least(col("c1"), coalesce(col("gp"), col("c1"))).as("cluster"))
        }
      // The new label and the did-it-change flag are computed in ONE pass and
      // checkpointed together: the convergence probe is then a local scan of
      // the checkpointed blocks instead of another join+shuffle per round.
      val next = jumped
        .select(col("id"), col("cluster"), (col("cluster") < col("old")).as("__chg"))
        .localCheckpoint()
      converged = next.where(col("__chg")).isEmpty
      labels = next.drop("__chg")
      iter += 1
    }
    // A silent wrong answer is worse than a failure: if the graph's diameter
    // exceeds maxIter the labels are split components, not clusters. Callers
    // on adversarial long-path graphs should raise maxIter (cost is one
    // shuffle per extra round) or swap in large-star/small-star contraction.
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds; " +
        "graph diameter exceeds maxIter — raise maxIter or use star contraction")
    labels
  }

  /** Incremental connected components: the clusters of (old edge set ∪ new
    * edges) computed WITHOUT revisiting any old edge. Each old cluster is
    * contracted to a STAR — one (member → label) edge per member — which
    * preserves its connectivity exactly and costs |V_old| edges instead of
    * |E_old|; new edges then stitch stars and fresh nodes together in the
    * usual pointer-jump rounds.
    *
    * Labels are identical to a from-scratch [[connectedComponents]] over the
    * full edge set: old labels are component MINIMA, so the star keeps the
    * minimum reachable, and min-label propagation over a graph with the
    * same connectivity yields the same fixpoint. This is what makes a
    * resumable 100 TB dedup exact: each release contributes its pair
    * increment ([[graft.pipeline.SignatureStore.incrementalNearDups]]) and
    * the cluster map rolls forward in O(|V_old| + |E_new|) work per release.
    *
    * @param oldClusters (id, cluster) from the previous release's fixpoint
    * @param newPairs    pair increment; every pair touches ≥ 1 new doc */
  def incrementalComponents(oldClusters: DataFrame, newPairs: DataFrame,
                            aCol: String, bCol: String,
                            maxIter: Int = 20): DataFrame = {
    val star = oldClusters.where(col("id") =!= col("cluster"))
      .select(col("id").as("__a"), col("cluster").as("__b"))
    val fresh = newPairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
    connectedComponents(star.unionByName(fresh), "__a", "__b", maxIter)
  }

  /** Repeated-span scrubbing — the exact-substring deduplication of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et al.
    * 2022), at n-token granularity: every n-gram instance whose exact text
    * occurs more than once ANYWHERE in the corpus (including again in the
    * same document) marks its n token positions, and marked positions are
    * removed. Documents shorter than n tokens are untouched. Returns
    * (id, n_tokens, n_kept, scrubbed) with `scrubbed` null when nothing
    * survives.
    *
    * Scale shape: the repeated-instance decision is a gram-keyed
    * `groupBy.count` + join-back, NOT a count-over-window. The distinction
    * is what survives skew: partial aggregation collapses a hot gram to one
    * row per map partition before the wire, and the join-back is an equi-join
    * AQE's skew handling can split — whereas a window `partition by gram`
    * buffers every instance of a boilerplate gram (10⁸ occurrences at
    * 100 TB) in ONE unsplittable partition, which AQE cannot break up.
    * The gram stream is exploded twice (once per branch) — map-side scan
    * work, which is the right coin to pay to keep every shuffle skew-safe.
    * Covered positions and the rebuild shuffle on the doc id; nothing is
    * ever joined pairwise. PlanSpec pins the no-window property. */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val toks = split(col(textCol), " ")
    val covered = coveredPositions(df, idCol, textCol, n)
    val tok = df.select(col(idCol), posexplode(toks).as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("tok"))
    val kept = tok.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("scrubbed"))
    df.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("scrubbed"))
  }

  /** Contamination-span EXCISION — the surgical alternative to dropping a
    * contaminated document whole (q77/q114 flag; this CUTS): every n-token
    * window of a corpus document that appears VERBATIM in the benchmark
    * set is removed (covered positions merged across overlapping matches),
    * and the document re-emits with the matched spans cut out — the
    * eval-overlap scrub published code-corpus pipelines run (e.g. the
    * StarCoder/The-Stack decontamination pass).
    *
    * Same decision kernel and reassembly as [[scrubRepeatedSpans]]; only
    * the decision SET changes — benchmark grams instead of corpus-repeated
    * grams. Scale shape: the benchmark gram table is eval-sized (broadcast
    * at real scale — here a plain equi-join Catalyst sizes itself); the
    * corpus side is one gram pass + the anti-join + one doc-keyed
    * reassembly aggregation. No windows, no corpus pair space. */
  def scrubBenchmarkSpans(df: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val toks = split(col(textCol), " ")
    val benchGrams = bench
      .select(explode(shingles(col(benchTextCol), n)).as("gram")).distinct()
    val nGrams = size(toks) - (n - 1)
    val grams = when(nGrams >= 1,
      transform(sequence(lit(1), greatest(nGrams, lit(1))),
        i => struct(i.as("gpos"), array_join(slice(toks, i, lit(n)), " ").as("gram"))))
      .otherwise(array().cast("array<struct<gpos:int,gram:string>>"))
    val g = df.select(col(idCol), explode(grams).as("g"))
      .select(col(idCol), col("g.gpos").as("gpos"), col("g.gram").as("gram"))
    val covered = g.join(benchGrams, Seq("gram"))
      .select(col(idCol), explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .distinct()
    val tok = df.select(col(idCol), posexplode(toks).as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("tok"))
    val kept = tok.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("scrubbed"))
    df.select(col(idCol), size(toks).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("scrubbed"))
  }

  /** The token positions covered by ANY corpus-repeated n-gram: the shared
    * decision kernel of [[scrubRepeatedSpans]] and [[maximalRepeatedSpans]].
    * Returns distinct (id, pos), 1-based. The repeated-instance decision is
    * the skew-safe aggregate+join-back shape q119 pins (see
    * [[scrubRepeatedSpans]]'s scaladoc for why a gram-keyed window cannot
    * survive boilerplate grams at 100 TB). */
  private def coveredPositions(df: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val nGrams = size(toks) - (n - 1)
    // 1-based gram positions; empty when the doc is shorter than n tokens
    // (an unguarded sequence(1, 0) would DESCEND and fabricate grams)
    val grams = when(nGrams >= 1,
      transform(sequence(lit(1), greatest(nGrams, lit(1))),
        i => struct(i.as("gpos"), array_join(slice(toks, i, lit(n)), " ").as("gram"))))
      .otherwise(array().cast("array<struct<gpos:int,gram:string>>"))
    val g = df.select(col(idCol), explode(grams).as("g"))
      .select(col(idCol), col("g.gpos").as("gpos"), col("g.gram").as("gram"))
    // map-side partials make the count skew-proof; the > 1 filter keeps the
    // join-back build side to repeated grams only
    val dupGrams = g.groupBy(col("gram")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select(col("gram"))
    g.join(dupGrams, Seq("gram"))
      .select(col(idCol), explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .distinct()
  }

  /** Maximal repeated spans — the spans Lee et al. 2022's ExactSubstr
    * actually removes, recovered exactly from n-gram covers: one row per
    * MAXIMAL run of tokens that belongs to some corpus-repeated substring of
    * ≥ n tokens. The equivalence is two-sided: (⊆) every repeated substring
    * of length L ≥ n is tiled by L−n+1 repeated n-grams, so its positions are
    * n-gram-covered; (⊇) every repeated n-gram IS a repeated substring of
    * length n. Hence {positions in some repeated substring of length ≥ n} =
    * {positions covered by some repeated n-gram}, and the maximal removed
    * regions are precisely the maximal islands of covered positions — a
    * 50-token boilerplate repeat surfaces as ONE 50-token span, not 43
    * overlapping 8-gram windows. Returns (id, span_start, span_len,
    * span_text), span_start 1-based.
    *
    * Scale shape: [[coveredPositions]]'s aggregate+join-back decides
    * repetition (no gram-keyed anything); the island merge is a gaps-and-
    * islands window partitioned by DOC ID and ordered by position — bounded
    * by a single document's token count, the safe window class (PlanSpec's
    * repo-wide sweep admits it) — and the span text rejoins the document
    * row by id, an equi-join on the natural key. Nothing pairwise, nothing
    * gram-keyed past the aggregate. */
  def maximalRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val covered = coveredPositions(df, idCol, textCol, n)
    // gaps-and-islands: consecutive covered positions share (pos − rank)
    val isl = covered.withColumn("__grp",
      col("pos") - row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))))
    val spans = isl.groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("span_len"))
    spans.join(df.select(col(idCol), split(col(textCol), " ").as("__t")), Seq(idCol))
      .select(col(idCol), col("span_start").cast("long").as("span_start"),
        col("span_len"),
        array_join(slice(col("__t"), col("span_start"), col("span_len").cast("int")), " ")
          .as("span_text"))
  }

  /** Bloom-filter benchmark decontamination — the 100 TB path for the exact
    * shingle-overlap check (q77 semantics): build an `mBits`-bit Bloom filter
    * of the benchmark's distinct n-token shingles RELATIONALLY (positions →
    * 64-bit words → `bit_or` per word → one map literal), broadcast that
    * kilobyte-scale bitmap, and probe every corpus shingle map-side. Only the
    * Bloom HITS (true positives + the filter's false positives) reach the
    * exact verification join, so the expensive equi-join touches a candidate
    * stream instead of the full corpus shingle stream. Bloom filters have no
    * false negatives, so the output is EXACTLY the exact-join answer — same
    * oracle as the unfiltered operator.
    *
    * Scale shape: the benchmark side reduces to ≤ mBits/64 rows before the
    * single-row bitmap aggregate; the corpus side never shuffles until after
    * the probe filter; the verification join is keyed by shingle over the
    * (tiny) candidate set. At a real 100 TB corpus the benchmark shingle set
    * may itself exceed broadcast size — the bitmap (mBits/8 bytes, e.g. 8 KB
    * at 2^16 bits) broadcasts at any benchmark size, which is the point. */
  def bloomDecontaminate(df: DataFrame, idCol: String, textCol: String,
                         benchFilter: Column, n: Int, minOverlaps: Int,
                         mBits: Int = 1 << 16, kHashes: Int = 4): DataFrame = {
    require(mBits > 0 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a positive power of two, got $mBits")
    require(kHashes > 0, s"kHashes must be positive, got $kHashes")
    require(minOverlaps > 0, s"minOverlaps must be positive, got $minOverlaps")
    // i-th bit position of a shingle: xxhash64 seeded by the probe index
    // (hashing the index as a leading column derives k independent hashes
    // from one primitive)
    def pos(i: Int, c: Column): Column =
      pmod(xxhash64(lit(i), c), lit(mBits.toLong))
    // the Scala-API shiftleft/shiftright only take literal shift counts;
    // the SQL functions accept column operands
    def word(p: Column): Column =
      call_function("shiftright", p, lit(6)).cast("int")
    def mask(p: Column): Column =
      call_function("shiftleft", lit(1L), pmod(p, lit(64)).cast("int"))
    val benchSh = df.where(benchFilter)
      .select(explode(array_distinct(shingles(col(textCol), n))).as("shingle"))
      .distinct()
    val bitmap = benchSh
      .select(explode(array((0 until kHashes).map(i => pos(i, col("shingle"))): _*)).as("p"))
      .select(word(col("p")).as("w"), mask(col("p")).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("bm"))
    val corpusSh = df.where(!benchFilter)
      .select(col(idCol), explode(array_distinct(shingles(col(textCol), n))).as("shingle"))
    val hit = (0 until kHashes).map { i =>
      val p = pos(i, col("shingle"))
      (coalesce(element_at(col("bm"), word(p)), lit(0L))
        .bitwiseAND(mask(p))) =!= 0
    }.reduce(_ && _)
    corpusSh.crossJoin(broadcast(bitmap))
      .where(hit)
      .select(col(idCol), col("shingle"))
      .join(benchSh, Seq("shingle")) // exact verify: drops Bloom false positives
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlaps"))
      .where(col("n_overlaps") >= minOverlaps)
  }

  /** Leakage-safe train/valid split: assign the split by near-duplicate
    * CLUSTER, not by document. A per-document hash split leaks — a pair of
    * near-duplicates can straddle train and valid, and the model is then
    * evaluated on (a lightly edited copy of) its own training data. Here
    * every document inherits its [[connectedComponents]] cluster root
    * (singletons root at themselves) and the
    * [[TextAnalysis.deterministicSplit]] hash is taken on the ROOT id, so a
    * whole near-dup cluster lands on one side by construction.
    *
    * Scale shape: exactly [[minhashNearDups]] + pointer-jump components
    * (both carried verified, banded/bounded — never all-pairs) plus ONE
    * map-side hash expression on the root; the join back to documents is
    * the same left equi-join q87 uses. */
  def clusterSplit(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, validPermille: Int = 102): DataFrame = {
    val comp = connectedComponents(
      minhashNearDups(df, idCol, textCol, threshold), "a_id", "b_id")
    df.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster"), col(idCol)))
      .select(col(idCol), col("cluster_id"),
        graft.operators.TextAnalysis.deterministicSplit(col("cluster_id"),
          validPermille).as("split"))
  }

  /** SimHash-64 of a token multiset: each token's 64-bit hash votes ±1 per bit
    * position; the fingerprint sets bit j where the vote sum is positive.
    * Built as 64 conditional sums over exploded tokens — one shuffle on the id. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitVotes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val votes = toks.groupBy(col(idCol)).agg(bitVotes.head, bitVotes.tail: _*)
    val packed = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_ + _)
    votes.select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup candidates: block on 16-bit sub-bands (any identical
    * band → candidate), then filter by exact Hamming distance <= `maxHamming`.
    * Guarantees recall for maxHamming <= 3 with 4 bands (pigeonhole). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sh = simhash64(df, idCol, textCol)
    val banded = sh.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("band", "key")))
    val a = banded.select(col("band"), col("key"),
      col(idCol).as("a_id"), col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("key"),
      col(idCol).as("b_id"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "key")).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
