package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis scalar operators for training-data pipelines: token counting,
  * quality scoring, document fingerprinting. All pure column expressions
  * (codegen'd) — no UDFs in the hot path.
  */
object TextAnalysis {

  /** Whitespace token array. */
  def tokens(textCol: Column): Column = split(textCol, " ")

  /** Token count (whitespace tokenization). */
  def tokenCount(textCol: Column): Column = size(tokens(textCol)).cast("long")

  /** Stopword-hit count against a fixed lexicon. */
  def stopwordCount(textCol: Column, stopwords: Seq[String]): Column = {
    val arr = array(stopwords.map(lit): _*)
    size(filter(tokens(textCol), t => array_contains(arr, t))).cast("long")
  }

  /** Quality score in [0,1]: length credit × (1 - stopword ratio). */
  def qualityScore(textCol: Column, stopwords: Seq[String]): Column = {
    val n = tokenCount(textCol).cast("double")
    round(least(n, lit(100d)) / 100d *
      (lit(1d) - stopwordCount(textCol, stopwords).cast("double") / n), 3)
  }

  /** Polynomial rolling-hash fingerprint over the token sequence:
    * fp = fold(tokens, 0, (acc, t) => (acc * 31 + h(t)) mod 2^56) —
    * order-sensitive (unlike a content hash, near-identical token *sets* in
    * different order get different fingerprints), deterministic, single
    * projection. The modulus keeps every intermediate inside a signed long so
    * the expression is ANSI-mode safe. */
  def fingerprint(textCol: Column): Column = {
    val m = lit(1L << 56)
    aggregate(tokens(textCol), lit(0L),
      (acc, t) => pmod(acc * 31L + pmod(xxhash64(t), m), m))
  }

  /** Sliding-window document chunking: overlapping windows of `chunkTokens`
    * tokens advancing by `strideTokens` — the standard pre-tokenization
    * chunker for long documents. Pure generate + projection (explode over the
    * window-start sequence, then a slice/join per chunk): map-side only, no
    * shuffle, so it streams at any corpus size. The last window starts at the
    * final stride position that still covers new tokens. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, strideTokens: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val nChunks = greatest(
      ceil((size(toks) - lit(chunkTokens)).cast("double") / strideTokens).cast("int") + 1,
      lit(1))
    df.select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_id") * strideTokens + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Deterministic train/validation split assignment: first byte of
    * md5(key) under a cutoff → "valid", else "train". Reproducible across
    * engines, runs, and cluster sizes (no RNG, no ordering dependence) — the
    * property a held-out split needs so no document ever migrates between
    * splits as the corpus grows. `validPermille` is approximated to 1/256
    * granularity by the byte cutoff. */
  def deterministicSplit(key: Column, validPermille: Int = 102): Column = {
    // 1000 would need a 3-hex-char cutoff that the 2-char prefix compare
    // silently mangles; an all-valid split is not a split.
    require(validPermille >= 0 && validPermille <= 999,
      s"validPermille must be in 0..999, got $validPermille")
    val cutoff = f"${(validPermille * 256) / 1000}%02x"
    when(substring(md5(key.cast("string")), 1, 2) < lit(cutoff), "valid")
      .otherwise("train")
  }

  /** Corpus-unigram log-probability score — the classic LM-based quality
    * filter (documents whose tokens are improbable under the corpus unigram
    * distribution are boilerplate/garbled candidates): per doc, the mean of
    * `ln(count(token) / totalTokens)` over its tokens, rounded for
    * engine-determinism.
    *
    * Scale shape: token frequencies are ONE map-side-combined groupBy on the
    * token (the vocabulary is data-sized, so it is joined by hash — never
    * broadcast); the per-doc mean is a second keyed aggregation. Two
    * shuffles total, both on natural keys. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     scale: Int = 4): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // total token count from a map-only pass over the raw frame — summing
    // `freqs` would re-run the vocabulary shuffle just for this scalar
    val total = df.select(size(tokens(col(textCol))).as("__n"))
      .agg(sum(col("__n")).cast("long").as("__total"))
    toks.join(freqs, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(log(col("cnt").cast("double") / col("__total"))), scale)
        .as("mean_logprob"))
  }

  /** Corpus-bigram LM quality score: mean ln p(w2|w1) over the document's
    * adjacent token pairs, with p(w2|w1) = c(w1,w2) / c(w1,·) estimated from
    * the corpus itself (so every observed bigram has positive probability —
    * no smoothing constant to tune). The sharper sibling of
    * [[unigramLogProb]]: repetitive or templated text scores high,
    * word-salad scores low even when its unigrams are common.
    *
    * Scale shape: the bigram LM is built with one hash aggregate over the
    * pair stream (map-side combined); the leading-token totals ride a window
    * over the LM table (|bigram vocab| rows, not the corpus); scoring is one
    * equi-join on (w1, w2). */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    scale: Int = 4): DataFrame = {
    val t = tokens(col(textCol))
    val pairs = df
      .where(size(t) >= 2)
      .select(col(idCol), explode(arrays_zip(
        slice(t, lit(1), size(t) - 1).as("w1"),
        slice(t, lit(2), size(t) - 1).as("w2"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // leading-token totals by aggregate + join-back, not a window over w1:
    // a hot leading token's distinct-successor set (millions of rows for
    // "the" at corpus scale) would buffer in one unsplittable window
    // partition, while the aggregate partial-combines map-side and the
    // equi-join splits under AQE skew handling
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val lm = c12.join(
      c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1")), Seq("w1"))
    pairs.join(lm, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(round(avg(log(col("c12").cast("double") / col("c1"))), scale)
        .as("mean_bigram_logprob"))
  }

  /** BM25 relevance scores for a fixed query-term set (Robertson/Okapi,
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5))): the standard ranked text
    * retrieval over an inverted-index view of the corpus, expressed
    * relationally — per-(doc, term) tf, per-term df, corpus N and avgdl.
    * Returns (id, score) for every document containing ≥ 1 query term.
    *
    * Determinism: per-term contributions are quantized to integer
    * micro-units (floor(x·1e6 + 0.5)) before the per-document sum — integer
    * addition commutes, so the score is identical under any partition order
    * and in the SQL oracle, unlike a floating sum whose last bits depend on
    * aggregation order.
    *
    * Scale shape: tokens are filtered to the query terms INSIDE the array
    * (before explode), so the exploded stream carries only hits — the
    * shuffle is keyed by (doc, term) on that small stream. df/N/avgdl are
    * term-count- and scalar-sized; both enter via broadcast. Nothing
    * corpus-sized shuffles. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = array(queryTerms.distinct.map(lit): _*)
    val withDl = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    // corpus stats in ONE map-only pass: doc count + exact token total
    val stats = withDl.agg(count(lit(1)).as("n_docs"),
      sum(col("__dl")).as("total_dl"))
    val tf = withDl
      .select(col(idCol), col("__dl"),
        explode(filter(col("__toks"), t => array_contains(terms, t))).as("term"))
      .groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("total_dl").cast("double") / col("n_docs"))
      .withColumn("__idf",
        log(lit(1d) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("__c",
        floor(col("__idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1d) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))
          * 1e6 + 0.5).cast("long"))
      .groupBy(col(idCol))
      .agg((sum(col("__c")).cast("double") / 1e6).as("score"))
  }

  /** Per-document n-gram novelty of a new release against the prior corpus:
    * for every document matching `isNew`, the count and exact-permille
    * fraction of its distinct n-grams absent from the old slice's gram set —
    * the "how much genuinely new text does this release add" metric used to
    * prioritize crawl snapshots before paying for a full dedup pass.
    *
    * The permille is computed by INTEGER division on both engines (`div`
    * here, `//` in the oracle): a float ratio rounded at a boundary could
    * disagree with true integer division when the correctly-rounded quotient
    * lands exactly on an integer from below.
    *
    * Scale shape: one gram-keyed equi-join (the exact-decontamination
    * shape — the old gram set shuffles once by gram, never pairs with
    * anything corpus-quadratic) and one doc-keyed aggregation. At 100 TB
    * the old gram set would come pre-distinct from the release store
    * (SignatureStore pattern) instead of being rebuilt per run. */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String, n: Int,
                  isNew: Column): DataFrame = {
    val g = df.withColumn("__new", isNew)
      .select(col(idCol), col("__new"),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("gram"))
    val oldGrams = g.where(!col("__new"))
      .select(col("gram")).distinct().withColumn("__seen", lit(1))
    g.where(col("__new"))
      .join(oldGrams, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("novelty_permille",
        expr("(n_unseen * 1000) div n_grams"))
  }

  /** Token-distribution drift between two corpus slices (release N vs
    * N+1) — the monitoring statistic that catches a crawl whose content
    * shifted before it contaminates a training mix. Per token, the absolute
    * difference of its parts-per-million rate in each slice, computed
    * ENTIRELY in integer arithmetic (`c · 1e6 div N` — no float division,
    * so no summation-order or rounding hazard anywhere), sliced to the
    * top-k drifted tokens with a (drift desc, token asc) total order.
    *
    * Scale shape: one token-keyed aggregation with map-side partials (both
    * slices counted in the same pass via conditional sums), a one-row
    * totals broadcast, and an ordered slice — never a global sort. ppm
    * fits a long for any slice under ~9·10¹² tokens; beyond that, widen to
    * decimal(38,0). Both slices must be non-empty (ANSI division fails
    * loudly on a zero total rather than emitting silent nulls). */
  def tokenDrift(df: DataFrame, textCol: String, isNew: Column,
                 k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = df.withColumn("__new", isNew)
      .select(col("__new"), explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy("token")
      .agg(sum(when(col("__new"), 0L).otherwise(1L)).as("c_old"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("c_new"))
    val tot = counts.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"))
    counts.crossJoin(broadcast(tot))
      .withColumn("ppm_old", expr("(c_old * 1000000) div n_old"))
      .withColumn("ppm_new", expr("(c_new * 1000000) div n_new"))
      .withColumn("drift_ppm", abs(col("ppm_new") - col("ppm_old")))
      .orderBy(col("drift_ppm").desc, col("token").asc)
      .limit(k)
      .select("token", "c_old", "c_new", "ppm_old", "ppm_new", "drift_ppm")
  }

  /** Blocklist span scan: occurrence counts of every listed phrase in every
    * document — the opt-out / copyright / banned-content matcher that runs
    * BEFORE a corpus ships. Phrases are grouped by token length and each
    * length's pass tests the doc's overlapping n-grams against an
    * `array_contains` LITERAL — a codegen'd membership check, so the scan
    * is entirely map-side (no join, no shuffle of text) and the only
    * exchange is the tiny (doc, phrase) count aggregation. Occurrences,
    * not presence: overlapping windows are NOT distinct'd, so "x y x y"
    * counts "x y" twice.
    *
    * At a real 100 TB run the phrase list is lexicon-sized (thousands);
    * one literal array per distinct phrase length keeps the expression
    * linear in the list size. */
  def blocklistScan(df: DataFrame, idCol: String, textCol: String,
                    phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklistScan needs at least one phrase")
    val lens = phrases.map(_.split(" ").length).distinct.sorted
    // ALL lengths ride one corpus scan: each doc emits the concatenation of
    // its n-gram windows for every distinct phrase length, then one literal
    // membership filter. A doc shorter than n contributes nothing for that
    // length (not the whole-text fallback — a length-n phrase has exactly n
    // tokens, so the shorter fallback string could never equal it anyway),
    // and cross-length false matches are impossible for the same reason.
    val grams = lens.map { n =>
      when(size(col("__t")) >= n, Dedup.shinglesOfTokens(col("__t"), n))
        .otherwise(array().cast("array<string>"))
    }
    val lits = array(phrases.distinct.sorted.map(lit): _*)
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol),
        explode(flatten(array(grams: _*))).as("phrase"))
      .where(array_contains(lits, col("phrase")))
      .groupBy(col(idCol), col("phrase"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** One counting step of byte-pair-encoding vocabulary induction (Sennrich
    * et al. 2016, "Neural Machine Translation of Rare Words with Subword
    * Units"): the corpus-wide frequency of every adjacent character pair,
    * sliced to the top-`k` merge candidates — the statistic the BPE trainer
    * recomputes per merge round. Counting runs over word *occurrences*,
    * which equals the classic word-frequency-weighted formulation folded
    * into a single pass (Σ_word freq(word)·pairs(word) = Σ_occurrence
    * pairs(occurrence)).
    *
    * Scale shape: explode is map-side; the only shuffle is the pair-keyed
    * aggregation, whose key space is bounded by alphabet² — map-side partial
    * aggregation collapses the corpus to at most that many rows per
    * partition before the wire — and the top-k is an ordered slice
    * (TakeOrderedAndProject), never a global sort. Counts are integers and
    * (count desc, pair asc) is a total order, so the slice is deterministic
    * under any partitioning.
    *
    * The len ≥ 2 filter is load-bearing on the Spark side: `sequence(1,
    * len-1)` with len = 1 would be `sequence(1, 0)`, which descends. */
  def bpeMergePairs(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val words = df.select(explode(tokens(col(textCol))).as("word"))
      .where(length(col("word")) >= 2)
    words
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(k)
  }

  /** Iterative BPE vocabulary induction (Sennrich et al. 2016): the full
    * count → select-top-merge → re-segment loop that [[bpeMergePairs]] only
    * runs one counting round of. Returns one row per executed merge round:
    * (round, pair, pair_count), where `pair` is the selected merge in the
    * sentinel spelling below and `pair_count` its corpus frequency at
    * selection time. Stops early when no adjacent pair remains.
    *
    * Symbol representation: a word's segmentation is a single string with
    * every symbol BRACKETED as `!sym?` (words are pre-filtered to
    * `!`/`?`-free tokens), e.g. "aaab" → "!a?!a?!a?!b?"; merging pair (a,b)
    * is the literal string replace "!a?!b?" → "!ab?". Both sentinels are
    * load-bearing: a `!` can only occur at a symbol start, so a match
    * aligns to a symbol boundary, and the trailing `?` anchors each
    * symbol's END — with a prefix-only sentinel, merging (a,a) would
    * corrupt "!a!acb" (symbols a·acb) because "!a!a" matches into the
    * PREFIX of "acb"; "!a?!a?" cannot. Adjacent matches share no
    * characters, so `replace`'s left-to-right non-overlapping scan IS the
    * standard greedy merge order ("a a a" merges to "aa·a", not "a·aa"),
    * with identical semantics in Spark and DuckDB, so the oracle can
    * replay the loop verbatim. PropertiesSpec pins the whole trajectory
    * against a symbol-list reference trainer on random corpora.
    *
    * Scale shape: the corpus is scanned ONCE, collapsing to the distinct-
    * word frequency table (vocabulary-sized — millions of rows at 100 TB,
    * not tokens); every round then works on that table: one map-side pair
    * explode weighted by word frequency (Σ_word freq·pairs(word) equals
    * occurrence counting), one pair-keyed aggregation with map-side partials
    * (key space bounded by current-vocab adjacency, alphabet²-flavored), a
    * deterministic top-1 via ordered limit ((count desc, pair asc) is a
    * total order), and a pure-map string replace. Driver state is one row
    * per round — the k-means/PQ iterative-trainer idiom. Each round's table
    * is persisted and the previous unpersisted, so lineage stays flat. */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int,
               localThreshold: Long = LocalMergeThreshold): DataFrame = {
    val (words, merges) = bpeLoop(df, textCol, rounds, localThreshold)
    words.unpersist()
    df.sparkSession.createDataFrame(merges).toDF("round", "pair", "pair_count")
  }

  /** The trained word→segmentation map after `rounds` BPE merges: one row
    * per distinct ELIGIBLE word (≥ 2 chars, `!`-free — the [[bpeTrain]]
    * filter), with its final sentinel-spelled segmentation. This is the
    * artifact a tokenizer ships: [[bpeTokenCounts]] applies it; callers can
    * persist it like frozen PQ codebooks and re-segment later releases
    * without retraining. Vocabulary-sized (distinct words, not tokens). */
  def bpeVocab(df: DataFrame, textCol: String, rounds: Int,
               localThreshold: Long = LocalMergeThreshold): DataFrame = {
    val (words, _) = bpeLoop(df, textCol, rounds, localThreshold)
    // hand the caller an unpersisted, lineage-complete frame
    val out = words.select(col("word"), col("seg"))
    words.unpersist()
    out
  }

  /** ONE training pass returning BOTH artifacts a tokenizer release ships —
    * the merge table (round, pair, pair_count) and the final
    * word→segmentation vocabulary — so a persisting caller
    * ([[graft.pipeline.VocabStore.build]]) doesn't train twice. */
  def bpeTrainAndVocab(df: DataFrame, textCol: String, rounds: Int,
                       localThreshold: Long = LocalMergeThreshold)
      : (DataFrame, DataFrame) = {
    val (words, merges) = bpeLoop(df, textCol, rounds, localThreshold)
    val vocab = words.select(col("word"), col("seg"))
    words.unpersist()
    (df.sparkSession.createDataFrame(merges).toDF("round", "pair", "pair_count"),
      vocab)
  }

  /** Per-document token count under the BPE vocabulary trained by
    * [[bpeTrain]]'s loop on this same corpus: eligible words cost their
    * merged-symbol count, ineligible words (1-char, or containing the
    * sentinel) fall back to one token per character — the byte-fallback
    * convention real BPE tokenizers use for out-of-vocabulary input.
    * Returns (idCol, n_bpe_tokens).
    *
    * Scale shape: training is [[bpeTrain]]'s vocabulary-sized loop; the
    * application is one word-keyed equi-join (AQE-splittable on hot words;
    * the vocab side is vocabulary-sized and typically auto-broadcasts) and
    * one doc-keyed aggregation. The corpus text is scanned twice total:
    * once into the distinct-word table, once to tokenize for counting. */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                     rounds: Int,
                     localThreshold: Long = LocalMergeThreshold): DataFrame =
    bpeCountWithVocab(df, idCol, textCol,
      bpeVocab(df, textCol, rounds, localThreshold))

  /** [[bpeTokenCounts]]'s application half against an ALREADY-TRAINED
    * vocabulary — the frozen-artifact serving path (the classifier-weights /
    * PQ-codebooks idiom): one word-keyed equi-join plus a doc-keyed
    * aggregation, no training work. `StreamEntry.countTokens` runs exactly
    * this per micro-batch. */
  def bpeCountWithVocab(df: DataFrame, idCol: String, textCol: String,
                        vocab: DataFrame): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .join(vocab, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(size(split(col("seg"), "!")) - 1,
        length(col("word")))).as("n_bpe_tokens"))

  /** Word-count ceiling under which the merge loop runs ON THE DRIVER
    * (see [[bpeLoop]]). The word-frequency table is metadata-scale state —
    * DISTINCT words, not tokens: a few million rows at web-corpus scale,
    * the same class of driver state as k-means centroids or PQ codebooks —
    * so below this bound the remaining merges are a local computation and
    * the trainer stops paying 2 Spark jobs + a collect per merge. At 2M
    * words × ~100 B that is ~200 MB of driver heap, well inside any real
    * driver; above it the loop stays fully distributed. */
  val LocalMergeThreshold: Long = 2L << 20

  /** Per-document token SEQUENCE under an already-trained vocabulary — the
    * emission step a training-data pipeline actually ships (q143's counts
    * are `size` of this): eligible words emit their merged symbols in order,
    * out-of-vocabulary words fall back to one token per character (the
    * byte-fallback convention), and the output preserves original word
    * order. Returns (idCol, tokens array<string>).
    *
    * Scale shape: identical to [[bpeCountWithVocab]] — one word-keyed
    * broadcast equi-join plus one doc-keyed aggregation; the
    * order-restoring `array_sort` runs over ONE document's (position,
    * tokens) pairs, bounded per document, never corpus-wide. */
  def bpeTokenizeWithVocab(df: DataFrame, idCol: String, textCol: String,
                           vocab: DataFrame): DataFrame = {
    // "!a?!bc?" splits on '?' to ["!a", "!bc", ""]: keep 1..size-1, strip
    // the leading '!' from each symbol
    val parts = split(col("seg"), "\\?")
    val segSyms = transform(slice(parts, lit(1), size(parts) - 1),
      s => s.substr(lit(2), length(s) - 1))
    val charToks = filter(split(col("word"), ""), t => length(t) > 0)
    df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "word")))
      .join(vocab, Seq("word"), "left")
      .select(col(idCol), col("__pos"),
        when(col("seg").isNotNull, segSyms).otherwise(charToks).as("__toks"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__toks")))),
        x => x.getField("__toks"))).as("tokens"))
  }

  /** Tokenizer EVALUATION under a frozen vocabulary — the scorecard a team
    * reads before committing to a tokenizer release: per `sourceCol`, word /
    * token / character totals, how many words fell back to per-character
    * splitting (no trained segmentation), and the two standard ratios as
    * exact integer milli-units (fertility = tokens per word, compression =
    * characters per token — both `x * 1000 div y`, so no float division can
    * diverge between engines).
    *
    * Scale shape: the same single word-keyed broadcast join as
    * [[bpeCountWithVocab]], then ONE hash aggregation keyed by source
    * (map-side partials; source cardinality is tiny) plus a second
    * kilobyte-sized per-source doc-count aggregate broadcast back on. */
  def tokenizerFertility(df: DataFrame, idCol: String, textCol: String,
                         sourceCol: String, vocab: DataFrame): DataFrame = {
    val perDoc = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val words = df.select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("word"))
      .join(vocab, Seq("word"), "left")
      .withColumn("__c", coalesce(size(split(col("seg"), "!")) - 1,
        length(col("word"))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__c")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(when(col("seg").isNull, 1L).otherwise(0L)).as("n_fallback_words"))
    words.join(broadcast(perDoc), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"), col("n_fallback_words"),
        expr("div(n_tokens * 1000, n_words)").as("fertility_milli"),
        // n_tokens can be 0 when every word of a source is zero-length
        // (degenerate input); ANSI div would throw
        when(col("n_tokens") > 0, expr("div(n_chars * 1000, n_tokens)"))
          .as("compression_milli"))
  }

  /** Gopher-style repetition/quality rule card (Rae et al. 2021, Table A1
    * adapted to a whitespace corpus): per document, the standard filter
    * signals — word count, mean word length, alphabetic-word fraction,
    * stopword count, the character fraction of the MOST FREQUENT 2-gram,
    * and the character fraction covered by DUPLICATED 10-gram occurrences —
    * plus the conjunctive keep flag. All ratios are exact integer permille
    * (`div`), ties on the top 2-gram break lexicographically (via a
    * `min(struct(-cnt, gram))` aggregate — no window), so the card is
    * engine-deterministic.
    *
    * Scale shape: the word-level signals are per-row expressions; each gram
    * width costs ONE (doc, gram)-keyed aggregation with map-side partials
    * followed by a doc-keyed reduce — two shuffles total, both keyed by
    * high-cardinality ids, no corpus-wide window anywhere. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String]): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val stopArr = array(stopwords.map(lit): _*)
    val base = df.select(col(idCol), col(textCol).as("__t"),
        tokens(col(textCol)).as("__w"))
      .select(col(idCol), col("__t"),
        size(col("__w")).cast("long").as("n_words"),
        length(regexp_replace(col("__t"), " ", "")).cast("long").as("__cns"),
        size(filter(col("__w"), w => w.rlike("[a-zA-Z]"))).cast("long")
          .as("__alpha"),
        size(filter(col("__w"), w => array_contains(stopArr, w))).cast("long")
          .as("n_stop"),
        length(col("__t")).cast("long").as("__len"))
    def gramCounts(n: Int) = df
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("cnt"))
    val top2 = gramCounts(2)
      .groupBy(col(idCol))
      .agg(min(struct((-col("cnt")).as("nc"), col("g").as("g"))).as("m"))
      .select(col(idCol), (-col("m.nc")).as("__t2cnt"),
        length(col("m.g")).cast("long").as("__t2len"))
    val dup10 = gramCounts(10)
      .groupBy(col(idCol))
      .agg(sum(when(col("cnt") > 1, col("cnt") * length(col("g")))
          .otherwise(0L)).cast("long").as("__dupch"),
        sum(col("cnt") * length(col("g"))).cast("long").as("__allch"))
    base.join(top2, Seq(idCol)).join(dup10, Seq(idCol))
      .select(col(idCol), col("n_words"),
        expr("div(__cns * 1000, n_words)").as("mean_word_len_milli"),
        expr("div(__alpha * 1000, n_words)").as("alpha_word_permille"),
        col("n_stop"),
        // guarded: an empty/whitespace-only document has __len = 0 and
        // __allch = 0 (its only shingle is zero-length), and ANSI `div`
        // throws on a zero divisor — a degenerate doc must score null and
        // fail `keep`, not crash the filter pass
        when(col("__len") > 0, expr("div(__t2cnt * __t2len * 1000, __len)"))
          .as("top2_char_permille"),
        when(col("__allch") > 0, expr("div(__dupch * 1000, __allch)"))
          .as("dup10_char_permille"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len_milli") >= 3000 &&
          col("mean_word_len_milli") <= 10000 &&
          col("alpha_word_permille") >= 800 && col("n_stop") >= 2 &&
          col("top2_char_permille") <= 200 &&
          col("dup10_char_permille") <= 300)
  }

  /** Zipf coverage curve of a trained vocabulary — for each k in `ks`, what
    * fraction of the corpus's emitted token MASS the k most frequent
    * symbols cover (milli-units). The other half of the tokenizer
    * scorecard: [[tokenizerFertility]] says how many tokens a corpus costs;
    * this says how concentrated they are — a flat curve means the vocab is
    * wasted on rare symbols.
    *
    * Scale shape: one tokenize + symbol-keyed aggregation (map-side
    * partials; output is vocabulary-bounded), then each k takes an ordered
    * top-k SLICE (`TakeOrderedAndProject` — per-partition heaps, never a
    * global sort or an unpartitioned window) and reduces it to one row;
    * the union is |ks| rows joined against the kilobyte totals. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive: $ks")
    val freqs = bpeTokenizeWithVocab(df, idCol, textCol, vocab)
      .select(explode(col("tokens")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .cache()
    val totals = freqs.agg(sum(col("f")).as("total_tokens"),
      count(lit(1)).as("n_symbols"))
    ks.map { k =>
        freqs.orderBy(col("f").desc, col("tok").asc).limit(k)
          .agg(coalesce(sum(col("f")), lit(0L)).as("topk_tokens"))
          .withColumn("k", lit(k.toLong))
      }
      .reduce(_ unionByName _)
      .crossJoin(broadcast(totals))
      .select(col("k"), col("n_symbols"), col("total_tokens"),
        col("topk_tokens"),
        expr("div(topk_tokens * 1000, total_tokens)").as("covered_milli"))
  }

  /** The count → select-top-merge → re-segment loop shared by [[bpeTrain]],
    * [[bpeVocab]] and [[bpeTokenCounts]]. Returns the PERSISTED final word
    * table (word, seg, freq) — caller unpersists — and the executed merges.
    *
    * Two execution paths with IDENTICAL trajectories (PropertiesSpec pins
    * local ≡ distributed ≡ the symbol-list reference trainer):
    *   - word count ≤ `localThreshold`: the corpus-sized pass (one scan
    *     collapsing to the distinct-word table) runs in Spark, then the
    *     table collects to the driver and ALL merge rounds run locally with
    *     incrementally-maintained pair counts — O(affected words) per merge
    *     after the initial count, no Spark jobs in the loop. This is what
    *     lets the trainer reach realistic merge counts (10³–10⁵): at 32k
    *     merges the distributed loop would be ~64k sequential
    *     driver-coordinated jobs, a driver-orchestration bottleneck no
    *     cluster size fixes, while the local loop is seconds of CPU over
    *     metadata-sized state (the k-means/PQ "trainer state on the driver"
    *     argument, applied to the loop itself).
    *   - word count > threshold: each round = one pair aggregation + one
    *     pure-map replace, exactly as before (the honest distributed path
    *     when the vocabulary itself is too big to collect). */
  private def bpeLoop(df: DataFrame, textCol: String, rounds: Int,
                      localThreshold: Long = LocalMergeThreshold)
      : (DataFrame, Seq[(Int, String, Long)]) = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    var words = df.select(explode(tokens(col(textCol))).as("word"))
      .where(length(col("word")) >= 2 &&
        !col("word").contains("!") && !col("word").contains("?"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), regexp_replace(col("word"), "(.)", "!$1?").as("seg"),
        col("freq"))
      .persist()
    val nWords = words.count()
    if (nWords <= localThreshold) {
      val rows = words.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      words.unpersist()
      val (segs, localMerges) = bpeLocalLoop(rows, rounds)
      val out = df.sparkSession.createDataFrame(segs.toSeq)
        .toDF("word", "seg", "freq")
      return (out, localMerges)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    // previous round's lineage-cut RDD — unpersisted once the next round is
    // materialized (its blocks are no longer an input to anything)
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] =
      None
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // splitting "!a?!b?" on '?' yields ["!a", "!b", ""]: `!`-prefixed
      // symbols at 1..size-1; guard size >= 3 = at least two symbols
      // (sequence would descend on 1-symbol segs)
      val syms = split(col("seg"), "\\?")
      val top = words.where(size(syms) >= 3)
        .select(explode(transform(sequence(lit(1), size(syms) - 2),
          i => concat(element_at(syms, i), lit("?"),
            element_at(syms, i + 1), lit("?")))).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val merged = "!" + pair.replace("!", "").replace("?", "") + "?"
        merges += ((r, pair, top(0).getLong(1)))
        val computed = words.select(col("word"),
          call_function("replace", col("seg"), lit(pair), lit(merged)).as("seg"),
          col("freq"))
        // TRUNCATE the lineage each round, at BOTH layers. Logical: a fresh
        // frame over the computed RDD — without it round r's plan nests all
        // r-1 predecessors and per-action plan-description/analysis cost
        // grows superlinearly (a 64-round probe spent minutes inside
        // explainString, jstack-confirmed, while the jobs were
        // milliseconds). Physical: localCheckpoint cuts the RDD dependency
        // graph — without it task (de)serialization recurses through every
        // prior round and overflows the stack near round ~60. The previous
        // round's blocks are unpersisted explicitly once this round is
        // materialized, so the loop holds at most two rounds' storage.
        val nextRdd = computed.rdd
        nextRdd.localCheckpoint()
        val next = df.sparkSession.createDataFrame(nextRdd, computed.schema)
        next.count()
        words.unpersist()
        prevRdd.foreach(_.unpersist(blocking = false))
        prevRdd = Some(nextRdd)
        words = next
        r += 1
      }
    }
    (words, merges.toSeq)
  }

  /** A word's adjacent-pair occurrences in the distributed loop's exact
    * spelling: split on '?' (trailing "" kept, matching Spark's split),
    * symbols are the `!`-prefixed parts(0..L-2), pair j =
    * parts(j) + "?" + parts(j+1) + "?" — one entry PER POSITION (overlapping
    * repeats count per occurrence, as the pair aggregation does). */
  private def segPairs(seg: String): Array[String] = {
    val parts = seg.split("\\?", -1)
    val len = parts.length
    if (len < 3) Array.empty
    else Array.tabulate(len - 2)(j => parts(j) + "?" + parts(j + 1) + "?")
  }

  /** Spark's string ORDER BY is unsigned UTF-8 byte order (UTF8String);
    * the local top-1 tie-break must match it, not UTF-16 compareTo. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Driver-local merge loop over the COLLECTED word-frequency table — the
    * trajectory is identical to the distributed loop (PropertiesSpec pins
    * both against each other and the symbol-list reference trainer); what
    * changes is the cost model: pair counts are maintained INCREMENTALLY
    * (Sennrich's learn_bpe does the same), so after the O(words) initial
    * count each merge costs O(words containing the merged pair), and 10³–10⁵
    * merges are seconds of driver CPU instead of 2 Spark jobs each.
    * Exposed `private[graft]` for the equivalence property tests. */
  private[graft] def bpeLocalLoop(words: Array[(String, String, Long)],
                                  rounds: Int)
      : (Array[(String, String, Long)], Seq[(Int, String, Long)]) = {
    import scala.collection.mutable
    val n = words.length
    val segArr = words.map(_._2)
    val freqArr = words.map(_._3)
    val pairCounts = mutable.HashMap.empty[String, Long]
    val pairWords = mutable.HashMap.empty[String, mutable.Set[Int]]
    // the pair table kept SORTED by the selection's total order — (count
    // desc, pair asc in UTF-8 byte order), exactly the distributed
    // ORDER BY ... LIMIT 1 — so top-1 is O(log) instead of a full scan.
    // A 32k-merge probe run found the per-round full scan (with its
    // allocating tie-compares) dominating wall time ~100:1 once the pair
    // table reached 10^5 entries; the trajectory is unchanged, only the
    // selection's cost model.
    val ordered = mutable.TreeSet.empty[(Long, String)](
      new Ordering[(Long, String)] {
        def compare(a: (Long, String), b: (Long, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c else utf8Compare(a._2, b._2)
        }
      })
    // add (sign=1) or retract (sign=-1) word i's pair contributions
    def account(i: Int, sign: Long): Unit = {
      val ps = segPairs(segArr(i))
      var j = 0
      while (j < ps.length) {
        val p = ps(j)
        val prev = pairCounts.getOrElse(p, 0L)
        val c = prev + sign * freqArr(i)
        if (prev != 0L) ordered.remove((prev, p))
        if (c == 0L) pairCounts.remove(p)
        else { pairCounts.update(p, c); ordered.add((c, p)) }
        if (sign > 0L) pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
      if (sign < 0L) {
        var j2 = 0
        while (j2 < ps.length) {
          pairWords.get(ps(j2)).foreach { s =>
            s -= i; if (s.isEmpty) pairWords.remove(ps(j2))
          }
          j2 += 1
        }
      }
    }
    var i = 0
    while (i < n) { account(i, 1L); i += 1 }
    val merges = mutable.ArrayBuffer.empty[(Int, String, Long)]
    var r = 1
    while (r <= rounds && pairCounts.nonEmpty) {
      val (bestCount, bestPair) = ordered.head
      val merged = "!" + bestPair.replace("!", "").replace("?", "") + "?"
      merges += ((r, bestPair, bestCount))
      // only words actually containing the pair re-account; String.replace
      // is literal leftmost non-overlapping — the same greedy merge order
      // as the engines' replace()
      val affected = pairWords.getOrElse(bestPair, mutable.Set.empty).toArray
      var a = 0
      while (a < affected.length) {
        val w = affected(a)
        account(w, -1L)
        segArr(w) = segArr(w).replace(bestPair, merged)
        account(w, 1L)
        a += 1
      }
      r += 1
    }
    (Array.tabulate(n)(j => (words(j)._1, segArr(j), freqArr(j))),
      merges.toSeq)
  }
}
