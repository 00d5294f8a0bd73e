package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.RollingHash

/** North-star text-analysis operators over the `documents` table (mandated
  * by BASELINE.json; absent from the reference — SURVEY.md §2D): token
  * counting, quality scoring, language-ID heuristic, and document
  * fingerprinting.
  *
  * Everything except the rolling-hash fingerprint is pure built-in column
  * expressions (regexp counts, arithmetic) — single scan, no shuffle, fully
  * pushdown/pruning-friendly: the shape you want for a 100 TB corpus pass.
  * The regex dialect is restricted to constructs Java regex and RE2 share,
  * so the DuckDB oracle runs the identical patterns.
  */
object TextAnalysis {

  /** Non-overlapping match count — the shared counting primitive for the
    * quality/PII/token surfaces (Java∩RE2 regex dialect so DuckDB oracles
    * run the identical pattern).
    */
  def countMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** The engine-wide stopword list: one definition feeding withQuality's
    * ratio, gopherQuality's presence rule, and (as a literal) the oracle
    * SQL — edit here and the oracles, not one of them.
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "or", "in")
  val stopwordRegex: String = s"\\b(${stopwords.mkString("|")})\\b"

  /** Whitespace tokens (runs of non-space). */
  def tokenCountWs(text: Column): Column = countMatches(text, "\\S+")

  /** BPE-ish sub-word tokens: letter runs, digit runs, single punctuation —
    * the classic pre-tokenizer split.
    */
  def tokenCountBpe(text: Column): Column =
    countMatches(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")

  /** Language-ID by marker-token frequency (n-gram/stopword heuristic).
    * Deterministic argmax with fixed precedence on ties.
    */
  val langProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of)\\b",
    "data" -> "\\b(data|table|row|column)\\b",
    "query" -> "\\b(query|join|filter|agg)\\b")

  def langScores(text: Column): Seq[(String, Column)] =
    langProfiles.map { case (lang, pat) => lang -> countMatches(text, pat) }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    // argmax with precedence = profile order (strictly-greater comparison)
    scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  /** Quality features + composite score: length, token stats, punctuation
    * and stopword ratios — the standard cheap pre-filter for training-data
    * curation.
    */
  def withQuality(docs: DataFrame): DataFrame = {
    val text = col("text")
    val nChars = length(text).cast("double")
    val nTokens = tokenCountWs(text)
    val nPunct = countMatches(text, "[^A-Za-z0-9\\s]").cast("double")
    val nStop = countMatches(text, stopwordRegex).cast("double")
    docs
      .withColumn("n_tokens", nTokens)
      .withColumn("n_tokens_bpe", tokenCountBpe(text))
      .withColumn("avg_token_len",
        when(nTokens > 0, nChars / nTokens.cast("double")).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(nChars > 0, nPunct / nChars).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nTokens > 0, nStop / nTokens.cast("double")).otherwise(lit(0.0)))
      .withColumn("quality_score",
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.4
          + (lit(1.0) - col("punct_ratio")) * 0.3
          + least(col("stopword_ratio") * 5.0, lit(1.0)) * 0.3)
  }

  /** Fingerprints: exact-content md5 plus the rolling hash (custom codegen
    * Expression) over whitespace-normalized text.
    */
  def withFingerprints(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(trim(col("text")), "\\s+", " ")
    docs
      .withColumn("fp_md5", md5(norm))
      .withColumn("fp_rolling", RollingHash.rolling_hash(norm))
  }

  // ------------------------------------------------- word n-grams

  /** Lowercased alphanumeric word array (runs of [a-z0-9] after lower()).
    * The shared tokenizer for the gram-based curation operators below;
    * the regex is Java/RE2-common so the DuckDB oracle splits identically.
    */
  def wordArray(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), w => w =!= "")

  /** All word n-grams (with multiplicity) as space-joined strings; empty
    * array when the doc has fewer than n words. Pure higher-order-function
    * expression — no explode, no shuffle.
    *
    * The `when` guard matters: Spark's `sequence(1, size-n+1)` generates a
    * DESCENDING sequence when the doc is short (stop < start), which would
    * fabricate grams from out-of-range slices.
    *
    * This is the REFERENCE form (string grams — what the DuckDB oracles
    * compute). The gram-statistics hot paths use [[gramHashes]] instead:
    * HOF lambdas are CodegenFallback, and exploding the interpreted string
    * pipeline measured ~10 µs/row; the codegen'd hash twin keeps the whole
    * stage compiled. Equivalence (hash-gram counts == string-gram counts)
    * is spec-asserted.
    */
  def wordGrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Single-space word normalization whose ' '-split tokens equal
    * [[wordArray]]'s exactly (collapse every non-alphanumeric run to one
    * space, trim the ends).
    */
  def normWords(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** In-order word n-gram xxhash64 values with multiplicity — the
    * codegen'd twin of [[wordGrams]] (custom Catalyst expression, tight
    * byte-scanning loop, no interpreted lambdas). A hash stands for its
    * gram string (64-bit collisions are the documented ngramJaccardPairs
    * trade), so counts/ratios computed over hashes equal the string form.
    */
  def gramHashes(text: Column, n: Int): Column =
    graft.functions.MinHash.word_gram_hashes(normWords(text), n)

  /** Benchmark-contamination check: for every corpus doc, the fraction of
    * its distinct word n-grams that appear anywhere in the benchmark set —
    * the standard eval-leak audit before training (n-gram overlap a la
    * GPT-3/PaLM appendix decontamination).
    *
    * 100 TB shape: the benchmark side is a fixed eval suite — tiny by
    * construction — so its distinct-gram set BROADCASTS, and the corpus
    * side is ONE tokenization pass: the gram count rides along the
    * posexplode_outer (so no second scan ever recomputes the gram
    * pipeline), the broadcast left join marks bench hits in place, and a
    * single map-side-combinable (doc_id) aggregation produces the audit.
    * No corpus-vs-corpus shuffle, no doc⋈doc join. Docs with zero grams
    * keep a row (outer explode, ratio 0) so the output is a total audit,
    * not a hit list.
    */
  def contamination(
      docs: DataFrame,
      isBenchmark: Column,
      n: Int = 5,
      flagThreshold: Double = 0.5): DataFrame = {
    // hashed grams (codegen'd expression) — exploding the interpreted
    // string-gram pipeline measured ~10 µs/row; the coalesce makes the
    // column non-nullable so InferFiltersFromConstraints cannot push an
    // isnotnull(<pipeline>) re-derivation below the projection (the
    // normText lesson)
    val withGrams = docs
      .withColumn("grams",
        coalesce(array_distinct(gramHashes(col("text"), n)),
          array().cast("array<long>")))
    val benchGrams = withGrams.filter(isBenchmark)
      .select(explode(col("grams")).as("gram"))
      .distinct()
    // `grams` is referenced EXACTLY once (inside the generator): a second
    // reference (e.g. a size() projection) gets inlined by CollapseProject
    // and the interpreted higher-order-function pipeline then evaluates
    // twice per row (measured ~10× on this op). The gram count is instead
    // recovered from the posexplode index: max(gi)+1, with the outer
    // explode's null row mapping empty docs to 0.
    withGrams.filter(!isBenchmark)
      .select(col("doc_id"),
        posexplode_outer(col("grams")).as(Seq("gi", "gram")))
      .join(broadcast(benchGrams.withColumn("bench_hit", lit(1))),
        Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        (coalesce(max(col("gi")), lit(-1)) + 1).cast("long").as("n_grams"),
        count(col("bench_hit")).as("n_overlap"))
      .withColumn("contamination_ratio",
        when(col("n_grams") > 0,
          col("n_overlap").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("contamination_ratio") >= flagThreshold)
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        col("contamination_ratio"), col("contaminated"))
  }

  /** Gopher-style repetition metrics: most-frequent-bigram share and
    * duplicate-trigram share per doc — the cheap boilerplate/degenerate-
    * text filter a curation pipeline runs corpus-wide.
    *
    * dup_trigram_ratio is computed entirely with array expressions
    * (distinct-size over size — no explode); only the bigram MODE needs a
    * (doc_id, gram) aggregation, and that shuffle carries gram COUNTS per
    * doc (vocabulary-sized), never the corpus text.
    */
  def repetitionMetrics(
      docs: DataFrame,
      topBigramMax: Double = 0.18,
      dupTrigramMax: Double = 0.30): DataFrame = {
    // hashed grams: the string-gram form of this operator measured ~20 s
    // at sf0.1 once the benchmark stopped letting the optimizer prune the
    // mode branch — the codegen'd hash expression keeps gram generation,
    // the explode, and the counts inside compiled stages
    val base = docs.select(
      col("doc_id"),
      gramHashes(col("text"), 2).as("bigrams"),
      gramHashes(col("text"), 3).as("trigrams"))
    val perDoc = base.select(
      col("doc_id"),
      size(col("bigrams")).cast("long").as("n_bigrams"),
      size(col("trigrams")).cast("long").as("n_trigrams"),
      size(array_distinct(col("trigrams"))).cast("long").as("n_distinct_trigrams"))
    val topBigram = base
      .select(col("doc_id"), explode(col("bigrams")).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_bigram_count"))
    perDoc
      .join(topBigram, Seq("doc_id"), "left")
      .withColumn("max_bigram_count", coalesce(col("max_bigram_count"), lit(0L)))
      .withColumn("top_bigram_ratio",
        when(col("n_bigrams") > 0,
          col("max_bigram_count").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("dup_trigram_ratio",
        when(col("n_trigrams") > 0,
          lit(1.0) - col("n_distinct_trigrams").cast("double")
            / col("n_trigrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("repetitive",
        col("top_bigram_ratio") > topBigramMax
          || col("dup_trigram_ratio") > dupTrigramMax)
      .select(col("doc_id"), col("n_bigrams"), col("max_bigram_count"),
        col("top_bigram_ratio"), col("n_trigrams"), col("dup_trigram_ratio"),
        col("repetitive"))
  }

  /** Gopher-style quality rule set (Rae et al. 2021, table A1 — the
    * published heuristic filter suite for web-scale corpora): word-count
    * bounds, mean-word-length band, symbol-to-word ratio, alphabetic-word
    * ratio, and required-stopword presence, each surfaced as its own flag
    * plus the conjunction.
    *
    * Every rule is a pure column expression over one scan — no shuffle, no
    * UDF, fully codegen'd — which is exactly how a 100 TB quality pass must
    * run: the filter decides while the text is still in the scan stage, so
    * rejected documents never reach an exchange. Ratios divide doubles
    * computed from integer counts, so both engines agree bit-for-bit.
    */
  def gopherQuality(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaRatio: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    val text = col("text")
    val nWords = countMatches(text, "\\S+").cast("long")
    // total non-whitespace chars / words = mean token length (exact ints in,
    // one IEEE division out — engine-portable)
    val nonWs = length(regexp_replace(text, "\\s", "")).cast("double")
    val nSymbols = countMatches(text, "#|\\.\\.\\.").cast("double")
    val alphaWords =
      size(filter(split(text, "\\s+"), w => w.rlike("[A-Za-z]"))).cast("long")
    val nStopPresent = stopwords.map(s =>
      when(text.rlike(s"\\b$s\\b"), 1).otherwise(0)).reduce(_ + _)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        when(nWords > 0, nonWs / nWords.cast("double")).otherwise(lit(0.0)))
      .withColumn("symbol_ratio",
        when(nWords > 0, nSymbols / nWords.cast("double")).otherwise(lit(0.0)))
      .withColumn("alpha_word_ratio",
        when(nWords > 0, alphaWords.cast("double") / nWords.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("n_stop_present", nStopPresent.cast("long"))
      .withColumn("flag_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("flag_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("flag_symbols", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("flag_alpha", col("alpha_word_ratio") >= minAlphaRatio)
      .withColumn("flag_stopwords", col("n_stop_present") >= minStopwords)
      .withColumn("pass_gopher",
        col("flag_word_count") && col("flag_mean_len") && col("flag_symbols")
          && col("flag_alpha") && col("flag_stopwords"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_word_ratio"), col("n_stop_present"),
        col("flag_word_count"), col("flag_mean_len"), col("flag_symbols"),
        col("flag_alpha"), col("flag_stopwords"), col("pass_gopher"))
  }

  // ------------------------------------------------- term statistics

  /** One row per token occurrence (normalized, whitespace-tokenized).
    * The generator for the term-statistics operators below: explode is
    * narrow; all reduction happens in the consumers' aggregates.
    */
  def tokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(Dedup.normText(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")

  /** Per-doc term counts — the single corpus-touching pass both term-
    * statistics operators build on: explode (narrow) + one (doc_id,
    * token) shuffle with map-side partial counts. Everything downstream
    * (global tf, df, rankings) derives from this vocabulary-×-doc-sized
    * table: df(token) is exactly its row count per token (rows = docs
    * containing the token), so no second corpus explode is ever needed.
    */
  def docTermCounts(docs: DataFrame): DataFrame =
    tokens(docs)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** [[docTermCounts]] plus POSITIONS: per (doc, token), tf and the
    * sorted 0-based token positions — the postings payload a phrase /
    * proximity query needs ([[phraseTopK]]). Same single tokenize pass
    * and (doc_id, token) shuffle as docTermCounts; the positions array
    * adds ~4 bytes per corpus token to the shuffle payload and the
    * persisted postings, bounded by doc length per posting. Readers
    * that don't select `positions` never pay for it (parquet column
    * pruning — BM25's probe reads (token, doc_id, tf, dl) only).
    */
  def docTermPostings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(
        split(graft.operators.Dedup.normText(col("text")), " "))
        .as(Seq("position", "token")))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("position"))).as("positions"))

  /** Pointwise-mutual-information co-occurrence pairs (Church & Hanks
    * 1990) over document-level token presence — the word-association
    * miner behind collocation extraction, taxonomy seeding, and
    * "unexpectedly co-occurring boilerplate" forensics in corpus audits.
    * Emitted on the integer lattice: `pmi_ratio_ppm` =
    * ⌊10⁶ · N · df(a,b) / (df(a) · df(b))⌋ — the RATIO whose log is PMI;
    * log is monotone, so rankings and thresholds transfer exactly while
    * every cell stays cross-engine hash-exact (a float log₂ cannot).
    * 10⁶ ppm = independence; above ⇒ attraction, below ⇒ repulsion.
    *
    * 100 TB shape: one corpus tokenize pass into the (doc, token)
    * presence table; `minDf` prunes the long tail BEFORE the doc-keyed
    * self-join (the join is inherently Ω(Σ tokens_per_doc²) — like every
    * co-occurrence computation, the OUTPUT can be that large; on
    * web-scale docs cap per-doc tokens to the top-T by tf first, same
    * plan). Pair multiplicities reduce in the partial aggregate; the
    * numerator product AND the df(a)·df(b) denominator both run in
    * DECIMAL(38) (`div` floors like the oracle's HUGEINT `//`), so
    * web-scale df products cannot overflow — a bare Long denominator
    * would overflow at df ≈ 3·10⁹ per factor.
    */
  def pmiPairs(
      docs: DataFrame,
      minDf: Long = 5L,
      minPairDf: Long = 5L): DataFrame = {
    val present = docTermCounts(docs).select(col("doc_id"), col("token"))
    val dfTab = present.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val kept = present.join(dfTab.filter(col("df") >= minDf), "token")
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .select(col("a.token").as("token_a"), col("b.token").as("token_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .groupBy(col("token_a"), col("token_b"), col("df_a"), col("df_b"))
      .agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= minPairDf)
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("df_ab"), col("df_a"),
        col("df_b"),
        expr("(CAST(df_ab AS DECIMAL(38,0)) * 1000000 * n_docs)" +
          " div (CAST(df_a AS DECIMAL(38,0)) * df_b)")
          .cast("long").as("pmi_ratio_ppm"))
      .orderBy(col("token_a"), col("token_b"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    * PageRank over the word co-occurrence graph — composed ENTIRELY from
    * operators this engine already oracle-proves: the [[pmiPairs]]
    * presence-pair graph supplies the edges, tokens get deterministic
    * 60-bit md5-prefix node ids (the repo-standard engine-portable
    * hash), and [[Graph.pageRankInt]] runs the integer-mass recurrence —
    * so the ranking is bit-reproducible and the DuckDB oracle replays
    * the whole composition (graph build + unrolled rounds) exactly.
    * Top-ranked words are the corpus's keyword nucleus — the cheap
    * unsupervised tagger for corpus exploration and domain labeling.
    *
    * Output: top `topK` rows `(token, mass, kw_rank)` by (mass desc,
    * token) — mass on [[Graph.pageRankInt]]'s integer lattice.
    *
    * 100 TB shape: pmiPairs' cost (one tokenize pass + the minDf-pruned
    * doc-keyed pair join) + PageRank on a VOCABULARY-sized graph — the
    * iterative stage never touches the corpus again.
    */
  def textRankKeywords(
      docs: DataFrame,
      minDf: Long = 5L,
      minPairDf: Long = 5L,
      iterations: Int = 10,
      topK: Int = 20): DataFrame = {
    // MATERIALIZE the (vocabulary²-bounded) pair table: edges, the token
    // map, and PageRank's own per-round checkpoints all re-derive their
    // lineage — without this the corpus-sized pmiPairs pipeline executes
    // once PER consumer (measured 130 s vs 23 s at the 10× probe)
    val pairs = pmiPairs(docs, minDf, minPairDf)
      .select(col("token_a"), col("token_b"))
      .localCheckpoint(true)
    def tid(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val edges = pairs
      .select(tid(col("token_a")).as("src"), tid(col("token_b")).as("dst"))
    val sym = edges
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = Graph.pageRankInt(sym, iterations)
    val tokenIds = pairs
      .select(col("token_a").as("token"))
      .unionAll(pairs.select(col("token_b").as("token")))
      .distinct()
      .select(col("token"), tid(col("token")).as("node"))
    ranks.join(tokenIds, "node")
      .orderBy(col("mass").desc, col("token"))
      .limit(topK)
      .select(col("token"), col("mass"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("mass").desc, col("token"))).cast("long")
          .as("kw_rank"))
  }

  /** Single-pass bounded-memory heavy hitters over the token stream —
    * the sketch twin of [[tokenFrequencies]]: a Misra-Gries
    * `TypedImperativeAggregate` ([[graft.functions.FreqSketch]]) whose
    * partial buffers carry ≤ `capacity` entries and merge associatively,
    * so the final reducer sees capacity-sized summaries no matter how big
    * the corpus is. est ≤ true ≤ est + max_underestimate is the MG
    * guarantee, spec-verified against exact counts; rank is the
    * deterministic (est desc, token) order within the summary.
    */
  def heavyHitters(docs: DataFrame, capacity: Int = 32): DataFrame =
    tokens(docs)
      .agg(graft.functions.FreqSketch.freq_sketch(col("token"), capacity)
        .as("sketch"))
      .select(posexplode(col("sketch")).as(Seq("rank", "entry")))
      .select(col("rank").cast("long").as("rank"),
        col("entry.item").as("token"),
        col("entry.est").as("est_count"),
        col("entry.err").as("max_underestimate"))

  /** Hash-verifiable Misra-Gries audit — the oracle-checkable face of
    * [[heavyHitters]]. The sketch's per-item estimates are merge-order
    * dependent (not SQL-recomputable), but the MG GUARANTEES are
    * deterministic claims over exact counts, which are:
    *
    *   - (a) every token with true_count × (capacity+1) > total_tokens
    *     MUST be reported (the classic MG survival bound, integer-exact —
    *     no division);
    *   - (b) every reported item satisfies est ≤ true ≤ est + err;
    *   - (c) the summary holds ≤ capacity entries.
    *
    * Output: one row per GUARANTEED-reported token (a deterministic,
    * SQL-computable set) carrying its exact count plus the claim
    * booleans, with the corpus-level (b)/(c) claims as constant columns.
    * The DuckDB oracle recomputes the exact side and pins every boolean
    * to TRUE — a sketch that drops a heavy hitter or breaks its error
    * bound now hash-mismatches instead of hiding behind a rows-only
    * check. (The spec additionally stresses (b) on adversarial corpora
    * where decrements actually occur.)
    *
    * Plan note: the exact-count branch is the same one-pass token
    * aggregation the equality twin uses; the audit evaluates it twice
    * (rows + claims). At 100 TB you would persist the token counts —
    * here the honest double scan keeps the query self-contained.
    */
  def heavyHittersAudit(docs: DataFrame, capacity: Int = 32): DataFrame = {
    val sk = heavyHitters(docs, capacity)
      .select(col("token"), col("est_count"), col("max_underestimate"))
    val ex = tokens(docs).groupBy(col("token"))
      .agg(count(lit(1)).as("true_count"))
    val tot = ex.agg(sum(col("true_count")).as("total_tokens"))
    val j = ex.join(broadcast(sk), Seq("token"), "left_outer")
      .crossJoin(broadcast(tot))
    val reported = col("est_count").isNotNull
    val boundOk = reported && col("est_count") <= col("true_count") &&
      col("true_count") <= col("est_count") + col("max_underestimate")
    val required =
      col("true_count") * (capacity + 1) > col("total_tokens")
    val claims = j.agg(
      sum(when(reported, 1L).otherwise(0L)).as("n_reported"),
      sum(when(reported && !boundOk, 1L).otherwise(0L)).as("n_viol"))
      .select(
        (col("n_reported") <= capacity).as("sketch_within_capacity"),
        (col("n_viol") === 0L).as("all_reported_bounds_ok"))
    j.filter(required)
      .select(col("token"), col("true_count"),
        reported.as("reported"), boundOk.as("bound_ok"))
      .crossJoin(broadcast(claims))
      .orderBy(col("token"))
  }

  /** Corpus token-frequency head (the Zipf table): term frequency +
    * document frequency, top `topN` by (tf desc, token) — a unique total
    * order, so LIMIT is deterministic. One corpus pass (docTermCounts) +
    * one token-key re-aggregation of the small per-doc table (tf = sum,
    * df = row count — exact, no countDistinct state), then
    * TakeOrderedAndProject for the head — no full sort.
    */
  def tokenFrequencies(docs: DataFrame, topN: Int = 50): DataFrame =
    docTermCounts(docs)
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topN)

  /** Per-doc top-k distinctive terms: rank by (tf desc, df asc, token) —
    * the TF-IDF ordering with an INTEGER-EXACT key (df-ascending is
    * monotone in idf; no float log, so the ranking is bit-reproducible
    * across engines and cluster sizes — a deliberate determinism choice
    * over a float score).
    *
    * Shape: ONE corpus pass (docTermCounts), then df attached as a
    * plain count window over the token partition — not a self-join: the
    * aggregate-then-join form re-scanned the corpus (Catalyst prunes the
    * df branch's tf column, the subtrees stop canonicalizing equal, and
    * ReuseExchange drops out — measured 2 full scans). Window form =
    * one scan + two small shuffles on the vocabulary-×-doc table.
    */
  def distinctiveTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val wDf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    docTermCounts(docs)
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"))
  }

  /** Model-based quality filtering PLUMBING — the linear-classifier pass
    * (fastText/logreg family) every production corpus runs after the
    * rule-based Gopher gate: score each doc with a hashed bag-of-words
    * linear model and keep docs over the decision boundary. The weights
    * here are a deterministic hash-derived stand-in (no trained model
    * ships in this sandbox); production swaps `feat` for a lookup into
    * broadcast trained weights — the plan shape (one scan, zero
    * shuffle, narrow HOF fold per row) is exactly what it would run.
    *
    * Determinism: the feature weight is INTEGER ((md5-derived 16-bit
    * feature id) mod 997 − 498) and the logit is an integer SUM, so the
    * score is exact on both engines — no float accumulation order, no
    * sigmoid transcendental at the boundary (sigmoid is monotone, so
    * thresholding the logit IS thresholding the probability).
    */
  def classifierScore(docs: DataFrame): DataFrame = {
    val ws = wordArray(col("text"))
    val feat = (w: Column) =>
      conv(substring(md5(w), 1, 4), 16, 10).cast("long") % 997L - 498L
    docs.select(
      col("doc_id"),
      size(ws).cast("long").as("n_words"),
      aggregate(ws, lit(0L), (acc, w) => acc + feat(w)).as("logit"))
      .withColumn("keep", col("logit") > 0L)
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model quality score — the perplexity-proxy filter
    * (CCNet / Wikipedia-LM family) that ranks documents by how typical
    * their word transitions are of the corpus: a doc full of common
    * transitions scores high, boilerplate-free natural prose scores mid,
    * and gibberish/OCR noise (transitions the corpus has never seen
    * twice) scores near zero. Here the model is trained ON the corpus
    * being scored — the self-scoring setup used for in-corpus outlier
    * detection; scoring against a fixed external model is the same plan
    * with the weight table read instead of derived.
    *
    * Model and score are INTEGER-EXACT so the oracle reproduces them bit
    * for bit (no float log-prob accumulation): with c2(g) = corpus count
    * of bigram g and c1(g) = count of g's history word as a history
    * (= Σ c2 over bigrams sharing g's first word),
    *
    *   weight(g) = (c2(g) · 10^6) div c1(g)      — scaled MLE P(w2|w1)
    *   lm_mass(d) = Σ_{g∈d, with multiplicity} weight(g)
    *   lm_avg(d)  = lm_mass(d) div n_bigrams(d)  — per-transition score
    *
    * Integer floor-division loses < 1 unit in 10^6 per bigram — ranking
    * noise far below any filtering threshold, in exchange for exact
    * cross-engine reproducibility (same argument as Graph.pageRankInt).
    *
    * 100 TB shape: ONE corpus tokenization pass (explode is narrow) into
    * a (doc_id, gram) partial-count aggregate; the model table (bigram
    * vocabulary) derives from that table, never from a second scan — c1
    * is `groupBy(head).agg(sum)` over the c2 table joined back by head
    * word (map-side partials, no per-key sort: the window form would
    * hash-partition every gram TYPE of a stop-word head onto one
    * reducer for a WindowExec sort — a needless skew cliff at web
    * scale). The (doc_id, gram) count table is lazily localCheckpointed:
    * it feeds THREE consumers (c2, c1 through it, and the scoring join),
    * and materializing it once replaces two full re-tokenizations of the
    * corpus (measured: ScaleCheck ×10 11.0 → 8.2 s, `Bench text_lm_score`
    * at sf0.1 ~4.3 s; checkpointing the later, thinner c2 instead LOST
    * ~2.3 s — it only deduplicates one consumer and adds a barrier). Cluster
    * twin: write the per-doc gram counts to a temp table. The
    * scoring join is gram-keyed vocabulary⋈per-doc-counts; hot grams
    * ("of the") skew the probe side, but the build side is one row per
    * gram so AQE's skew-join split handles it (the build row replicates
    * per split — no correctness interaction, unlike aggregations). One
    * final doc_id-keyed sum. Docs with <2 words keep a zeroed row (left
    * join) — the output is a total audit, not a hit list.
    */
  def lmScore(docs: DataFrame, scale: Long = 1000000L): DataFrame = {
    // fan the tokenize out of the scan stage when the source yields
    // fewer splits than cores (r17, [[Fanout.bySessionCores]]): the
    // gram explode + hash is the CPU of this operator and otherwise
    // runs entirely inside the scan's task count
    val bigrams = Fanout.bySessionCores(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(wordGrams(wordArray(col("text")), 2)).as("gram"))
    val dgc = bigrams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(false)
    val c2 = dgc.groupBy(col("gram")).agg(sum(col("k")).as("c2"))
      .withColumn("h", substring_index(col("gram"), " ", 1))
    val c1 = c2.groupBy(col("h")).agg(sum(col("c2")).as("c1"))
    val weights = c2.join(c1, "h")
      .select(col("gram"),
        expr(s"(c2 * ${scale}L) div c1").as("w"))
    val scored = dgc.join(weights, "gram")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("w")).as("lm_mass"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_mass"), lit(0L)).as("lm_mass"))
      .withColumn("lm_avg",
        when(col("n_bigrams") > 0L, expr("lm_mass div n_bigrams"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** Conjunctive full-text search with tf-idf ranking — the retrieval
    * face of the inverted index: docs containing ALL `terms`, ranked by
    *
    *   score(d) = Σ_t tf(d,t) · idf_int(t)
    *   idf_int(t) = ((N − df(t) + 1) · 10^6) div (df(t) + 1)
    *
    * — the add-one-smoothed idf on an integer lattice (monotone in the
    * real idf, so the RANKING is the tf-idf ranking; integer so the
    * score and therefore the top-k cut are bit-reproducible across
    * engines — same determinism trade as distinctiveTerms). Ties break
    * by doc_id: (score desc, doc_id) is a unique total order, so LIMIT
    * is deterministic.
    *
    * 100 TB shape: the `isin(terms)` filter sits directly on the exploded
    * token stream — BEFORE the (doc_id, token) aggregation, so only
    * query-term occurrences ever shuffle (the corpus pass is the scan; a
    * standing deployment replaces it with a prebuilt postings table, the
    * same IndexCache build/query split the similarity operators use, and
    * this plan from `matched` down IS the query side). df comes from the
    * matched postings themselves (df(t) = rows per token), N is one
    * broadcast scalar, and the conjunctive gate (n_terms == |terms|) is a
    * HAVING on the doc-keyed aggregate. Top-k = TakeOrderedAndProject —
    * per-partition heaps, no global sort.
    */
  def searchTopK(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.map(_.toLowerCase).distinct.size == terms.size,
      "terms must be non-empty and distinct")
    val scale = 1000000L
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val matched = tokens(docs)
      .filter(col("token").isin(terms.map(_.toLowerCase): _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val wDf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token"))
    matched
      .withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("idf",
        expr(s"((n_docs - df + 1) * ${scale}L) div (df + 1)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf") * col("idf")).as("score"))
      .filter(col("n_terms") === terms.size.toLong)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** A persisted inverted index, reloaded ([[graft.sinks.Sink
    * .writeTextIndex]] / `readTextIndex`) — the standing-deployment
    * postings table [[searchTopK]]'s scaladoc promises: `postings` =
    * `(token, doc_id, tf, dl, bucket)` partitioned by
    * `bucket = pmod(xxhash64(token), buckets)` so a term lookup reads
    * its bucket directories only; `dl` (doc length) rides DENORMALIZED
    * on every posting — the Lucene-norms trick: BM25's length
    * normalization needs dl per matched row, and 8 bytes per posting
    * beats a corpus-sized doc-length join at query time. `nDocs` /
    * `totalTokens` are the corpus constants (avgdl = totalTokens/nDocs
    * as an exact rational).
    */
  final case class TextIndex(
      postings: DataFrame,
      nDocs: Long,
      totalTokens: Long,
      buckets: Int,
      positionsCheck: () => Boolean = () => true) {

    /** Does the layout carry positional postings? LAZY: the check reads
      * parquet footers (per-layout schema inference), so BM25-only
      * paths — which never touch `positions` — never pay it; the
      * positional entry points force it once per reload.
      */
    lazy val hasPositions: Boolean = positionsCheck()

    /** Fail-fast guard every POSITIONAL entry point (phrase / proximity
      * / snippet, single and batch) calls before touching `positions`:
      * a pre-positions (v1) persisted layout — or a mixed one (v1 base +
      * v2 appended batches) — reads back with null position arrays, and
      * `explode(positions)` would silently drop every such row,
      * returning empty/incomplete results instead of an error. BM25
      * never reads the column and keeps working on any layout.
      */
    def requirePositions(op: String): Unit =
      require(hasPositions,
        s"$op needs positional postings, but this index layout predates " +
          "them (or mixes a pre-positions base with appended batches) — " +
          "rebuild the index with Sink.writeTextIndex; BM25 queries " +
          "remain available on the existing layout")
  }

  /** Bucket of a query term — MUST be the same arithmetic the writer
    * partitioned with (`pmod(xxhash64(token), buckets)`), evaluated
    * driver-side on the probe literals.
    */
  private[graft] def tokenBucket(t: String, buckets: Int): Int = {
    // seed 42 = the SQL `xxhash64` function's default seed
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        t, org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** BM25 top-k over a persisted inverted index, many queries per call —
    * the serving form ([[graft.streaming.StreamTextServe]] runs it per
    * micro-batch): `requests` is `(query_id, terms array<string>)`;
    * the probe is the UNION of the batch's terms (request-batch-bounded,
    * like the ANN serve probes), pushed as a static `bucket IN (...)`
    * partition predicate plus the token IN-list — a batch reads its
    * probed bucket directories, never the corpus.
    *
    * Scoring is Robertson–Spärck Jones BM25 on an exact integer lattice
    * (every division is `div`, replayable bit-for-bit in the oracle):
    *
    *   idf(t)     = ((N − df + 1)·10⁶) div (df + 1)      — the
    *                [[searchTopK]] lattice: monotone in the real
    *                log-idf, so rankings transfer while scores stay
    *                cross-engine hash-exact (a float ln cannot)
    *   norm_milli = (1000 − b) + (b·dl·N) div T           — b = 750 ‰
    *   score(d)   = Σ_t (idf·tf·(1000 + k1))
    *                    div (tf·1000 + (k1·norm_milli) div 1000)
    *                                                      — k1 = 1200 ‰
    *
    * k1/b ride a ‰ (milli) lattice so the worst-case product
    * idf·tf·2200 stays ≲ 10¹⁶ at these corpus sizes (Long-safe under
    * ANSI with 100× margin; at 10⁹ docs drop the idf lattice to 10³).
    * Saturation and length normalization keep their BM25 shape: score
    * is increasing-but-saturating in tf (toward idf·(1000+k1)/1000) and
    * decreasing in dl. Disjunctive (any term matches); ties break by
    * doc_id — (query_id, score desc, doc_id) is a unique total order.
    *
    * df comes from the matched postings themselves (one row per
    * (token, doc) ⇒ count-per-token IS df), N and T are plan literals
    * from the index meta — the per-term work after pruning is
    * Σ df(t) posting rows, never corpus-sized. df is computed as a
    * GROUPED aggregate (map-side partial counts) broadcast-joined back
    * — never a `count over (partition by token)` window: a window
    * funnels each term's entire postings list through ONE partition /
    * one task, so a single stop-word query term at corpus scale
    * serializes its df-sized list; the grouped form reduces to a
    * ≤ |terms|-row table that broadcasts for free (spec-asserted: no
    * token-partitioned WindowExec in the serve plan).
    *
    * Duplicate `query_id` rows here MERGE to their term UNION (the
    * probe dedupes on (query_id, token), and BM25's disjunctive sum
    * over a union is the union request's answer — spec-pinned:
    * TextIndexSpec's r17 union case) — well-defined but rarely
    * intended; the phrase/proximity/hybrid entries, whose recurrences
    * duplicates would silently corrupt instead, REJECT them
    * ([[requireUniqueQueryIds]]). Deduplicate request ids upstream.
    */
  def bm25QueryBatch(
      index: TextIndex,
      requests: DataFrame,
      k: Int = 20,
      k1Milli: Long = 1200L,
      bMilli: Long = 750L): DataFrame =
    bm25QueryBatchImpl(index, requests, k, k1Milli, bMilli,
      rejectDuplicatesFor = None)

  /** [[bm25QueryBatch]] plus an optional duplicate-`query_id`
    * rejection on behalf of a CALLER whose downstream keys per-query
    * state by id ([[rrfQueryBatch]] — its fuse would merge two
    * requests' legs): the check rides the request collect this entry
    * pays anyway, so the hybrid stack's contract costs zero extra
    * jobs. The public entry keeps its documented union semantics.
    */
  private def bm25QueryBatchImpl(
      index: TextIndex,
      requests: DataFrame,
      k: Int,
      k1Milli: Long,
      bMilli: Long,
      rejectDuplicatesFor: Option[String]): DataFrame = {
    // ONE request-batch-bounded collect ([[collectRequests]]): the
    // probe term union, the (query, token) score join AND the
    // hybrid-caller contract all derive from the same driver-side
    // rows (the StreamAnnServe idiom, minus the checkpoint pin)
    val reqRows = collectRequests(requests, "terms")
    rejectDuplicatesFor.foreach(caller =>
      requireUniqueQueryIds(reqRows.map(_._1), caller))
    bm25QueryBatchRows(index, requests.sparkSession, reqRows,
      k, k1Milli, bMilli)
  }

  /** [[bm25QueryBatchImpl]] below the request collect — the hybrid
    * stack hands every leg the SAME driver-side rows (one collect per
    * serving call, r18).
    */
  private def bm25QueryBatchRows(
      index: TextIndex,
      spark: org.apache.spark.sql.SparkSession,
      reqRows: Seq[(java.lang.Long, Seq[String])],
      k: Int,
      k1Milli: Long,
      bMilli: Long): DataFrame = {
    // the documented MERGE: distinct (query_id, token) pairs — null
    // ids survive here exactly as the pre-r17 column pipeline kept
    // them (boxed, Row-built schema below)
    val reqPairs: Seq[(java.lang.Long, String)] = reqRows.flatMap {
      case (q, ts) =>
        if (ts == null) Nil else ts.map(t => (q, lowerLikeSpark(t)))
    }.distinct
    val termList = reqPairs.map(_._2).distinct.sorted
    if (termList.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("doc_id"),
          lit(0L).as("score"), lit(0).as("rank"))
        .limit(0)
    }
    val probeBuckets = termList.map(tokenBucket(_, index.buckets))
      .distinct.sorted
    // LocalRelation for the score join — Row-built so a null query_id
    // flows exactly as the pre-r17 column pipeline carried it
    val req = spark.createDataFrame(
      java.util.Arrays.asList(reqPairs.map { case (q, t) =>
        org.apache.spark.sql.Row(q, t)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val matched = index.postings
      .filter(col("bucket").isin(probeBuckets: _*)) // static partition prune
      .filter(col("token").isin(termList: _*))
    // df per probed term: grouped aggregate (map-side partials) reduced
    // to a <= |terms|-row table, broadcast back onto the postings — see
    // scaladoc for why this must not be a token-partitioned window.
    // DELIBERATE trade: the df subtree and the scored subtree each scan
    // the pruned postings once (2× the probed bucket bytes) rather than
    // pinning `matched` on the executors — the pruned probe is
    // Σ df(term) rows, and re-reading hot parquet row groups beats
    // materializing a stop-word term's full postings list into
    // executor storage on every serving micro-batch (the pin would cost
    // memory/disk proportional to the largest df in the batch; the
    // second scan costs bounded, cache-friendly I/O)
    val dfByTerm = matched.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val scored = matched
      .join(broadcast(dfByTerm), "token")
      .withColumn("idf", expr(
        s"((${index.nDocs}L - df + 1) * 1000000L) div (df + 1)"))
      .withColumn("norm_milli", expr(
        s"(1000L - ${bMilli}L) + " +
          s"(${bMilli}L * dl * ${index.nDocs}L) div ${index.totalTokens}L"))
      .withColumn("term_score", expr(
        s"(idf * tf * (1000L + ${k1Milli}L)) div " +
          s"(tf * 1000L + (${k1Milli}L * norm_milli) div 1000L)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .join(broadcast(req), "token")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Single-query BM25 top-k — [[bm25QueryBatch]] with one request,
    * returning `(doc_id, score)` in rank order.
    */
  def bm25TopK(
      index: TextIndex,
      terms: Seq[String],
      k: Int = 20,
      k1Milli: Long = 1200L,
      bMilli: Long = 750L): DataFrame = {
    require(terms.nonEmpty &&
      terms.map(_.toLowerCase).distinct.size == terms.size,
      "terms must be non-empty and distinct")
    val spark = index.postings.sparkSession
    import spark.implicits._
    val req = Seq((0L, terms)).toDF("query_id", "terms")
    bm25QueryBatch(index, req, k, k1Milli, bMilli)
      .select(col("doc_id"), col("score"))
  }

  /** EXACT-PHRASE top-k over a persisted positional index — the first
    * question a retrieval user asks after BM25: docs where `phrase`'s
    * tokens appear CONSECUTIVELY, ranked by occurrence count (ties by
    * doc_id). Requires an index whose postings carry the `positions`
    * array ([[graft.sinks.Sink.writeTextIndex]] writes it on every
    * build; [[docTermPostings]] is the payload).
    *
    * Mechanics: candidates come from the SAME bucket-pruned term probe
    * as BM25 (static `bucket IN` partition prune + token IN-list pushed
    * to parquet — a phrase reads ≤ |distinct terms| bucket dirs, never
    * the corpus). Each phrase slot i shifts its term's positions by −i:
    * an ANCHOR a carries a full phrase occurrence iff every slot
    * matched at a — `count per (doc, anchor) == |phrase|` (positions
    * within a posting are distinct, so each slot contributes at most
    * one row per anchor; repeated phrase terms occupy distinct slots
    * and are counted per slot). This is the position-intersection a
    * sorted-merge would do, expressed as one (doc, anchor)-keyed
    * aggregate with map-side partials — Σ tf(term) rows into the
    * shuffle, never corpus-sized, no per-doc driver loop.
    */
  /** PROXIMITY top-k over a persisted positional index — the ranking
    * between BM25's bag-of-words and [[phraseTopK]]'s exact adjacency:
    * docs containing ALL query terms, ranked by the MINIMAL token
    * window that covers one occurrence of each (smaller window = terms
    * used together, not merely co-present; ties by doc_id). This is
    * Lucene's sloppy-phrase/min-span signal as a deterministic integer.
    *
    * Mechanics: the same bucket-pruned term probe, positions exploded
    * to `(doc, term, pos)` rows (Σ tf of the query terms), then the
    * classic one-pass min-window — at each position, the window back to
    * the stalest last-seen among the terms (per-term running `max(pos)`
    * window functions over the SAME per-doc sort), minimized per doc.
    * The window partitions by doc_id, so a partition is bounded by one
    * doc's matched positions (doc-length-bounded) — nothing like the
    * per-TOKEN window [[bm25QueryBatch]] had to avoid, whose partition
    * was df-bounded (corpus-scale for stop words).
    */
  def proximityTopK(
      index: TextIndex,
      terms: Seq[String],
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    index.requirePositions("proximityTopK")
    val distinctTerms = terms.map(_.toLowerCase).distinct
    val probeBuckets = distinctTerms
      .map(tokenBucket(_, index.buckets)).distinct.sorted
    val pts = index.postings
      .filter(col("bucket").isin(probeBuckets: _*)) // static partition prune
      .filter(col("token").isin(distinctTerms: _*))
      .select(col("token"), col("doc_id"),
        explode(col("positions")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lasts = distinctTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("pos"))).over(w).as(s"last_$i")
    }
    val lastCols = distinctTerms.indices.map(i => col(s"last_$i"))
    // least() needs two args; a one-term query's window is trivially 1
    val stalest =
      if (lastCols.size == 1) lastCols.head else least(lastCols: _*)
    pts
      .select((col("doc_id") +: col("pos") +: lasts): _*)
      .filter(lastCols.map(_.isNotNull).reduce(_ && _))
      .select(col("doc_id"),
        (col("pos") - stalest + 1).cast("long").as("window_len"))
      .groupBy(col("doc_id"))
      .agg(min(col("window_len")).as("window_len"))
      .orderBy(col("window_len"), col("doc_id"))
      .limit(k)
  }

  /** How many terms one proximity request may carry in
    * [[proximityQueryBatch]] — bounds the per-slot running-max columns
    * the dynamic form pivots through. Proximity queries are short term
    * sets by nature; raise with a recompile if a deployment needs more.
    */
  val MaxProximityTerms = 8

  /** [[proximityTopK]] in its SERVING form, many term-sets per call —
    * completing the batch trio (BM25 / phrase / proximity all serve
    * from one pruned probe per micro-batch): `requests` is `(query_id,
    * terms array<string>)`, each set ≤ [[MaxProximityTerms]] distinct
    * terms — a request over the cap is REJECTED INDIVIDUALLY (it gets
    * no answer rows; the rest of the batch is served normally), because
    * this form runs inside streaming foreachBatch where throwing on one
    * bad request would wedge the serving query permanently (the restart
    * re-reads the same poison batch). The probe is the batch's term
    * UNION pushed as the static `bucket IN (...)` prune, each request's
    * term set rides one broadcast join, and the min-window recurrence
    * runs per (query, doc) — the running-max windows partition by
    * (query_id, doc_id), still doc-length-bounded.
    *
    * The dynamic-term-set twist: the single-set form pins one
    * `last_<term>` column per literal term; here each (query, token)
    * gets a SLOT (dense per query), the per-slot running maxima pivot
    * through [[MaxProximityTerms]] fixed columns, and the per-query
    * arithmetic reads only its first `n_terms` slots via array HOFs
    * (`slice`/`array_min`/`exists` — all codegen'd, arrays ≤ 8 wide).
    * A doc ranks for a request only when every slot has been seen; ties
    * break by doc_id — (query_id, rank) is a unique total order.
    */
  /** REQUEST CONTRACT shared by the batch serving entries whose
    * recurrences key per-query state by `query_id` alone (phrase slot
    * counts, proximity windows, the hybrid fuse): one row per non-null
    * `query_id`. A duplicated id would SILENTLY corrupt, not crash —
    * [[phraseQueryBatch]]'s `phrase_len` is a groupBy(query_id) slot
    * count, so two rows sharing an id with different phrases sum their
    * lengths and match nothing — so the entries reject loudly instead
    * (the ANN probe side went the other way in r15, per-row window
    * keys, because its probe-set recurrence had a natural row key; the
    * text recurrences key on (query_id, doc_id, position) state where
    * a synthetic row key would ride every explode). JOB-FREE (r17):
    * the check runs DRIVER-SIDE on the request rows the entries
    * collect anyway for their probe term lists — the pre-r17 shape
    * paid a separate `.agg(count, countDistinct).head` Spark job per
    * serving call, the same standing per-micro-batch driver overhead
    * class the r16 valve-census work eliminated (and countDistinct's
    * null-skipping made an all-null batch report a misleading
    * "N rows, 0 distinct ids"). Null ids get their own message: a
    * null `query_id` is a different caller defect than a duplicate.
    */
  private def requireUniqueQueryIds(
      ids: Seq[java.lang.Long], caller: String): Unit = {
    val nNull = ids.count(_ == null)
    require(nNull == 0,
      s"$caller: null query_id rows in the request batch " +
        s"($nNull of ${ids.size} rows) - per-query recurrences key " +
        "state by query_id; assign each request a non-null unique id")
    val distinct = ids.distinct.size
    require(distinct == ids.size,
      s"$caller: duplicate query_id rows in the request batch " +
        s"(${ids.size} rows, $distinct distinct ids) - " +
        "per-query recurrences key state by query_id; assign each " +
        "request a unique id")
  }

  /** ONE driver-side collect of a serving request batch — `(query_id,
    * payload array)` rows, request-batch-bounded by the serving
    * contract. This single job replaces the pre-r17 trio per entry
    * (an eager `localCheckpoint` pin, the exploded-term-list collect,
    * and the duplicate-id contract agg): every derived artifact — the
    * uniqueness check, the probe term union, the slot tables, the
    * per-query term counts — is computed from these rows on the
    * driver and re-enters the plan as broadcast LocalRelations, so
    * "probe collect and joins read the SAME rows" holds by
    * construction instead of by checkpoint.
    */
  private def collectRequests(
      requests: DataFrame,
      payloadCol: String): Seq[(java.lang.Long, Seq[String])] =
    collectRequestsMulti(requests, Seq(payloadCol))
      .map { case (q, ps) => (q, ps.head) }

  /** [[collectRequests]] for callers that consume SEVERAL payload
    * columns of one request batch (the hybrid stack: terms + optional
    * phrase + optional prox_terms): ONE collect job feeds every leg
    * and every evidence pass of a serving call, where the pre-r18
    * shape paid one collect per leg — 3–5 scans of the same request
    * batch inside a single [[rrfSnippetQueryBatch]]. Within-call reuse
    * only: the rows live for this invocation, nothing persists.
    */
  private def collectRequestsMulti(
      requests: DataFrame,
      payloadCols: Seq[String]): Seq[(java.lang.Long, Seq[Seq[String]])] =
    requests
      // cast at the boundary: an int-typed query_id must not surface
      // as a ClassCastException deep in the serve path
      .select((col("query_id").cast("long").as("query_id") +:
        payloadCols.map(col)): _*)
      .collect().toSeq
      .map { r =>
        val q: java.lang.Long =
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        val ps: Seq[Seq[String]] = payloadCols.indices.map { i =>
          if (r.isNullAt(i + 1)) null else r.getSeq[String](i + 1)
        }
        (q, ps)
      }

  /** Driver-side twin of [[org.apache.spark.sql.functions.lower]] for
    * the collected request terms: the probe IN-lists and slot tables
    * must lower EXACTLY as the postings writer's `lower()` column did,
    * or a term that round-trips differently (non-ASCII case pairs)
    * would silently probe the wrong bucket — so this delegates to
    * Spark's own UTF8String implementation rather than
    * `String.toLowerCase`.
    */
  private def lowerLikeSpark(t: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(t)
      .toLowerCase.toString

  def proximityQueryBatch(
      index: TextIndex,
      requests: DataFrame,
      k: Int = 20): DataFrame = {
    index.requirePositions("proximityQueryBatch")
    proximityQueryBatchRows(index, requests.sparkSession,
      collectRequests(requests, "terms"), k)
  }

  /** [[proximityQueryBatch]] below the request collect (the
    * shared-collect hybrid-stack shape, r18). The positional-layout
    * check is the CALLER's — see [[phraseQueryBatchRows]].
    */
  private def proximityQueryBatchRows(
      index: TextIndex,
      spark: org.apache.spark.sql.SparkSession,
      reqRows: Seq[(java.lang.Long, Seq[String])],
      k: Int): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("window_len"), col("doc_id"))
    proximityWindowCandidatesRows(
      index, spark, reqRows, "proximityQueryBatch") match {
      case None =>
        spark.emptyDataFrame
          .select(lit(0L).as("query_id"), lit(0L).as("doc_id"),
            lit(0L).as("window_len"), lit(0).as("rank"))
          .limit(0)
      case Some(cands) =>
        cands
          .groupBy(col("query_id"), col("doc_id"))
          .agg(min(col("window_len")).as("window_len"))
          .withColumn("rank", row_number().over(wRank))
          .filter(col("rank") <= k)
          .orderBy(col("query_id"), col("rank"))
    }
  }

  /** [[snippetTopK]] in its SERVING form, many term-sets per call — the
    * missing fourth serving twin (BM25 / phrase / proximity / snippet):
    * snippets are exactly what a serving stack renders per request, so
    * the batch form exists for [[graft.streaming.StreamTextServe
    * .snippetWriter]] to run per micro-batch. Requests are `(query_id,
    * terms array<string>)` with the proximity term cap and per-request
    * rejection semantics ([[proximityWindowCandidates]]); per (query,
    * doc) the BEST window is the lexicographic `(window_len, win_start)`
    * struct argmin; the per-query top-k winners are COLLECTED
    * (k × |requests| bounded — the probe-union idiom) and their ids
    * pushed as ONE `doc_id IN (...)` parquet filter into the documents
    * scan, so a batch of snippet requests reads the winners' row groups
    * once, never the corpus.
    */
  def snippetQueryBatch(
      index: TextIndex,
      docs: DataFrame,
      requests: DataFrame,
      k: Int = 20): DataFrame = {
    index.requirePositions("snippetQueryBatch")
    val empty = requests.sparkSession.emptyDataFrame
      .select(lit(0L).as("query_id"), lit(0L).as("doc_id"),
        lit(0L).as("window_len"), lit(0L).as("win_start"),
        lit(0).as("rank"), lit("").as("snippet"))
      .limit(0)
    // same contract as the proximity entry it shares the recurrence
    // with: duplicate ids would merge to a conjunctive window over the
    // rows' term UNION — neither request's answer
    proximityWindowCandidates(index, requests, "snippetQueryBatch") match {
      case None => empty
      case Some(cands) =>
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("window_len"), col("doc_id"))
        val spark = requests.sparkSession
        import spark.implicits._
        val winners = cands
          .select(col("query_id"), col("doc_id"),
            struct(col("window_len"), col("win_start")).as("cand"))
          .groupBy(col("query_id"), col("doc_id"))
          // lexicographic (len, start) argmin — deterministic best window
          .agg(min(col("cand")).as("best"))
          .select(col("query_id"), col("doc_id"),
            col("best.window_len").as("window_len"),
            col("best.win_start").as("win_start"))
          .withColumn("rank", row_number().over(wRank))
          .filter(col("rank") <= k)
          .as[(Long, Long, Long, Long, Int)]
          .collect().toSeq // k × |requests| bounded, the probe idiom
        if (winners.isEmpty) return empty
        val best = winners
          .toDF("query_id", "doc_id", "window_len", "win_start", "rank")
        docs
          // ONE id push-down for the whole batch: k × |requests| ids
          .filter(col("doc_id").isin(winners.map(_._2).distinct: _*))
          .select(col("doc_id"), col("text"))
          .join(broadcast(best), Seq("doc_id"))
          .select(col("query_id"), col("doc_id"), col("window_len"),
            col("win_start"), col("rank"),
            array_join(
              slice(split(graft.operators.Dedup.normText(col("text")), " "),
                (col("win_start") + 1).cast("int"),
                col("window_len").cast("int")),
              " ").as("snippet"))
          .orderBy(col("query_id"), col("rank"))
    }
  }

  /** The shared min-window recurrence behind [[proximityQueryBatch]]
    * and [[snippetQueryBatch]]: per candidate position of each (query,
    * doc), the covering-window length back to the stalest last-seen
    * term AND that window's start. Returns None when the batch carries
    * no usable terms. ONE request-batch-bounded collect
    * ([[collectRequests]]) feeds the duplicate-id contract, the cap
    * check, the probe term union, the slot table AND the per-query
    * term counts — no other per-batch jobs on the serving hot path.
    * Slot mechanics and per-request cap rejection are documented on
    * [[proximityQueryBatch]].
    */
  private def proximityWindowCandidates(
      index: TextIndex,
      requests: DataFrame,
      caller: String): Option[DataFrame] = {
    val reqRows = collectRequests(requests, "terms")
    proximityWindowCandidatesRows(
      index, requests.sparkSession, reqRows, caller)
  }

  /** [[proximityWindowCandidates]] below the request collect (the
    * shared-collect hybrid-stack shape, r18).
    */
  private def proximityWindowCandidatesRows(
      index: TextIndex,
      spark: org.apache.spark.sql.SparkSession,
      reqRows: Seq[(java.lang.Long, Seq[String])],
      caller: String): Option[DataFrame] = {
    requireUniqueQueryIds(reqRows.map(_._1), caller)
    // per request: distinct lowered terms, slot = rank in sorted order
    // (the pre-r17 row_number-over-token window, driver-side)
    val perReq: Seq[(Long, Seq[String])] = reqRows.map { case (q, ts) =>
      (q.longValue,
        if (ts == null) Nil
        else ts.map(lowerLikeSpark).distinct.sorted)
    }
    // the term cap rejects PER REQUEST, never per batch: this runs
    // inside a streaming foreachBatch, where one oversized (or
    // malformed) request throwing would kill the serving query for
    // every client — and a restart from the checkpoint re-reads the
    // same poison batch and dies again, a permanent wedge. Oversized
    // requests simply get no answer rows (same shape as a no-match).
    val kept = perReq.filter(_._2.size <= MaxProximityTerms)
    val slotRows: Seq[(Long, String, Int)] = kept.flatMap {
      case (q, ts) => ts.zipWithIndex.map { case (t, i) => (q, t, i) }
    }
    val termList = slotRows.map(_._2).distinct.sorted
    if (termList.isEmpty) return None
    val probeBuckets = termList.map(tokenBucket(_, index.buckets))
      .distinct.sorted
    import spark.implicits._
    // LocalRelations from the collected rows — plan-embedded, no jobs
    val reqTerms = slotRows.toDF("query_id", "token", "slot")
    val nTerms = kept.collect { case (q, ts) if ts.nonEmpty =>
      (q, ts.size)
    }.toDF("query_id", "n_terms")
    val pts = index.postings
      .filter(col("bucket").isin(probeBuckets: _*)) // static partition prune
      .filter(col("token").isin(termList: _*))
      .select(col("token"), col("doc_id"),
        explode(col("positions")).as("pos"))
      .join(broadcast(reqTerms), "token")
      .join(broadcast(nTerms), "query_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lasts = (0 until MaxProximityTerms).map { i =>
      max(when(col("slot") === i, col("pos"))).over(w).as(s"last_$i")
    }
    val lastArr = array((0 until MaxProximityTerms)
      .map(i => col(s"last_$i")): _*)
    Some(pts
      .select((col("query_id") +: col("doc_id") +: col("pos") +:
        col("n_terms") +: lasts): _*)
      // this request's live slots only: [0, n_terms)
      .withColumn("live", slice(lastArr, lit(1), col("n_terms")))
      // a candidate window exists only once EVERY slot has been seen
      .filter(!exists(col("live"), _.isNull))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - array_min(col("live")) + 1).cast("long")
          .as("window_len"),
        array_min(col("live")).cast("long").as("win_start")))
  }

  /** RECIPROCAL-RANK FUSION — the standard hybrid-retrieval combiner
    * (Cormack/Clarke/Buettcher SIGIR'09): two ranked lists (typically
    * the lexical [[bm25QueryBatch]] leg and a semantic ANN leg over the
    * same ids) fuse by `Σ 1e6 div (kConst + rank)` on the integer ppm
    * lattice — rank-based, so the legs' incomparable score scales never
    * meet, and every cell is cross-engine hash-exact. Docs appearing in
    * only one leg keep that leg's contribution (RRF over the union, the
    * standard form); ties break by doc_id.
    *
    * 100 TB shape: both inputs are top-k tables (≤ k rows each — the
    * LEGS carry the scale story: bucket-pruned BM25, cell-pruned ANN);
    * the fuse itself is a k-row full-outer join — driver-trivial by
    * construction, so hybrid retrieval costs exactly its legs.
    */
  def rrfFuse(
      lexical: DataFrame,
      semantic: DataFrame,
      kConst: Long = 60L,
      k: Int = 20): DataFrame =
    // SINGLE-QUERY contract: each leg is one rank list (at most one row
    // per doc_id — a leg from a multi-query batch form must be sliced to
    // one query_id first, or use [[rrfQueryBatch]] which keys the fuse
    // by (query_id, doc_id)). The fold below delegates to the multi-leg
    // cascade under a constant query key.
    fuseLegs(
      Seq(lexical, semantic).map(_.withColumn("query_id", lit(0L))),
      kConst)
      .select(col("doc_id"), col("rrf_ppm"),
        col("rank_0").isNotNull.as("in_lexical"),
        col("rank_1").isNotNull.as("in_semantic"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)

  /** Multi-leg RRF — real stacks fuse MORE than two rank lists (BM25 +
    * a phrase/proximity boost + a semantic leg is the common trio).
    * Every leg carries `(query_id, doc_id, rank)`; the fuse is ONE
    * full-outer cascade on `(query_id, doc_id)` that keeps each leg's
    * rank column (NOT a fold of the 2-leg form, which would re-rank
    * between folds and corrupt the later legs' contributions), then
    * `rrf_ppm = Σ_i 1e6 div (kConst + rank_i)` over the union, per-query
    * `row_number` on `(rrf_ppm desc, doc_id)`, top-k per query.
    *
    * Output: `(query_id, doc_id, rrf_ppm, n_legs, rank)` where `n_legs`
    * counts the legs that ranked the doc — the fusion-evidence column an
    * operator reads before trusting a hybrid hit.
    *
    * 100 TB shape: each leg is a top-k-per-query table (the LEGS carry
    * the scale story — bucket-pruned BM25/phrase/proximity, cell-pruned
    * ANN); the cascade joins ≤ legs × k × |queries| rows — request-sized
    * by construction, so fusion costs exactly its legs.
    */
  def rrfFuseAll(
      legs: Seq[DataFrame],
      kConst: Long = 60L,
      k: Int = 20): DataFrame = {
    require(legs.size >= 2, "rrfFuseAll fuses at least two legs")
    val fused = fuseLegs(legs, kConst)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    val presence = legs.indices
      .map(i => when(col(s"rank_$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    fused
      .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
        presence.as("n_legs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** HYBRID retrieval in its SERVING form — the [[bm25QueryBatch]] twin
    * for the fused stack: each request carries BOTH its lexical terms
    * and its query embedding (`(query_id, terms array<string>,
    * embedding array)`), the lexical leg answers via the bucket-pruned
    * BM25 batch probe, the semantic leg via the cell-pruned
    * integer-lattice ANN probe
    * ([[graft.operators.Similarity.ivfQueryVectorsIntProbe]] — requires
    * an exact-Lloyd index), and the top-`legK` lists fuse per
    * `(query_id, doc_id)` through [[rrfFuseAll]].
    * [[graft.streaming.StreamTextServe.hybridWriter]] runs this per
    * micro-batch.
    *
    * BOOST LEGS: requests may OPTIONALLY carry a `phrase`
    * (`array<string>`) and/or `prox_terms` (`array<string>`) column —
    * when the column is present, a phrase leg ([[phraseQueryBatch]])
    * and/or a proximity leg ([[proximityQueryBatch]]) joins the fuse,
    * the 3–4-leg stack a production ranker actually runs (BM25 recall +
    * exact-phrase boost + tightness boost + semantic recall). Per-query
    * nulls degrade gracefully: a request whose `phrase` is null simply
    * gets no phrase-leg rows (the fuse is a full outer union — its
    * other legs still score), so one batch can mix 2-, 3- and 4-leg
    * requests. Requests WITHOUT the columns fuse exactly the original
    * two legs — bit-identical output to the 2-leg form (`rrf_ppm` is a
    * leg-order-independent sum and `n_legs` counts only present legs).
    *
    * Per micro-batch cost is exactly its legs' (probed text buckets —
    * shared bucket-pruning across the three text legs' term unions —
    * + probed ANN cells + request-bounded collects); the fuse joins
    * ≤ legs × legK × |requests| rows.
    */
  def rrfQueryBatch(
      textIndex: TextIndex,
      annIndex: graft.operators.Similarity.IvfIndex,
      requests: DataFrame,
      kConst: Long = 60L,
      k: Int = 20,
      legK: Int = 50,
      nprobe: Int = 4): DataFrame =
    rrfQueryBatchShared(
      textIndex, annIndex, requests, kConst, k, legK, nprobe)._1

  /** [[rrfQueryBatch]] also handing back the ONE collected request
    * batch so [[rrfSnippetQueryBatch]]'s evidence passes reuse it —
    * the whole serving call (text legs + evidence) reads the requests
    * with a single Spark job (within-call reuse only; r18 — the former
    * shape collected once per leg and once per evidence pass, 3–5
    * scans of the same batch per call).
    */
  private def rrfQueryBatchShared(
      textIndex: TextIndex,
      annIndex: graft.operators.Similarity.IvfIndex,
      requests: DataFrame,
      kConst: Long,
      k: Int,
      legK: Int,
      nprobe: Int): (DataFrame, ServingRequestRows) = {
    val spark = requests.sparkSession
    val hasPhrase = requests.columns.contains("phrase")
    val hasProx = requests.columns.contains("prox_terms")
    val payloadCols = Seq("terms") ++
      (if (hasPhrase) Seq("phrase") else Nil) ++
      (if (hasProx) Seq("prox_terms") else Nil)
    val collected = collectRequestsMulti(requests, payloadCols)
    val rows = ServingRequestRows(
      terms = collected.map { case (q, ps) => (q, ps.head) },
      phrase =
        if (hasPhrase) Some(collected.map { case (q, ps) => (q, ps(1)) })
        else None,
      proxTerms =
        if (hasProx)
          Some(collected.map { case (q, ps) =>
            (q, ps(if (hasPhrase) 2 else 1))
          })
        else None)
    // one row per query_id ([[requireUniqueQueryIds]]) — the fuse keys
    // by (query_id, doc_id), so a duplicate would merge two requests'
    // legs. Checked once on the shared collect, on behalf of the whole
    // stack (same message the lexical leg's collect used to carry)
    requireUniqueQueryIds(rows.terms.map(_._1), "rrfQueryBatch")
    // positional-layout contracts for the boost legs, in the pre-r18
    // order (after the lexical leg's id check, before leg construction)
    if (hasPhrase) textIndex.requirePositions("phraseQueryBatch")
    if (hasProx) textIndex.requirePositions("proximityQueryBatch")
    val lex = bm25QueryBatchRows(
      textIndex, spark, rows.terms, legK, 1200L, 750L)
    val phrase = rows.phrase.map(phraseQueryBatchRows(
      textIndex, spark, _, legK))
    val prox = rows.proxTerms.map(proximityQueryBatchRows(
      textIndex, spark, _, legK))
    val sem = graft.operators.Similarity.ivfQueryVectorsIntProbe(
      annIndex, requests.select(col("query_id"), col("embedding")),
      legK, nprobe)
      .withColumnRenamed("vec_id", "doc_id")
    (rrfFuseAll(Seq(lex) ++ phrase ++ prox ++ Seq(sem), kConst, k), rows)
  }

  /** The one serving-call request collect, per payload column —
    * [[rrfQueryBatchShared]]'s hand-off to the evidence passes.
    */
  private final case class ServingRequestRows(
      terms: Seq[(java.lang.Long, Seq[String])],
      phrase: Option[Seq[(java.lang.Long, Seq[String])]],
      proxTerms: Option[Seq[(java.lang.Long, Seq[String])]])

  /** The SEARCH-RESULTS-PAGE call: hybrid fusion + snippet evidence in
    * ONE serving batch — [[rrfQueryBatch]]'s fused top-k per request
    * (including any boost legs its optional columns carry), each winner
    * annotated with the best covering window of the request's TERMS
    * over the winner's text (the highlight a results page renders under
    * a fused hit). A winner surfaced by the semantic leg alone need not
    * contain every term — its window/snippet columns are NULL and no
    * text is read for it (production behavior: show the hit, skip the
    * highlight).
    *
    * PHRASE-PREFERENTIAL evidence: when a request carries the optional
    * `phrase` boost column ([[rrfQueryBatch]]) and a winner contains at
    * least one FULL occurrence of it, the evidence window is the FIRST
    * exact-phrase occurrence (`win_start` = min anchor, `window_len` =
    * phrase length) instead of the terms min-window — a results page
    * highlights the exact phrase preferentially when one exists. The
    * trigger is containment, not phrase-leg RANK: a winner holding the
    * phrase but pushed past the leg's top-legK cut still deserves (and
    * gets) the phrase highlight. Winners without a full occurrence
    * (and all requests without the column — bit-identical to the
    * pre-phrase form) keep the terms window.
    *
    * Cost: the fused legs + ONE extra min-window pass over the SAME
    * probed term buckets (the [[proximityWindowCandidates]] recurrence,
    * pruned to the fused winners BEFORE the argmin), plus — only for
    * phrase-bearing batches — one winner-pruned anchor pass over the
    * phrase terms' probed buckets ([[phraseQueryBatch]]'s recurrence
    * with the winner join BEFORE the positions explode), + bounded
    * collects (fused winners and snippet-bearing ids are both
    * ≤ k × |requests|) pushing one `doc_id IN (...)` filter into the
    * documents scan. Never a corpus pass.
    */
  def rrfSnippetQueryBatch(
      textIndex: TextIndex,
      annIndex: graft.operators.Similarity.IvfIndex,
      docs: DataFrame,
      requests: DataFrame,
      kConst: Long = 60L,
      k: Int = 20,
      legK: Int = 50,
      nprobe: Int = 4): DataFrame = {
    textIndex.requirePositions("rrfSnippetQueryBatch")
    val spark = requests.sparkSession
    import spark.implicits._
    // ONE shared request collect feeds the fused legs AND the evidence
    // passes below (r18); the fused winners are COLLECTED directly —
    // ≤ k × |requests| rows (the probe-union idiom), re-entering the
    // plan as a LocalRelation, so the former eager-checkpoint pin (one
    // extra job per call) bought nothing the collect doesn't give
    val (fused, reqRows) = rrfQueryBatchShared(
      textIndex, annIndex, requests, kConst, k, legK, nprobe)
    val winners = fused
      .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
        col("n_legs"), col("rank"))
      .as[(Long, Long, Long, Int, Int)].collect().toSeq
    val winnersDf = winners
      .toDF("query_id", "doc_id", "rrf_ppm", "n_legs", "rank")
    def withNullEvidence(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("doc_id"), col("rrf_ppm"),
        col("n_legs"), col("rank"),
        lit(null).cast("long").as("window_len"),
        lit(null).cast("long").as("win_start"),
        lit(null).cast("string").as("snippet"))
        .orderBy(col("query_id"), col("rank"))
    if (winners.isEmpty) return withNullEvidence(winnersDf)
    val winnerKeys = winnersDf.select(col("query_id"), col("doc_id"))
    val termBests: Option[DataFrame] = proximityWindowCandidatesRows(
        textIndex, spark, reqRows.terms,
        "rrfSnippetQueryBatch").map { cands =>
      cands
        // prune the recurrence's candidates to the fused winners
        // BEFORE the argmin — windows are only evidence for hits
        .join(broadcast(winnerKeys), Seq("query_id", "doc_id"))
        .select(col("query_id"), col("doc_id"),
          struct(col("window_len"), col("win_start")).as("cand"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(min(col("cand")).as("best")) // lexicographic argmin
        .select(col("query_id"), col("doc_id"),
          col("best.window_len").as("window_len"),
          col("best.win_start").as("win_start"))
    }
    val phraseBests: Option[DataFrame] = reqRows.phrase match {
      case None => None
      case Some(rows) => phraseAnchorWindowsRows(textIndex, rows, winnerKeys)
    }
    val bestsPlan = (termBests, phraseBests) match {
      case (None, None) => return withNullEvidence(winnersDf)
      case (Some(t), None) => t
      case (None, Some(p)) => p
      case (Some(t), Some(p)) =>
        // phrase evidence wins wholesale where it exists (both columns
        // travel together — a phrase window is never half-applied)
        val pr = p.select(col("query_id"), col("doc_id"),
          col("window_len").as("p_len"), col("win_start").as("p_start"))
        t.join(pr, Seq("query_id", "doc_id"), "full_outer")
          .select(col("query_id"), col("doc_id"),
            coalesce(col("p_len"), col("window_len")).as("window_len"),
            coalesce(col("p_start"), col("win_start")).as("win_start"))
    }
    // ≤ winners rows by construction: COLLECT them once and re-enter
    // the plan as a LocalRelation (r18) — the former eager checkpoint
    // + distinct-ids collect paid two jobs for the same "the collect
    // and the join read the SAME rows" guarantee
    val bestRows = bestsPlan.as[(Long, Long, Long, Long)].collect().toSeq
    val winIds = bestRows.map(_._2).distinct
    if (winIds.isEmpty) return withNullEvidence(winnersDf)
    val bests = bestRows
      .toDF("query_id", "doc_id", "window_len", "win_start")
    val sliced = docs
      .filter(col("doc_id").isin(winIds: _*)) // ONE batch-wide pushdown
      .select(col("doc_id"),
        split(graft.operators.Dedup.normText(col("text")), " ").as("lst"))
    winnersDf
      .join(broadcast(bests), Seq("query_id", "doc_id"), "left")
      .join(broadcast(sliced), Seq("doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
        col("n_legs"), col("rank"), col("window_len"), col("win_start"),
        when(col("window_len").isNotNull,
          array_join(
            slice(col("lst"), (col("win_start") + 1).cast("int"),
              col("window_len").cast("int")),
            " ")).as("snippet"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The phrase-evidence pass of [[rrfSnippetQueryBatch]]: per fused
    * winner that contains at least one FULL occurrence of its request's
    * `phrase`, the FIRST occurrence as an evidence window —
    * `(query_id, doc_id, window_len = phrase length, win_start = min
    * anchor)`. [[phraseQueryBatch]]'s slot-shifted anchor intersection,
    * winner-pruned BEFORE the positions explode (evidence is only for
    * hits, so the recurrence touches ≤ winners × phrase-term postings).
    * Requests whose `phrase` is null contribute no slots and get no
    * rows. None when the batch carries no usable phrase terms.
    */
  private def phraseAnchorWindowsRows(
      index: TextIndex,
      reqRows: Seq[(java.lang.Long, Seq[String])],
      winnerKeys: DataFrame): Option[DataFrame] = {
    // slot table + per-query lengths are LocalRelations from the ONE
    // shared serving-call collect ([[rrfQueryBatchShared]] — r18; the
    // former shape re-collected the batch's phrase column here).
    // Upstream already verified id uniqueness for this batch.
    val spark = winnerKeys.sparkSession
    import spark.implicits._
    val slotRows: Seq[(Long, Int, String)] =
      reqRows.flatMap { case (q, ph) =>
        if (ph == null) Nil
        else ph.zipWithIndex.map { case (t, i) =>
          (q.longValue, i, lowerLikeSpark(t))
        }
      }
    val termList = slotRows.map(_._3).distinct.sorted
    if (termList.isEmpty) return None
    val probeBuckets = termList.map(tokenBucket(_, index.buckets))
      .distinct.sorted
    val slots = slotRows.toDF("query_id", "slot", "token")
    val phraseLen = slotRows.groupBy(_._1).toSeq
      .map { case (q, rs) => (q, rs.size.toLong) }
      .toDF("query_id", "phrase_len")
    val anchors = index.postings
      .filter(col("bucket").isin(probeBuckets: _*)) // static prune
      .filter(col("token").isin(termList: _*))
      .select(col("token"), col("doc_id"), col("positions"))
      .join(broadcast(slots), "token")
      .join(broadcast(winnerKeys), Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("slot"),
        explode(col("positions")).as("pos"))
      .select(col("query_id"), col("doc_id"), col("slot"),
        (col("pos") - col("slot")).as("anchor"))
      .filter(col("anchor") >= 0)
    Some(anchors
      .groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("n_slots"))
      .join(broadcast(phraseLen), "query_id")
      .filter(col("n_slots") === col("phrase_len"))
      .groupBy(col("query_id"), col("doc_id"), col("phrase_len"))
      .agg(min(col("anchor")).as("win_start"))
      .select(col("query_id"), col("doc_id"),
        col("phrase_len").cast("long").as("window_len"),
        col("win_start").cast("long").as("win_start")))
  }

  /** The shared fusion cascade: full-outer joins on `(query_id, doc_id)`
    * keeping per-leg `rank_i` columns, plus the summed integer-ppm RRF
    * score. Both public forms ([[rrfFuse]], [[rrfFuseAll]]) shape their
    * output from this.
    */
  private def fuseLegs(legs: Seq[DataFrame], kConst: Long): DataFrame = {
    val named = legs.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id").cast("long").as("query_id"),
        col("doc_id"), col("rank").cast("long").as(s"rank_$i"))
    }
    val joined = named.reduce(
      _.join(_, Seq("query_id", "doc_id"), "full_outer"))
    val score = legs.indices
      .map(i => coalesce(
        expr(s"1000000L div (${kConst}L + rank_$i)"), lit(0L)))
      .reduce(_ + _)
    joined.withColumn("rrf_ppm", score)
  }

  /** SNIPPET top-k — [[proximityTopK]] plus the evidence a human reads:
    * for each of the k tightest docs, the BEST covering window's start
    * position and its actual token span from the raw text (the
    * highlight/snippet every search UI shows under a hit). "Best" =
    * lexicographic argmin (window_len, start) per doc — deterministic:
    * a (start, length) pair fixes the window, so no hidden tie remains.
    *
    * Mechanics: the same per-doc running-max min-window pass as
    * [[proximityTopK]], keeping `start = least(lasts)` alongside the
    * length and reducing per doc with `min(struct(len, start))`
    * (lexicographic struct ordering IS the argmin — no second window
    * pass); the ≤k winners are COLLECTED (k-bounded, the probe-union
    * idiom) and their ids pushed as a `doc_id IN (...)` parquet filter
    * into the documents scan — at corpus scale the text read for k
    * snippets is k rows' row groups, never a corpus pass (plan receipt
    * in TextIndexSpec); the snippet itself is a narrow
    * split+slice+join over each winner's text. The index answers
    * everything else.
    */
  def snippetTopK(
      index: TextIndex,
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    index.requirePositions("snippetTopK")
    val distinctTerms = terms.map(_.toLowerCase).distinct
    val probeBuckets = distinctTerms
      .map(tokenBucket(_, index.buckets)).distinct.sorted
    val pts = index.postings
      .filter(col("bucket").isin(probeBuckets: _*)) // static partition prune
      .filter(col("token").isin(distinctTerms: _*))
      .select(col("token"), col("doc_id"),
        explode(col("positions")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lasts = distinctTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("pos"))).over(w).as(s"last_$i")
    }
    val lastCols = distinctTerms.indices.map(i => col(s"last_$i"))
    val stalest =
      if (lastCols.size == 1) lastCols.head else least(lastCols: _*)
    val spark = index.postings.sparkSession
    import spark.implicits._
    val winners = pts
      .select((col("doc_id") +: col("pos") +: lasts): _*)
      .filter(lastCols.map(_.isNotNull).reduce(_ && _))
      .select(col("doc_id"),
        struct(
          (col("pos") - stalest + 1).cast("long").as("window_len"),
          stalest.cast("long").as("win_start")).as("cand"))
      .groupBy(col("doc_id"))
      .agg(min(col("cand")).as("best")) // lexicographic (len, start) argmin
      .select(col("doc_id"), col("best.window_len").as("window_len"),
        col("best.win_start").as("win_start"))
      .orderBy(col("window_len"), col("doc_id"))
      .limit(k)
      .as[(Long, Long, Long)].collect().toSeq // k-bounded, probe idiom
    val best = winners.toDF("doc_id", "window_len", "win_start")
    docs
      // the winner ids push to the parquet scan: k snippets read k
      // rows' row groups, never the corpus
      .filter(col("doc_id").isin(winners.map(_._1): _*))
      .select(col("doc_id"), col("text"))
      .join(broadcast(best), Seq("doc_id"))
      .select(col("doc_id"), col("window_len"), col("win_start"),
        array_join(
          slice(split(graft.operators.Dedup.normText(col("text")), " "),
            (col("win_start") + 1).cast("int"),
            col("window_len").cast("int")),
          " ").as("snippet"))
      .orderBy(col("window_len"), col("doc_id"))
  }

  def phraseTopK(
      index: TextIndex,
      phrase: Seq[String],
      k: Int = 20): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val spark = index.postings.sparkSession
    import spark.implicits._
    val req = Seq((0L, phrase)).toDF("query_id", "phrase")
    phraseQueryBatch(index, req, k)
      .select(col("doc_id"), col("n_occurrences"))
  }

  /** [[phraseTopK]] in its SERVING form, many phrases per call — the
    * [[bm25QueryBatch]] twin ([[graft.streaming.StreamTextServe]] runs
    * it per micro-batch): `requests` is `(query_id,
    * phrase array<string>)`; the probe is the UNION of the batch's
    * phrase terms (request-batch-bounded), pushed as the same static
    * `bucket IN (...)` partition prune + token IN-list, and every
    * request's slot table rides one broadcast join — a batch of phrases
    * costs one pruned scan of the union's postings plus Σ tf anchor
    * rows, never per-request passes. Per request: slot-shifted anchor
    * intersection (`count per (query, doc, anchor) == |phrase|`),
    * occurrence-ranked top-k, ties by doc_id — (query_id, rank) is a
    * unique total order.
    */
  def phraseQueryBatch(
      index: TextIndex,
      requests: DataFrame,
      k: Int = 20): DataFrame = {
    index.requirePositions("phraseQueryBatch")
    // ONE request-batch-bounded collect ([[collectRequests]]) feeds
    // the duplicate-id contract, the probe term union, the slot table
    // AND the per-query phrase lengths — driver-side, so the anchor
    // join reads the SAME rows by construction (the bm25QueryBatch
    // idiom, minus the checkpoint pin it no longer needs)
    val reqRows = collectRequests(requests, "phrase")
    requireUniqueQueryIds(reqRows.map(_._1), "phraseQueryBatch")
    phraseQueryBatchRows(index, requests.sparkSession, reqRows, k)
  }

  /** [[phraseQueryBatch]] below the request collect (the shared-collect
    * hybrid-stack shape, r18). BOTH contracts are the CALLER's: id
    * uniqueness verified on the rows handed in, and the positional
    * layout checked before any work (the entries keep the pre-r18
    * check-before-collect order, so error precedence and the job-free
    * contract-rejection property are unchanged).
    */
  private def phraseQueryBatchRows(
      index: TextIndex,
      spark: org.apache.spark.sql.SparkSession,
      reqRows: Seq[(java.lang.Long, Seq[String])],
      k: Int): DataFrame = {
    import spark.implicits._
    // slot = in-array position (NOT sorted-distinct: repeated phrase
    // terms occupy distinct slots and count per slot)
    val slotRows: Seq[(Long, Int, String)] = reqRows.flatMap {
      case (q, ph) =>
        if (ph == null) Nil
        else ph.zipWithIndex.map { case (t, i) =>
          (q.longValue, i, lowerLikeSpark(t))
        }
    }
    val termList = slotRows.map(_._3).distinct.sorted
    if (termList.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("doc_id"),
          lit(0L).as("n_occurrences"), lit(0).as("rank"))
        .limit(0)
    }
    val probeBuckets = termList.map(tokenBucket(_, index.buckets))
      .distinct.sorted
    val slots = slotRows.toDF("query_id", "slot", "token")
    val phraseLen = slotRows.groupBy(_._1).toSeq
      .map { case (q, rs) => (q, rs.size.toLong) }
      .toDF("query_id", "phrase_len")
    val anchors = index.postings
      .filter(col("bucket").isin(probeBuckets: _*)) // static partition prune
      .filter(col("token").isin(termList: _*))
      .select(col("token"), col("doc_id"), col("positions"))
      .join(broadcast(slots), "token")
      .select(col("query_id"), col("doc_id"), col("slot"),
        explode(col("positions")).as("pos"))
      .select(col("query_id"), col("doc_id"), col("slot"),
        (col("pos") - col("slot")).as("anchor"))
      .filter(col("anchor") >= 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
    anchors
      .groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("n_slots"))
      .join(broadcast(phraseLen), "query_id")
      .filter(col("n_slots") === col("phrase_len"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Threshold-calibration sweep for a quality classifier — the
    * precision/recall table a pipeline owner reads before picking the
    * filter cut: for each candidate threshold, the confusion counts of
    * `keep := logit >= threshold` against a reference label, plus
    * precision / recall / F1. This is how the DataComp / fastText-filter
    * loop tunes its operating point.
    *
    * Counts are EXACT integers; precision/recall/F1 are single-expression
    * IEEE double arithmetic over those integers (identical operand order
    * in the oracle → bit-identical), with 0-denominator cells NULL via
    * `nullif` on both engines.
    *
    * 100 TB shape: one corpus scan (the classifier is [[classifierScore]]'s
    * one-scan integer logit), then a |thresholds|-way fan-out of TWO-column
    * (logit, label) tuples — the text never enters the fan-out — into a
    * groupBy on |thresholds| keys with map-side partial sums. The shuffle
    * carries |thresholds| partial rows per task, regardless of corpus size.
    */
  def classifierPrCurve(
      docs: DataFrame,
      label: Column,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.distinct.size == thresholds.size,
      "thresholds must be non-empty and distinct")
    val scored = classifierScore(docs)
      .join(docs.select(col("doc_id"), label.as("y")), Seq("doc_id"))
    val cnt = (p: Column) => sum(when(p, 1L).otherwise(0L))
    val pred = col("logit") >= col("threshold")
    scored
      .select(col("logit"), col("y"),
        explode(lit(thresholds.toArray)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        cnt(pred && col("y")).as("tp"),
        cnt(pred && !col("y")).as("fp"),
        cnt(!pred && col("y")).as("fn"),
        cnt(!pred && !col("y")).as("tn"))
      .withColumn("precision",
        col("tp").cast("double") / nullif(col("tp") + col("fp"), lit(0L)))
      .withColumn("recall",
        col("tp").cast("double") / nullif(col("tp") + col("fn"), lit(0L)))
      .withColumn("f1",
        lit(2.0) * col("tp").cast("double") /
          nullif(lit(2L) * col("tp") + col("fp") + col("fn"), lit(0L)))
      .orderBy(col("threshold"))
  }

  /** Vocabulary-id encoding — the loader-handoff step after [[oovAudit]]
    * says the vocab is adequate: every token becomes its vocabulary id
    * (1..V by (freq desc, token) rank — deterministic), OOV tokens become
    * 0 (the UNK id), positions preserved. Downstream this column feeds
    * [[Assembly.packSequences]] / [[Assembly.chunkWindows]] as the int
    * sequence the trainer actually consumes.
    *
    * 100 TB shape: one tokenization pass (posexplode keeps positions), one
    * token-keyed count agg for the vocab build, top-V via
    * TakeOrderedAndProject; the id-assignment window runs on the V-row
    * table (bounded, partition-free by construction), and the encode join
    * broadcasts that table — so corpus-sized data crosses no exchange at
    * all on the encode side. Against a FIXED external vocab the build
    * stage drops out and this is scan + broadcast-join only.
    */
  def tokenizeToIds(docs: DataFrame, vocabSize: Int = 20): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(wordArray(col("text"))).as(Seq("pos", "token")))
    val vocab = tok
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(vocabSize)
      .withColumn("token_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token"))).cast("long"))
      .select(col("token"), col("token_id"))
    tok
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("token_id", coalesce(col("token_id"), lit(0L)))
      .select(col("doc_id"), col("pos").cast("long"), col("token"),
        col("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Tokenizer-vocabulary coverage audit: per document, how many of its
    * tokens fall outside the top-`vocabSize` corpus vocabulary (by
    * frequency, token tiebreak — a deterministic cut). The OOV rate is the
    * metric that decides whether a tokenizer/vocab is adequate for a corpus
    * before a single training step is paid for.
    *
    * 100 TB shape: one tokenization pass feeds BOTH sides — per-doc token
    * counts (doc-keyed aggregate) and the corpus vocabulary (token-keyed
    * aggregate over the already-reduced (doc, token, k) tuples, then
    * top-V via orderBy+limit = TakeOrderedAndProject: per-partition heaps,
    * no single-reducer sort). The vocabulary (V rows) broadcasts into the
    * coverage join, so the only shuffles are the two keyed aggregations;
    * text never crosses the network. Against a FIXED external vocab the
    * plan is the same minus the vocabulary build.
    */
  def oovAudit(docs: DataFrame, vocabSize: Int = 20): DataFrame = {
    val perDoc = tokens(docs)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("k"))
    val vocab = perDoc
      .groupBy(col("token")).agg(sum(col("k")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"))
    val inVocab = perDoc
      .join(broadcast(vocab), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_invocab"))
    docs
      .select(col("doc_id"),
        size(wordArray(col("text"))).cast("long").as("n_tokens"))
      .join(inVocab, Seq("doc_id"), "left")
      .withColumn("n_invocab", coalesce(col("n_invocab"), lit(0L)))
      .withColumn("n_oov", col("n_tokens") - col("n_invocab"))
      .withColumn("oov_rate",
        when(col("n_tokens") > 0L,
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_tokens"), col("n_invocab"),
        col("n_oov"), col("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** Readability scoring on an integer lattice — Flesch reading-ease with
    * the standard automated approximations (sentences = terminal
    * punctuation runs are NOT counted; each '.', '!' or '?' counts;
    * syllables = vowel-group runs), every division an integer `div` so the
    * score is bit-reproducible cross-engine (no float formula boundary).
    *
    * Per doc: word count, sentence-terminator count, vowel-group count,
    * words-per-sentence and syllables-per-word in permille, and
    * `fre_milli` = 1000× the Flesch formula
    * (206.835 − 1.015·wps − 84.6·spw) evaluated on the permille lattice
    * with floor division at each step. A deterministic proxy, not a
    * linguistic truth — the point is a CHEAP columnar difficulty signal
    * for curriculum ordering ([[graft.operators.Assembly.curriculumOrder]])
    * and quality banding.
    *
    * 100 TB shape: pure regexp counting expressions in one scan, zero
    * shuffle — the same must-touch-every-byte-but-IO-bound posture as
    * [[graft.operators.Pii]]. Patterns are Java∩RE2 so the oracle runs
    * them verbatim.
    */
  def readability(docs: DataFrame): DataFrame = {
    val nWords = countMatches(col("text"), "\\S+").cast("long")
    val nSents = countMatches(col("text"), "[.!?]").cast("long")
    val nSyll = countMatches(lower(col("text")), "[aeiouy]+").cast("long")
    docs
      .select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syllables"))
      .withColumn("wps_milli",
        expr("(n_words * 1000) div greatest(1L, n_sents)"))
      .withColumn("spw_milli",
        expr("(n_syllables * 1000) div greatest(1L, n_words)"))
      .withColumn("fre_milli",
        expr("206835 - (1015 * wps_milli) div 1000" +
          " - (84600 * spw_milli) div 1000"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicated-n-gram fraction (the RefinedWeb/C4-family
    * REPORT twin of [[graft.operators.Dedup.spanDedup]]'s apply side): for
    * every doc, the share of its DISTINCT word n-grams that occur in at
    * least `minDf` documents. High fraction = the doc is largely assembled
    * from corpus-common text (mirror, template, boilerplate) even when no
    * single doc pair crosses a Jaccard threshold — which is exactly the
    * signal pairwise dedup misses.
    *
    * 100 TB shape: the inverted-posting shape — ONE tokenization pass
    * (codegen'd [[gramHashes]], distinct per doc), a gram-keyed
    * document-frequency aggregate with map-side partials, a gram-keyed
    * join back to the postings, and a doc-keyed count rollup; only
    * (8-byte gram hash, doc_id) pairs ever shuffle, text never leaves the
    * scan. Total audit: zero-gram docs keep a row via the outer explode.
    */
  def dupGramFraction(
      docs: DataFrame,
      n: Int = 5,
      minDf: Int = 2): DataFrame = {
    val postings = docs
      .withColumn("grams",
        coalesce(array_distinct(gramHashes(col("text"), n)),
          array().cast("array<long>")))
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
    val df = postings
      .filter(col("gram").isNotNull)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    postings
      .join(df, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("gram")).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_milli",
        expr("(n_dup_grams * 1000) div greatest(1L, n_grams)"))
      .orderBy(col("doc_id"))
  }
}
