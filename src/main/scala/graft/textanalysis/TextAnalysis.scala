package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{words, stopwordCount, wordCount}
import graft.plans.{GraftFunctions, TextHashFunctions}

/** Text-analysis operators for training-data pipelines: language ID,
  * token counting, readability/quality statistics, and document
  * fingerprinting. All are narrow, codegen'd column expressions —
  * at 100 TB these run at parquet-scan speed with zero shuffle; only
  * the per-corpus rollups aggregate (partial/final hash agg).
  */
object TextAnalysis {

  // ---------------------------------------------------------------
  // Token counting
  // ---------------------------------------------------------------

  /** Whitespace token count (single-space split — oracle-exact). */
  def tokenCount(text: Column): Column = wordCount(text).cast("long")

  /** BPE-ish subword proxy: runs of letters, runs of digits, and
    * single other non-space symbols each count as one token — the
    * shape of a byte-pair tokenizer's pre-tokenization split.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeishPattern)).cast("long")

  /** Cheap LLM-token estimate: chars/4, ceiling. */
  def estimatedLlmTokens(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  /** Per-language tokenizer fertility: BPE-ish subword tokens per
    * whitespace word — the denominator mixture recipes actually pay
    * in. A language whose fertility runs high consumes more of the
    * token budget per word, so an even document mix is an uneven
    * TOKEN mix; this rollup is what rebalances it (pair with
    * [[graft.ops.SampleOps.tokenBudgetMix]]).
    *
    * The ratio is reported at 4 decimals via exact LONG division —
    * ((2·10⁴·t + w) div 2w) / 10⁴ — so the readout never visits a
    * binary double before the final exact /10⁴ (the DSIR micro4
    * lesson: a plain round(t/w, 4) flips between engines whenever
    * the rational lands on a …5 boundary, which small-denominator
    * ratios actually do), and stays exact however large the corpus
    * sums grow (a double-floor form would lose integer exactness
    * past 2^53).
    *
    * Scale: one lang-keyed aggregation with map-side combine; state
    * is three longs per language.
    */
  def tokenFertility(documents: DataFrame): DataFrame =
    documents.groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(tokenCount(col("text"))).as("words"),
        sum(bpeishTokenCount(col("text"))).as("bpeish_tokens"))
      .select(col("lang"), col("docs"), col("words"), col("bpeish_tokens"),
        when(col("words") > 0,
          expr("(bpeish_tokens * 20000 + words) div (words * 2)") /
            lit(10000.0))
          .as("fertility"))
      .orderBy(col("lang"))

  // ---------------------------------------------------------------
  // Language identification
  // ---------------------------------------------------------------

  /** Function-word profiles per language — the classic cheap lang-ID
    * heuristic (score = distinctive-stopword hits; argmax wins, 'und'
    * when nothing matches).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  def langScores(text: Column): Seq[(String, Column)] =
    LangProfiles.map { case (lang, sw) => lang -> stopwordCount(text, sw) }

  /** Argmax language from per-profile scores: ties broken by profile
    * order, 'und' when every score is 0. The single tie-break rule —
    * detectLang (text input) and textStats (materialized token
    * column) both go through here so they can never drift.
    */
  def langFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    coalesce(
      scores.map { case (lang, s) => when(s > 0 && s === best, lit(lang)) } :+
        lit("und"): _*)
  }

  /** Predicted language: argmax profile score, ties broken by profile
    * order, 'und' if all scores are 0.
    */
  def detectLang(text: Column): Column = langFromScores(langScores(text))

  // ---------------------------------------------------------------
  // Quality / readability statistics
  // ---------------------------------------------------------------

  /** Per-document text statistics frame. Ratios rounded to 4 places
    * for engine-stable hashing. The token array is materialized once
    * as a column and every statistic reads it — one split per row,
    * not one per metric (the naive form re-tokenizes 7×).
    */
  def textStats(documents: DataFrame): DataFrame = {
    def hits(sw: Seq[String]) =
      size(filter(col("ws"), w => w.isin(sw.map(lit): _*)))
    val lang = langFromScores(
      LangProfiles.map { case (l, sw) => l -> hits(sw) })
    documents
      .withColumn("ws", words(col("text")))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
        estimatedLlmTokens(col("text")).as("est_llm_tokens"),
        round(length(replace(col("text"), lit(" "), lit(""))) / size(col("ws")), 4)
          .as("avg_word_len"),
        round(hits(Seq("the", "a")) / size(col("ws")), 4).as("stopword_ratio"),
        lang.as("detected_lang"))
      .orderBy(col("doc_id"))
  }

  /** Corpus rollup per labeled language: volume + token totals. */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  // ---------------------------------------------------------------
  // Fingerprinting
  // ---------------------------------------------------------------

  /** Karp-Rabin rolling polynomial hash of the whole document —
    * content-defined 64-bit-safe fingerprint, reproducible in any
    * engine with integer folds (no md5 dependence). One native pass
    * (graft.plans.RollingHash, bit-identical to the composed
    * three-lambdas-per-character fold — spec'd).
    */
  def rollingHashFor(df: DataFrame)(text: Column): Column =
    GraftFunctions.call(df)(TextHashFunctions.RollingHashName, text)

  /** Bottom-k sketch of word-bigram hashes (winnowing-style document
    * signature): the k smallest xxhash64 values of the shingle set.
    * Two documents' sketches overlap ∝ their Jaccard similarity.
    */
  def bottomKSketch(shingleSet: Column, k: Int): Column =
    slice(array_sort(transform(shingleSet, s => xxhash64(s))), 1, k)

  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      rollingHashFor(documents)(col("text")).as("rolling_hash"),
      md5(col("text")).as("content_md5"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // Repetition statistics (Gopher-style quality filters)
  // ---------------------------------------------------------------

  /** Word n-gram list of a token array — unlike
    * [[graft.dedup.Dedup.shingles]] this KEEPS duplicates, because
    * repetition metrics are about multiplicity. Fewer than n words →
    * empty list (sequence(0, size-n) would count downward otherwise).
    */
  def ngrams(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + lit(1), lit(n)))))

  /** [[ngrams]] as the native one-pass expression
    * (graft.plans.WordNgrams, element-identical — spec'd). The
    * composed form evaluates an interpreted slice+concat per window
    * position; on gram-explode-heavy paths (the memorization family)
    * that interpretation IS the scan cost.
    */
  def ngramsFor(df: DataFrame)(ws: Column, n: Int): Column =
    GraftFunctions.call(df)(TextHashFunctions.WordNgramsName, ws, lit(n))

  /** Highest multiplicity in a SORTED string array: one fold tracking
    * the current run length (equal neighbors) and the best run seen.
    * O(n) per row and narrow; the interpreted-lambda cost is one
    * comparison per element (fuse into a native expression only if a
    * profile ever shows it hot — see graft.plans.TextHash for the
    * pattern).
    */
  def maxMultiplicity(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Rounded duplicate fraction of an array (1 − distinct/total),
    * 0.0 for empty arrays. Shared by [[repetitionStats]] and
    * [[repetitiveFlag]] so the two can never drift.
    */
  def dupFrac(arr: Column): Column =
    when(size(arr) > 0,
      round(lit(1.0) - size(array_distinct(arr)) / size(arr), 4))
      .otherwise(lit(0.0))

  /** Rounded share of bigram slots held by the single most frequent
    * bigram, 0.0 when there are none. Shared as [[dupFrac]].
    */
  def topBigramFrac(bg: Column): Column =
    when(size(bg) > 0,
      round(maxMultiplicity(array_sort(bg)) / size(bg), 4))
      .otherwise(lit(0.0))

  /** The [[repetitionStats]] gate as one row-local Column over a
    * token array. Built from the same rounded-fraction helpers as
    * repetitionStats; a spec pins the parity.
    *
    * CAUTION — use in PROJECTIONS the caller keeps, never as a column
    * a downstream FILTER tests: predicate pushdown substitutes the
    * alias into the filter, duplicating the higher-order-function
    * subtrees (~10 tokenizations per row, no common-subexpression
    * elimination in filter context — measured 8 s vs 0.6 s at sf0.1).
    * Pipelines that gate on it should aggregate the flag from token
    * counts instead (see Curation.curateObserved) or join
    * [[repetitionStats]] as a metric frame.
    */
  def repetitiveFlag(ws: Column,
      topBigramThreshold: Double = 0.08,
      dupTrigramThreshold: Double = 0.05,
      minWords: Int = 20): Column =
    size(ws).cast("long") >= minWords &&
      (topBigramFrac(ngrams(ws, 2)) >= topBigramThreshold ||
        dupFrac(ngrams(ws, 3)) >= dupTrigramThreshold)

  /** Per-document repetition statistics — the Gopher/MassiveText
    * repetition filters (Rae et al. 2021 §A1.1) re-expressed over
    * whitespace tokens: duplicate-word fraction, duplicate n-gram
    * fractions, and the fraction of bigram slots occupied by the
    * single most frequent bigram. `repetitive` flags documents past
    * the thresholds — boilerplate/spam whose loss a language model
    * minimizes by memorizing. Documents under `minWords` are never
    * flagged: with few bigram slots the top-share metric is
    * degenerate (an all-unique doc scores 1/(n-1), which crosses the
    * 0.08 threshold below 14 words), so short docs are length-gated
    * exactly as the MassiveText filters exclude them. The default of
    * 20 keeps the all-unique baseline (1/19 ≈ 0.053) clear of the
    * threshold.
    *
    * Scale: pure per-row array math over the tokenization — zero
    * shuffle, runs at parquet-scan speed on 100 TB. Ratios round to
    * 4 places for engine-stable hashing.
    */
  def repetitionStats(documents: DataFrame,
      topBigramThreshold: Double = 0.08,
      dupTrigramThreshold: Double = 0.05,
      minWords: Int = 20): DataFrame = {
    documents
      .withColumn("ws", words(col("text")))
      .withColumn("bg", ngramsFor(documents)(col("ws"), 2))
      .withColumn("tg", ngramsFor(documents)(col("ws"), 3))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        dupFrac(col("ws")).as("dup_word_frac"),
        dupFrac(col("bg")).as("dup_bigram_frac"),
        dupFrac(col("tg")).as("dup_trigram_frac"),
        topBigramFrac(col("bg")).as("top_bigram_frac"))
      .withColumn("repetitive",
        col("n_words") >= minWords &&
          (col("top_bigram_frac") >= topBigramThreshold ||
            col("dup_trigram_frac") >= dupTrigramThreshold))
      .orderBy(col("doc_id"))
  }

  /** Row-local token entropy in nats, rounded to 4 — the micro-nat
    * fold [[tokenEntropy]] wraps; shared with the streaming serving
    * gates ([[graft.curation.Serving]]) so the two can never drift.
    * One native pass (graft.plans.TokenEntropy6 — the composed
    * aggregate is an interpreted per-element struct rebuild over
    * array_sort; the round-10 honest bench measured q_token_entropy
    * 33× its count-mode time on exactly that projection). The
    * ÷(n·10⁶) + round(4) readout matches the composed form, so
    * empty-array and ANSI behavior cannot drift. QuantSpec pins bit
    * parity.
    */
  def entropyNatsFor(df: DataFrame)(ws: Column): Column = {
    val n = size(ws).cast("long")
    round(GraftFunctions.call(df)(TextHashFunctions.TokenEntropy6Name, ws) /
      (n * lit(1e6)), 4)
  }

  /** Per-document Shannon entropy of the TOKEN distribution, in nats
    * — the "templated garbage" detector: natural prose at these doc
    * lengths sits well above 2 nats, while boilerplate stampings,
    * keyword stuffing, and tag soup collapse toward 0 (a single
    * repeated token IS 0). Complements [[repetitionStats]]: dup
    * fractions see adjacent/verbatim repeats, entropy sees GLOBAL
    * distributional collapse even when no n-gram repeats verbatim.
    *
    * Fully NARROW — zero exchanges: tokens sort per row and a single
    * run-length fold (the [[maxMultiplicity]] shape) accumulates
    * Σ c·round(ln(n/c)·1e6) in exact integer micro-nats, so the sum
    * is order-independent and the DuckDB oracle can replay it
    * relationally (group-count the tokens) and still match bit-for-
    * bit after the final round — the [[lmScoreWith]] nll6 contract.
    * H = Σ (c/n)·ln(n/c) per distinct token with count c.
    *
    * `low_entropy` gates docs with ≥ `minWords` tokens under
    * `threshold` nats (short docs are structurally low-entropy; the
    * floor keeps them out, like [[repetitionStats]]'s).
    */
  def tokenEntropy(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 2.0,
      minWords: Int = 20): DataFrame = {
    val ws = words(col(textCol))
    documents
      .select(col(idCol),
        size(ws).cast("long").as("n_words"),
        size(array_distinct(ws)).cast("long").as("n_types"),
        entropyNatsFor(documents)(ws).as("entropy"))
      .withColumn("low_entropy",
        col("n_words") >= minWords && col("entropy") < threshold)
      .orderBy(col(idCol))
  }

  /** Per-document zlib compressibility — deflated size over raw
    * UTF-8 size via the native [[graft.plans.DeflateRatio]]
    * expression (there is no composed form of a byte-level codec).
    * LZ77 sees long-range repeats
    * that BOTH [[tokenEntropy]] (order-blind) and
    * [[repetitionStats]] (bounded n-gram windows) miss, so a low
    * ratio flags stamped/templated filler whose sentences
    * individually look clean. Engine-specific by nature (DuckDB has
    * no deflate): rows-only at the oracle gate, exactness pinned in
    * specs against java.util.zip directly.
    *
    * Narrow per-row codec work — zero exchanges, the scale shape of
    * every per-doc gate here.
    */
  def compressionRatio(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.35,
      minChars: Int = 200): DataFrame = {
    documents
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        round(GraftFunctions.call(documents)(TextHashFunctions.DeflateRatioName,
          col(textCol)), 4).as("deflate_ratio"))
      .withColumn("compressible",
        col("n_chars") >= minChars && col("deflate_ratio") < threshold)
      .orderBy(col(idCol))
  }

  // ---------------------------------------------------------------
  // Decontamination (benchmark n-gram overlap)
  // ---------------------------------------------------------------

  /** Per-document contamination against a benchmark set — the
    * eval-leakage check every training corpus needs: the fraction of
    * a document's DISTINCT word n-grams that also occur anywhere in
    * `benchmark`. Documents at or above `threshold` are flagged for
    * exclusion (near-copies of benchmark items score ≈1).
    *
    * Scale shape: the benchmark gram set is tiny relative to the
    * corpus and is explicitly broadcast — the 100 TB side streams
    * through scan → explode → one hash aggregation on the document
    * id; no corpus-side shuffle of text, no join reshuffle.
    */
  def contaminationStats(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 2,
      threshold: Double = 0.4): DataFrame = {
    import graft.dedup.Dedup.shingles
    val benchGrams = benchmark
      .select(explode(graft.dedup.Dedup.shinglesFor(benchmark)(
        col(textCol), n)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    corpus
      .select(col(idCol), explode_outer(graft.dedup.Dedup.shinglesFor(
        corpus)(col(textCol), n)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__g")).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        when(col("n_grams") > 0,
          round(col("n_hits") / col("n_grams"), 4)).otherwise(lit(0.0)))
      .withColumn("contaminated", col("contamination") >= threshold)
      .orderBy(col(idCol))
  }

  /** The INVERSE contamination readout: per BENCHMARK document, how
    * far it leaks into the training corpus — the report an eval
    * owner reads ("which of my test items are compromised, and how
    * badly") where [[contaminationStats]] answers the corpus owner's
    * question ("which of my documents to drop"). For each benchmark
    * doc: how many corpus docs share at least one of its n-grams,
    * and how many of its distinct grams appear anywhere in the
    * corpus, with the leaked fraction at the exact 4-decimal
    * readout. Benchmark docs with no leak (or no grams) report
    * zeros — absence of evidence is a RESULT here, not a missing
    * row.
    *
    * Scale shape: the benchmark gram set is bounded and broadcasts
    * (the decontamination convention); the corpus explodes its
    * distinct shingles ONCE and joins narrow — per-gram rows carry
    * two ids, never text. Aggregation output is |benchmark| rows.
    */
  def contaminationByBenchmark(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 2): DataFrame = {
    // ONE shingle computation per benchmark doc; the gram list and
    // its size both project off this frame (the gram count never
    // re-shingles the text)
    val bg = benchmark.select(col(idCol).as("bench_id"),
      graft.dedup.Dedup.shinglesFor(benchmark)(col(textCol), n).as("__gs"))
    val benchGrams = bg
      .select(col("bench_id"), explode(col("__gs")).as("__g"))
    val corpusGrams = corpus
      .select(col(idCol).as("__cid"),
        explode(graft.dedup.Dedup.shinglesFor(corpus)(
          col(textCol), n)).as("__g"))
    // the benchmark side is bounded by the decontamination
    // convention — broadcast it so the corpus gram explosion never
    // shuffles (the contaminationStats shape)
    val leaks = broadcast(benchGrams)
      .join(corpusGrams, Seq("__g"))
      .groupBy(col("bench_id"))
      .agg(count_distinct(col("__cid")).as("n_leaking_docs"),
        count_distinct(col("__g")).as("n_leaked_grams"))
    bg.select(col("bench_id"),
        size(col("__gs")).cast("long").as("n_grams"))
      .join(leaks, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_leaking_docs"), lit(0L)).as("n_leaking_docs"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"))
      .withColumn("leaked_frac",
        when(col("n_grams") > 0,
          expr("(n_leaked_grams * 20000 + n_grams) div (2 * n_grams)") /
            lit(10000.0))
          .otherwise(lit(0.0)))
      .orderBy(col("bench_id"))
  }

  // ---------------------------------------------------------------
  // Corpus vocabulary statistics (heavy hitters)
  // ---------------------------------------------------------------

  /** Exact corpus-level top-k word n-grams by total occurrence count
    * (multiplicity kept) — the vocabulary heavy-hitter readout used
    * to spot boilerplate and templating across a crawl. Tie-break is
    * engine-stable: count desc, gram asc.
    *
    * Scale shape: explode → hash aggregation with MAP-SIDE partial
    * combine (the shuffle carries one row per distinct gram per
    * partition, not one per occurrence), then a TakeOrdered top-k —
    * no global sort. This is the exact form; at 100 TB the same
    * plan holds because the shuffled state is bounded by the
    * vocabulary, not the corpus.
    */
  def topNgrams(documents: DataFrame, n: Int = 2, k: Int = 20): DataFrame =
    documents
      .select(explode(ngramsFor(documents)(words(col("text")), n))
        .as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("gram"))
      .limit(k)

  /** Per-document top-k keyword extraction by tf·idf over whitespace
    * terms: tf is the in-document occurrence count, idf = ln(N/df)
    * rounded to 6 places on both engines before the product (ln is
    * libm-dependent in its last ulp — same contract as
    * [[graft.ops.SearchOps.searchBm25]]), the score to 4. Ties:
    * score desc, term asc.
    *
    * Scale shape: one explode → (doc, term) hash aggregation for tf;
    * document frequencies aggregate from the tf frame (already one
    * row per doc×term, so df is a cheap second-stage agg bounded by
    * the vocabulary); the tf↔df join shuffles on the term — never on
    * document text — and the final per-doc ranking is one window on
    * the doc id.
    */
  /** Cross-document duplicated n-gram readout — the memorization-risk
    * signal of Lee et al. '22 ("Deduplicating Training Data Makes
    * Language Models Better"): an n-gram present in two or more
    * documents is text the model will see repeatedly and can
    * regurgitate verbatim. Per document: total n-gram occurrences,
    * occurrences of CROSS-DOC duplicated n-grams (present in ≥ 2
    * distinct docs — within-doc repetition is [[repetitionStats]]'
    * signal, deliberately excluded here), and the exact 4-decimal
    * duplicated fraction (NULL when the doc is shorter than n words).
    *
    * Scale shape: explode to n-gram occurrences, two hash
    * aggregations (per-(doc, gram) with map-side combine, then
    * per-gram doc counts — both O(corpus grams)), one gram-keyed
    * join back. Nothing pairwise: cost is corpus-linear like the
    * dedup bucket builds.
    */
  def memorizationStats(documents: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dg = documents
      .select(col(idCol).as("doc_id"),
        explode(ngramsFor(documents)(words(col(textCol)), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val gd = dg.groupBy(col("g")).agg(count(lit(1)).as("nd"))
    val per = dg.join(gd, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        coalesce(sum(when(col("nd") >= 2, col("c"))), lit(0L))
          .as("dup_grams"))
    documents.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        when(col("n_grams") > 0,
          expr("(dup_grams * 20000 + n_grams) div (2 * n_grams)") /
            lit(10000.0)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** The corpus's most-duplicated cross-doc n-grams: (gram, distinct
    * docs, total occurrences), duplicated ones only, top k by
    * occurrences with a full deterministic tiebreak (occurrences ↓,
    * docs ↓, gram ↑ — gram is unique, so the order is total). The
    * list an auditor reads to find the template/boilerplate strings
    * behind a high [[memorizationStats]] fraction.
    */
  def memorizedTopGrams(documents: DataFrame, n: Int = 5, k: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    documents
      .select(col(idCol).as("doc_id"),
        explode(ngramsFor(documents)(words(col(textCol)), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occurrences").desc, col("n_docs").desc, col("g"))
      .limit(k)
      .select(col("g").as("gram"), col("n_docs"), col("n_occurrences"))

  /** The cross-doc gram index behind [[memorizationStats]] as a
    * standalone MERGEABLE artifact: (g, nd) distinct-document counts
    * per n-gram. Additive across batches with DISJOINT doc-id sets
    * (a doc contributes at most 1 to each gram's nd, so disjoint
    * batches sum exactly — the DsirCounts mergeable-model contract);
    * [[mergeMemorizationIndexes]] is that sum. Build once over the
    * corpus, then ingest-time probes ([[memorizationProbe]]) never
    * rescan it.
    */
  def memorizationIndex(documents: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    documents
      .select(col(idCol).as("doc_id"),
        explode(ngramsFor(documents)(words(col(textCol)), n)).as("g"))
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))

  /** Exact merge of two [[memorizationIndex]] frames built from
    * doc-disjoint batches: per-gram nd sums. Merged-then-probed
    * equals full-retrain-then-probed (spec- and oracle-pinned).
    */
  def mergeMemorizationIndexes(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("g")).agg(sum(col("nd")).as("nd"))

  /** Persist a [[memorizationIndex]] as parquet — the frozen serving
    * artifact (the VectorStore.write / writeLmModel lifecycle): build
    * once over the corpus, then every ingest batch probes the files.
    */
  def writeMemorizationIndex(index: DataFrame, dir: String): Unit =
    index.write.mode("overwrite").parquet(dir)

  def readMemorizationIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = spark.read.parquet(dir)

  /** Append a doc batch to a WRITTEN gram index WITHOUT rebuilding
    * it — the ingestion member of the mergeable-counts family
    * (the [[graft.ops.SearchOps.appendToBm25Index]] analog): the
    * batch's own (g, +nd) rows land under `dir/_appends/batch_id=K/`
    * (dynamic overwrite → a retried batch overwrites exactly its own
    * partition), O(batch tokenize), existing rows never read.
    * [[readMemorizationIndexMerged]] consolidates at serve time;
    * append ≡ retrain-on-union exactly because the index is additive
    * over doc-disjoint batches (the caller owns disjointness —
    * q_memorization_probe_appended shares the full-train oracle, so
    * divergence fails the hash gate). Batch keys also give the index
    * HISTORY: [[readMemorizationIndexAsOf]] serves any named batch
    * subset.
    */
  def appendToMemorizationIndex(docs: DataFrame, dir: String,
      batchKey: String, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(batchKey.nonEmpty && batchKey != "build",
      "batchKey must be a non-empty name other than the reserved \"build\"")
    // a MANUAL batchKey shaped like a registered ingest stream's
    // generated "<keyPrefix>-N" keys would be dynamic-overwritten by
    // that stream's checkpoint replay of micro-batch N, silently
    // dropping this append's grams (the deleteFromBm25Index rule
    // applied to the gram family's prefixed sink keys)
    memStreamPrefixOf(docs.sparkSession, dir, batchKey,
      "_ingest_streams").foreach { p =>
      throw new IllegalArgumentException(
        s"batchKey \"$batchKey\" collides with ingest stream prefix " +
          s"\"$p\" registered on the index at $dir — a checkpoint " +
          "replay of that stream would overwrite this batch's " +
          "partition; pick a key that is not \"<prefix>-<digits>\"")
    }
    appendToMemorizationIndexSink(docs, dir, batchKey, n, idCol, textCol)
  }

  /** The streaming ingest sink's entry: the sink OWNS its
    * "<keyPrefix>-N" keys, so the reservation check is skipped (a
    * replay overwriting its own partition is the design).
    */
  private[graft] def appendToMemorizationIndexSink(docs: DataFrame,
      dir: String, batchKey: String, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(batchKey.nonEmpty && batchKey != "build",
      "batchKey must be a non-empty name other than the reserved \"build\"")
    memorizationIndex(docs, n, idCol, textCol)
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dir + "/_appends")
  }

  /** Idempotent marker registering a maintenance STREAM's keyPrefix
    * on a gram index (`sub` = "_ingest_streams" or "_delete_streams")
    * — the [[graft.ops.SearchOps.registerDeleteStreamPrefix]] contract
    * for the mergeable family, where BOTH maintenance directions run
    * as prefixed-key sinks.
    */
  private[graft] def registerMemStreamPrefix(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      keyPrefix: String, sub: String): Unit = {
    require(!keyPrefix.contains("/"),
      s"keyPrefix must not contain '/': $keyPrefix")
    val marker = new org.apache.hadoop.fs.Path(dir + "/" + sub + "/" + keyPrefix)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) fs.create(marker, true).close()
  }

  private def memStreamPrefixOf(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batchKey: String, sub: String): Option[String] = {
    val i = batchKey.lastIndexOf('-')
    if (i <= 0 || i == batchKey.length - 1) return None
    if (!batchKey.substring(i + 1).forall(_.isDigit)) return None
    val p = batchKey.substring(0, i)
    val marker = new org.apache.hadoop.fs.Path(dir + "/" + sub + "/" + p)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) Some(p) else None
  }

  /** Erase a doc batch from a WRITTEN gram index WITHOUT rebuilding
    * it — the erasure member of the mergeable-counts family: the
    * index is additive over doc-disjoint batches, so deletion is a
    * merge with NEGATED counts. The batch's own (g, −nd) rows land
    * under `dir/_deletes/batch_id=K/` (underscore-hidden from the
    * base read; dynamic overwrite, so a retried batch overwrites
    * exactly its own partition). O(batch tokenize); existing rows
    * are never read. [[readMemorizationIndexMerged]] consolidates at
    * serve time; merged-after-delete ≡ retrain-on-remaining exactly
    * (q_memorization_probe_deleted gates it with a filtered replay).
    * The caller owns membership: deleted docs must be in the index,
    * each deleted at most once (the append disjointness story).
    */
  def deleteFromMemorizationIndex(docs: DataFrame, dir: String,
      batchKey: String, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(batchKey.nonEmpty, "batchKey must be non-empty")
    // the deleteFromBm25Index rule: a manual key shaped like a
    // registered delete stream's "<keyPrefix>-N" would be dynamic-
    // overwritten by that stream's checkpoint replay, silently
    // RESURRECTING this erasure
    memStreamPrefixOf(docs.sparkSession, dir, batchKey,
      "_delete_streams").foreach { p =>
      throw new IllegalArgumentException(
        s"batchKey \"$batchKey\" collides with delete stream prefix " +
          s"\"$p\" registered on the index at $dir — a checkpoint " +
          "replay of that stream would overwrite this batch's negated " +
          "counts; pick a key that is not \"<prefix>-<digits>\"")
    }
    deleteFromMemorizationIndexSink(docs, dir, batchKey, n, idCol, textCol)
  }

  /** The streaming delete sink's entry: the sink owns its
    * "<keyPrefix>-N" keys, so the reservation check is skipped.
    */
  private[graft] def deleteFromMemorizationIndexSink(docs: DataFrame,
      dir: String, batchKey: String, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(batchKey.nonEmpty, "batchKey must be non-empty")
    memorizationIndex(docs, n, idCol, textCol)
      .select(col("g"), (-col("nd")).as("nd"))
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dir + "/_deletes")
  }

  /** Read a written gram index with per-gram consolidation — the
    * serve-time form once [[appendToMemorizationIndex]] /
    * [[deleteFromMemorizationIndex]] have run (positive build+append
    * rows and negative delete rows must SUM before the probe join;
    * grams at 0 drop, matching a retrain on the surviving docs).
    * Indexes without maintenance read through the same helper with
    * just the aggregate.
    */
  def readMemorizationIndexMerged(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    consolidatedGramIndex(spark, dir, None)

  /** SNAPSHOT read of a maintained gram index: consolidation
    * restricted to the named batches — `"build"` for the base write,
    * append and delete batchKeys for theirs (naming a delete batch
    * applies its negative counts, the searchBm25FromIndexAsOf
    * visibility rule). Appends/deletes live in their own `batch_id`
    * partitions, so history is partition pruning; the snapshot ≡ a
    * retrain on exactly those batches' surviving docs
    * (q_memorization_probe_asof gates the base-only prefix).
    */
  def readMemorizationIndexAsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, batches: Seq[String]): DataFrame = {
    require(batches.nonEmpty, "as-of needs at least one visible batch")
    // a name with no partition fails LOUDLY (the readIvfIndexAsOf /
    // searchBm25FromIndexAsOf contract): after compaction or
    // retention collapses history, a stale name would otherwise
    // silently serve an empty or partial index
    val known = Set("build") ++ gramKnownBatches(spark, dir, "/_appends") ++
      gramKnownBatches(spark, dir, "/_deletes")
    val missing = batches.filterNot(known)
    require(missing.isEmpty,
      s"batches ${missing.mkString(", ")} have no partitions in the " +
        s"gram index at $dir — compaction/retention collapses history " +
        "(as-of reads predating it are gone by design)")
    consolidatedGramIndex(spark, dir, Some(batches))
  }

  /** Distinct batch names under one maintenance side of a gram index,
    * from the partition directories alone (URI-unescaped — the
    * ivfKnownBatches listing rule).
    */
  private def gramKnownBatches(spark: org.apache.spark.sql.SparkSession,
      dir: String, sub: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir + sub)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Set.empty[String]
    else fs.globStatus(new org.apache.hadoop.fs.Path(dir + sub,
        "batch_id=*"))
      .map(s => org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils
        .unescapePathName(s.getPath.getName.stripPrefix("batch_id=")))
      .toSet
  }

  private def consolidatedGramIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      visible: Option[Seq[String]]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def side(sub: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(dir + sub)
      if (p.getFileSystem(conf).exists(p)) {
        val df = spark.read.parquet(dir + sub)
        // compare AS STRING: all-numeric batch names would infer an
        // integer partition column and silently null out string
        // comparisons (the searchBm25FromIndexAsOf lesson)
        Some(visible.fold(df)(bs =>
            df.filter(col("batch_id").cast("string").isin(bs: _*)))
          .select(col("g"), col("nd")))
      } else None
    }
    val base =
      if (visible.forall(_.contains("build"))) Some(spark.read.parquet(dir))
      else None
    val all = (base.toSeq ++ side("/_appends") ++ side("/_deletes"))
    require(all.nonEmpty, s"no visible batches in gram index at $dir")
    all.reduce(_ unionByName _)
      .groupBy(col("g")).agg(sum(col("nd")).as("nd"))
      .filter(col("nd") =!= 0L)
  }

  /** Make gram-index maintenance physical — the
    * [[graft.ops.SearchOps.compactBm25Index]] member of this family:
    * consolidate base rows, `_appends`, and `_deletes` to one (g, nd)
    * frame (zero counts drop) and rewrite the index in place, which
    * also clears the hidden maintenance directories. Afterward the
    * PLAIN [[readMemorizationIndex]] serves the maintained state with
    * no per-read aggregation (q_memorization_probe_compacted shares
    * the tombstoned oracle to gate compacted ≡ merged ≡ retrain).
    * Deliberately O(index): background maintenance, not the
    * delete/append path. Unmaintained indexes return untouched.
    * Idempotent. Collapses batch history — as-of reads predating the
    * compaction are gone by design.
    */
  def compactMemorizationIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hasSide = Seq("/_deletes", "/_appends").exists { sub =>
      val p = new org.apache.hadoop.fs.Path(dir + sub)
      p.getFileSystem(conf).exists(p)
    }
    if (!hasSide) return
    // the root overwrite wipes the stream-prefix reservation markers
    // along with the maintenance partitions — snapshot and re-register
    // them, or a live ingest/delete stream's collision guard silently
    // disarms after every compaction (the compactIvfIndex rule)
    val markers = memStreamMarkers(spark, dir)
    // materialize BEFORE the overwrite truncates the directory being
    // read (the compactBm25Index ordering)
    graft.Artifacts.scoped { a =>
      writeMemorizationIndex(a.checkpoint(readMemorizationIndexMerged(spark, dir)),
        dir)
      markers.foreach { case (sub, k) =>
        registerMemStreamPrefix(spark, dir, k, sub)
      }
    }
  }

  /** Stream-prefix reservation markers registered on a gram index —
    * snapshotted around any root rewrite so the collision guards
    * never silently disarm (the compactIvfIndex rule).
    */
  private def memStreamMarkers(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("_ingest_streams", "_delete_streams").flatMap { sub =>
      val p = new org.apache.hadoop.fs.Path(dir + "/" + sub)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p))
        fs.listStatus(p).map(s => (sub, s.getPath.getName)).toSeq
      else Seq.empty[(String, String)]
    }
  }

  /** BOUNDED-HISTORY compaction for the mergeable gram index — the
    * [[graft.similarity.Similarity.compactIvfIndexKeeping]] member of
    * this family: fold the base and every maintenance batch NOT in
    * `keep` into one consolidated base, while the kept batches'
    * `_appends`/`_deletes` partitions stay as-of addressable. The
    * rolling right-to-be-forgotten window: old erasures become
    * physical, recent ingest/erasure batches stay auditable and
    * time-travelable, and the side-partition inventory stops growing
    * without bound. Negative folded sums SURVIVE (a folded delete
    * correcting a KEPT append must keep correcting it — dropping it
    * would resurrect the erased doc's grams), which is exactly the
    * mergeable-counts design paying off. Serving via
    * [[readMemorizationIndexMerged]] is invariant; as-of("build")
    * afterward serves the folded state; folded batch names stop
    * resolving. Stream-prefix reservations survive the root rewrite.
    *
    * Crash contract: an IN-PLACE rewrite like
    * [[compactMemorizationIndex]] — a crash mid-sequence leaves a
    * partial layout; run in a maintenance window, recover by rebuild
    * from source. Folded and kept frames are materialized before the
    * root overwrite.
    */
  def compactMemorizationIndexKeeping(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      keep: Seq[String]): Unit = {
    require(keep.nonEmpty,
      "retention needs at least one kept batch — to collapse ALL " +
        "history use compactMemorizationIndex")
    require(!keep.contains("build"),
      "batch \"build\" is the collapse target and always survives " +
        "retention — name only append/delete batches in keep")
    val appendB = gramKnownBatches(spark, dir, "/_appends")
    val deleteB = gramKnownBatches(spark, dir, "/_deletes")
    val known = appendB ++ deleteB
    val keepSet = keep.toSet
    val missing = keep.filterNot(known)
    require(missing.isEmpty,
      s"kept batches ${missing.mkString(", ")} have no partitions in " +
        s"the gram index at $dir")
    val foldVisible = "build" +: (known -- keepSet).toSeq.sorted
    // materialize everything BEFORE the root overwrite truncates the
    // directories being read (the compactMemorizationIndex ordering)
    graft.Artifacts.scoped { a =>
      val folded = a.checkpoint(
        readMemorizationIndexAsOf(spark, dir, foldVisible))
      def keptSide(sub: String, names: Set[String]): Option[DataFrame] = {
        val present = (names & keepSet).toSeq
        if (present.isEmpty) None
        else Some(a.checkpoint(spark.read.parquet(dir + sub)
          .filter(col("batch_id").cast("string").isin(present: _*))
          .select(col("g"), col("nd"),
            col("batch_id").cast("string").as("batch_id"))))
      }
      val keptA = keptSide("/_appends", appendB)
      val keptD = keptSide("/_deletes", deleteB)
      val markers = memStreamMarkers(spark, dir)
      writeMemorizationIndex(folded, dir)
      keptA.foreach(_.write.partitionBy("batch_id").mode("overwrite")
        .parquet(dir + "/_appends"))
      keptD.foreach(_.write.partitionBy("batch_id").mode("overwrite")
        .parquet(dir + "/_deletes"))
      markers.foreach { case (sub, k) =>
        registerMemStreamPrefix(spark, dir, k, sub)
      }
    }
  }

  /** Stage the per-(doc, gram) occurrence table as a catalog table
    * bucketed on the GRAM key — the memorization family's
    * ingest-staging step (the [[graft.graph.Communities.stageAssignmentEdges]]
    * pattern): a batch's grams are exploded and counted ONCE when the
    * batch lands, and every later probe reads the staged layout
    * instead of re-tokenizing. Bucketed to match
    * [[writeMemorizationIndexBucketed]], so the probe's gram join
    * plans zero exchanges.
    */
  def stageDocGrams(documents: DataFrame, table: String, n: Int = 5,
      buckets: Int = 32, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    graft.ops.BucketedTables.writeBucketed(
      documents
        .select(col(idCol).as("doc_id"),
          explode(ngramsFor(documents)(words(col(textCol)), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")),
      table, "g", buckets)

  /** The frozen gram index in the layout [[memorizationProbeStaged]]
    * serves from: bucketed on `g` with the same bucket count as the
    * staged doc-grams, so probe ⋈ index is co-located file-to-file.
    */
  def writeMemorizationIndexBucketed(index: DataFrame, table: String,
      buckets: Int = 32): Unit =
    graft.ops.BucketedTables.writeBucketed(
      index.select(col("g"), col("nd")), table, "g", buckets)

  /** [[memorizationProbe]] served from STAGED layouts — identical
    * scoring (per-doc fraction of gram occurrences present in ≥
    * `minDocs` indexed docs, gram-less docs 0/0/NULL), different
    * plan: no tokenize pass (zero Generate nodes), and the gram join
    * — the probe's only corpus-wide join — runs between two
    * co-bucketed tables with ZERO exchanges. One pinned-width
    * exchange brings the scores home to doc_id
    * (the assignFromStaged width rationale). `docFilter` restricts
    * the staged grams to the probe batch (a pushed row filter —
    * train-doc rows never reach the join).
    *
    * `docIds` supplies the probe's id universe for the final
    * left join (docs with no grams still get a row).
    */
  def memorizationProbeStaged(docIds: DataFrame, gramsTable: String,
      indexTable: String, minDocs: Long = 1L,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = docIds.sparkSession
    val width = spark.sessionState.conf.numShufflePartitions
    val dg0 = spark.table(gramsTable)
    val dg = docFilter.map(dg0.filter).getOrElse(dg0)
    val per = dg
      .hint("merge") // broadcast would forget the buckets
      .join(spark.table(indexTable), Seq("g"), "left")
      .repartition(width, col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        coalesce(sum(when(coalesce(col("nd"), lit(0L)) >= minDocs,
          col("c"))), lit(0L)).as("dup_grams"))
    docIds.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        when(col("n_grams") > 0,
          expr("(dup_grams * 20000 + n_grams) div (2 * n_grams)") /
            lit(10000.0)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Ingest-time memorization gate: score candidate docs against a
    * FROZEN [[memorizationIndex]] — per doc, the fraction of its
    * n-gram occurrences already present in ≥ `minDocs` indexed
    * documents. `minDocs = 1` reads "how much of this candidate
    * duplicates the existing corpus" (the admission gate);
    * `minDocs = 2` over an index that already contains the probe
    * batch reproduces [[memorizationStats]]' cross-doc semantics
    * exactly (the incremental-equals-retrain gate).
    *
    * Scale shape: the probe batch explodes and joins the index on
    * the gram key (broadcast while the index fits, key shuffle past
    * that); the index is never rebuilt per batch.
    */
  def memorizationProbe(docs: DataFrame, index: DataFrame, n: Int = 5,
      minDocs: Long = 1L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dg = docs
      .select(col(idCol).as("doc_id"),
        explode(ngramsFor(docs)(words(col(textCol)), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val per = dg
      .join(index.select(col("g"), col("nd")), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        coalesce(sum(when(coalesce(col("nd"), lit(0L)) >= minDocs,
          col("c"))), lit(0L)).as("dup_grams"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        when(col("n_grams") > 0,
          expr("(dup_grams * 20000 + n_grams) div (2 * n_grams)") /
            lit(10000.0)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  def tfidfKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf", round(log(col("n_docs") / col("df")), 6))
      .withColumn("score", round(col("tf") * col("idf"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // ---------------------------------------------------------------
  // Statistical language-model scoring (CCNet-style quality filter)
  // ---------------------------------------------------------------

  /** Per-document add-one-smoothed bigram language-model score — the
    * CCNet/KenLM-shaped perplexity filter (Wenzek et al. 2020) with
    * the LM trained on the corpus itself: documents whose word
    * transitions are unusual for the corpus (spam, mojibake, word
    * salad) score a high mean negative log-likelihood.
    *
    *   nll(w1 w2) = ln((c(w1·) + V) / (c(w1 w2) + 1))   [add-1]
    *   lm_nll(D)  = mean over D's bigrams, 0.0 when |D| < 2 words
    *
    * c(w1·) counts w1 as a bigram CONTEXT (occurrences as a first
    * word), so the conditional sums to 1 over the smoothed vocabulary
    * V (distinct corpus tokens). Each bigram's nll rounds to 6 places
    * before the mean (ln ulp contract, as searchBm25), the mean to 4.
    *
    * Scale shape: the trained model IS a DataFrame — bigram counts
    * aggregate with map-side combine (state bounded by the distinct
    * bigram vocabulary); context counts are a second-stage agg OVER
    * the bigram counts, not a second corpus pass. Scoring joins the
    * corpus's exploded bigrams to the model on the gram key and
    * re-aggregates per document — text itself never shuffles, only
    * (id, gram) pairs. V and the flag threshold ride along broadcast.
    */
  def lmScore(documents: DataFrame, nllThreshold: Double = 10.0): DataFrame =
    lmScoreWith(lmTrain(documents), documents, nllThreshold)

  /** A frozen corpus bigram LM: gram counts, context counts, and the
    * vocabulary-size scalar. Each member is an ordinary DataFrame, so
    * the model persists as three parquet tables and reloads anywhere —
    * train once on the reference corpus, score every later batch or
    * micro-batch against it (same serving split as the dedup
    * signature index).
    */
  final case class LmModel(grams: DataFrame, contexts: DataFrame,
      vocab: DataFrame)

  def lmTrain(documents: DataFrame): LmModel = {
    val grams = documents
      .select(explode(ngramsFor(documents)(words(col("text")), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val contexts = grams.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = documents
      .select(explode(words(col("text"))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    LmModel(grams, contexts, vocab)
  }

  /** Persist a trained model as three parquet tables under `dir` —
    * the deployable artifact a scoring job or streaming gate loads.
    */
  def writeLmModel(model: LmModel, dir: String): Unit = {
    model.grams.write.mode("overwrite").parquet(s"$dir/grams")
    model.contexts.write.mode("overwrite").parquet(s"$dir/contexts")
    model.vocab.write.mode("overwrite").parquet(s"$dir/vocab")
  }

  def readLmModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): LmModel =
    LmModel(
      spark.read.parquet(s"$dir/grams"),
      spark.read.parquet(s"$dir/contexts"),
      spark.read.parquet(s"$dir/vocab"))

  /** Score documents against a FROZEN model. Bigrams and contexts the
    * model never saw smooth through the same add-1 form (c12→0,
    * c1→0 ⇒ nll = ln(V)), so out-of-corpus batches score without
    * special cases — scoring a subset of the training corpus itself
    * is exactly [[lmScore]].
    */
  def lmScoreWith(model: LmModel, documents: DataFrame,
      nllThreshold: Double = 10.0): DataFrame = {
    val bigrams = documents
      .select(col("doc_id"),
        explode_outer(ngramsFor(documents)(words(col("text")), 2)).as("bg"))
    bigrams
      .join(model.grams.select(col("bg"), col("c12")), Seq("bg"), "left")
      // the context derives from the SCORED bigram, not the model row:
      // a known context must still count when the full gram is unseen
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(model.contexts, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab))
      // per-bigram nll in integer MICRO-nats: the 6-decimal ln contract
      // as an exact long, so the per-doc mean is an exact integer sum
      // + one IEEE division — engine-independent regardless of
      // aggregation order (a float avg() differs in the 4th decimal
      // between engines once a doc has enough bigrams; bit at sf0.1)
      .withColumn("nll6",
        when(col("bg").isNotNull,
          round(log((coalesce(col("c1"), lit(0L)) + col("v")) /
            (coalesce(col("c12"), lit(0L)) + lit(1.0))) * 1e6)
            .cast("long")))
      .groupBy(col("doc_id"))
      .agg(
        count(col("bg")).as("n_bigrams"),
        sum(col("nll6")).as("__s6"))
      .withColumn("lm_nll",
        when(col("n_bigrams") > 0,
          round(col("__s6") / (col("n_bigrams") * lit(1e6)), 4))
          .otherwise(lit(0.0)))
      .drop("__s6")
      .withColumn("unusual", col("lm_nll") >= nllThreshold)
      .orderBy(col("doc_id"))
  }

  /** Per-source unigram KL divergence from the blended corpus — the
    * domain-shift readout of mixture design: sources whose token
    * distribution diverges most from the blend contribute the most
    * distributional novelty (or noise). Add-1 smoothed over the
    * corpus vocabulary:
    *
    *   KL(P_s ‖ P_c) = Σ_w P_s(w)·ln(P_s(w)/P_c(w)),
    *   P_s(w) = (c_s(w)+1)/(N_s+V),  P_c(w) = (c(w)+1)/(N+V)
    *
    * Every factor of the log ratio is an exact integer, so both
    * engines evaluate identical IEEE doubles; each term rounds to an
    * integer PICO-nat and the per-source sum is exact long
    * arithmetic — order-independent, like [[lmScoreWith]]'s
    * micro-nat mean.
    *
    * Scale shape: one (source, word) aggregation with map-side
    * combine; the evaluation grid is vocabulary × sources (sources
    * ride a broadcast over the word-count table — the corpus itself
    * never re-joins), and the final rollup state is one long per
    * source.
    */
  def domainDivergence(documents: DataFrame): DataFrame = {
    val tokens = documents
      .select(col("source"), explode(words(col("text"))).as("w"))
    val csw = tokens.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
    val cw = csw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val totals = cw.agg(sum(col("c_w")).as("n"), count(lit(1)).as("v"))
    cw.crossJoin(broadcast(ns))
      .join(csw, Seq("source", "w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("c_sw0", coalesce(col("c_sw"), lit(0L)))
      .withColumn("p_s",
        (col("c_sw0") + 1) * lit(1.0) / (col("n_s") + col("v")))
      .withColumn("t12",
        round(col("p_s") *
          log(((col("c_sw0") + 1) * lit(1.0) * (col("n") + col("v"))) /
            ((col("n_s") + col("v")) * lit(1.0) * (col("c_w") + 1))) *
          lit(1e12)).cast("long"))
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_tokens"),
        round(sum(col("t12")) / lit(1e12), 6).as("kl_divergence"))
      .orderBy(col("source"))
  }

  /** Sequence packing for training-block assembly: documents stream
    * into fixed token-budget blocks in deterministic order, the
    * GPT-style pre-tokenization chunking where a document belongs to
    * the block containing its start offset (long docs may straddle a
    * boundary — exactly what a token-stream chunker does).
    *
    * Scale shape: a single global running sum would serialize on one
    * task, so the corpus shards by `id % nShards` first and each
    * shard packs independently (one window per shard, all shards in
    * parallel). Block ids are (shard, block) — deterministic across
    * runs, engines, and cluster layouts, since nothing depends on
    * physical partitioning.
    */
  def packSequences(documents: DataFrame, idCol: String, tokenCol: Column,
      budget: Long, nShards: Int = 32): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val shard = (col(idCol) % nShards).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    documents
      .withColumn("__shard", shard)
      .withColumn("__tokens", tokenCol.cast("long"))
      .withColumn("__cum", sum(col("__tokens")).over(w))
      .withColumn("block",
        floor((col("__cum") - col("__tokens")) / budget).cast("long"))
      .withColumnRenamed("__shard", "shard")
      .withColumnRenamed("__tokens", "n_tokens")
      .drop("__cum")
  }

  /** Packing-efficiency report over [[packSequences]]: per shard, how
    * full the packed training blocks actually are — fill = tokens /
    * (blocks · budget). The readout every packing strategy is judged
    * by: wasted block space is wasted accelerator time. Reported at
    * 4 decimals via the exact long-division form (the
    * [[tokenFertility]] contract); can exceed 1.0 because a document
    * is assigned to the block where it STARTS (the packSequences
    * straddle rule). Scale: the packSequences window shuffle plus a
    * shard-keyed rollup — state is three longs per shard.
    */
  def packingEfficiency(documents: DataFrame, idCol: String,
      tokenCol: Column, budget: Long, nShards: Int = 32): DataFrame =
    packSequences(documents, idCol, tokenCol, budget, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"),
        (max(col("block")) + 1).as("blocks"),
        sum(col("n_tokens")).as("tokens"))
      .select(col("shard"), col("docs"), col("blocks"), col("tokens"),
        (expr(s"(tokens * 20000 + blocks * $budget) div " +
          s"(blocks * ${2 * budget})") / lit(10000.0)).as("fill"))
      .orderBy(col("shard"))

  /** BPE merge induction (Sennrich et al. 2016, the tokenizer-training
    * algorithm): learn the first `nMerges` byte-pair merges from the
    * corpus — each round counts adjacent symbol pairs over the WORD
    * FREQUENCY table (weighted by word count, overlapping positions
    * included, exactly get_stats), picks the most frequent pair (ties:
    * lexicographically smallest (a, b) — deterministic cross-engine),
    * and applies the merge greedily left-to-right in every word.
    * Words carry the classic end-of-word marker `_`.
    *
    * Output: (rank, sym_a, sym_b, freq) — the ordered merge table a
    * tokenizer ships.
    *
    * Merge application is ONE literal `replace` per round on a
    * bracket-encoded symbol string (`<l><o><w><_>`): every symbol
    * carries its own delimiters, so leftmost non-overlapping literal
    * replacement — identical semantics in every engine — IS the
    * greedy BPE merge (matches can never share characters; a naive
    * single-delimiter join gets runs of 4+ identical symbols wrong
    * because each match consumes its right delimiter). Words
    * containing any marker character (`<`, `>`, or the end-of-word
    * marker `_`, which would otherwise encode to the same `<_>`
    * symbol and conflate word-internal underscores with word
    * endings) are excluded from the vocabulary.
    *
    * Scale shape (100 TB): the corpus is scanned ONCE (the word-count
    * shuffle); every round after that runs on the word VOCABULARY —
    * orders of magnitude smaller than the corpus, the reason BPE
    * trains on frequency tables — as one vocabulary-sized aggregation
    * plus a 1-row argmax collect (the same bounded driver-collect
    * contract as the IVF centroids). The vocabulary persists per
    * round and releases its predecessor.
    */
  def bpeMerges(documents: DataFrame, nMerges: Int = 8,
      textCol: String = "text"): DataFrame = {
    // full-merge-count training is supported (real tokenizers ship
    // 32k+ merges; tools.ProfileBpe records the per-round cost —
    // ~0.1 s/rank at sf0.1, flat across ranks): the per-rank price is
    // one vocabulary-sized aggregation + a 1-row collect, NOT a
    // corpus pass, so rank count multiplies the small side only. The
    // 64-bound lives on in bpeEncode's literal-replace chain — serve
    // larger tables through the vocab-join path (bpeEncodeWithVocab).
    require(nMerges >= 1 && nMerges <= 100000,
      s"nMerges must be in [1, 100000]: $nMerges")
    val spark = documents.sparkSession
    val wordCounts = documents
      .select(explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains("<") && !col("word").contains(">") &&
        !col("word").contains("_"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    // eager localCheckpoint per round (not persist): at full merge
    // counts the round recurrence would otherwise grow the LOGICAL
    // plan by one replace per rank (512 ranks → a 512-deep analysis
    // chain); the checkpoint keeps every round's plan flat — the
    // graph-loop lineage convention
    val merges = graft.Artifacts.scoped { a =>
      var vocab = a.checkpoint(wordCounts.select(
        concat(lit("<"), array_join(split(col("word"), ""), "><"),
          lit("><_>")).as("s"),
        col("wc")))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var rank = 1
      var exhausted = false
      while (!exhausted && rank <= nMerges) {
        val syms = split(expr("substring(s, 2, length(s) - 2)"), "><")
        val best = vocab
          .select(syms.as("syms"), col("wc"))
          .select(col("syms"), col("wc"),
            explode(when(size(col("syms")) >= 2,
                sequence(lit(1), size(col("syms")) - 1))
              .otherwise(array().cast("array<int>"))).as("i"))
          .select(element_at(col("syms"), col("i")).as("a"),
            element_at(col("syms"), col("i") + 1).as("b"), col("wc"))
          .groupBy(col("a"), col("b")).agg(sum(col("wc")).as("f"))
          .orderBy(col("f").desc, col("a"), col("b")).limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (sa, sb, f) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((rank.toLong, sa, sb, f))
          val next = a.checkpoint(vocab
            .select(replace(col("s"), lit(s"<$sa><$sb>"), lit(s"<$sa$sb>")).as("s"),
              col("wc")))
          a.free(vocab)
          vocab = next
          rank += 1
        }
      }
      merges
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "sym_a", "sym_b", "freq")
  }

  /** Apply a learned BPE merge table to tokenize the corpus — the
    * serving half of the tokenizer pipeline ([[bpeMerges]] is the
    * training half; this is the half that actually runs over 100 TB).
    *
    * Each word is bracket-encoded (`<n><e><w><_>`) and every merge is
    * applied in rank order as ONE literal `replace` — the same
    * encoding argument as [[bpeMerges]]: every symbol carries its own
    * delimiters, so leftmost non-overlapping literal replacement IS
    * greedy left-to-right merge application, identically in every
    * engine. Words containing a marker character (`<`, `>`, `_`) are
    * dropped — the same vocabulary contract as training (they were
    * never seen by the learner, so they have no defined encoding).
    *
    * Output: (doc_id, n_tokens, tokens) — `tokens` is the space-joined
    * subword stream (symbols never contain spaces: words were split on
    * them), `n_tokens` its length. Empty/filtered-out docs emit
    * (id, 0, "").
    *
    * Scale shape (100 TB): the merge table is a bounded driver-side
    * literal (≤64 pairs — the PQ-codebook contract) that the native
    * [[graft.plans.BpeEncodeWords]] expression applies per word in
    * one pass: fully narrow, zero exchanges, tokenization runs at
    * parquet-scan speed and inherits the input partitioning.
    */
  def bpeEncode(documents: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(merges.nonEmpty && merges.size <= 64,
      s"merge table must hold 1..64 pairs: ${merges.size}")
    require(merges.forall { case (a, b) =>
      a.nonEmpty && b.nonEmpty && !(a + b).exists("<>".contains(_)) },
      "merge symbols must be non-empty and delimiter-free")
    // native one-pass tokenization: the composed form runs the whole
    // replace chain INSIDE a transform lambda — interpreted per word
    // (round-10 honest bench: 2.9× count-mode on exactly this
    // projection). QuantSpec pins word-for-word parity with that
    // chain; null/empty contracts ride the outer shape below.
    def tokenStream(ws: Column): Column =
      array_join(GraftFunctions.call(documents)(TextHashFunctions.BpeEncodeName,
        ws, typedlit(merges.flatMap(m => Seq(m._1, m._2)).toVector)), " ")
    documents
      .select(col(idCol).as("doc_id"),
        filter(words(col(textCol)), w =>
          w =!= "" && !w.contains("<") && !w.contains(">") &&
            !w.contains("_")).as("__ws"))
      .select(col("doc_id"),
        tokenStream(col("__ws")).as("tokens"))
      .select(col("doc_id"),
        when(col("tokens") === "", lit(0L))
          .otherwise(size(split(col("tokens"), " ", -1)).cast("long"))
          .as("n_tokens"),
        col("tokens"))
  }

  // ---------------------------------------------------------------
  // BPE vocab-join serving (unbounded merge tables)
  // ---------------------------------------------------------------

  /** The [[bpeMerges]]/[[bpeEncode]] vocabulary filter as a Column
    * predicate: non-empty and free of the bracket delimiters and the
    * end-of-word marker.
    */
  private def bpeLegalWord(w: Column): Column =
    w =!= "" && !w.contains("<") && !w.contains(">") && !w.contains("_")

  /** Bounded collect of the corpus word-frequency table under the
    * [[bpeMerges]] vocabulary contract (marker-carrying words
    * excluded). REFUSES unbounded vocabularies — the
    * collectLmLiteral / PQ-codebook serving contract: past `maxVocab`
    * distinct words a driver-side table stops being a serving
    * artifact, and training belongs to the distributed [[bpeMerges]].
    *
    * `minCount` is the standard frequency-floor escape hatch for
    * noisy 100 TB-scale vocabularies (SentencePiece/HF tokenizers
    * prune rare words the same way): words below the floor are
    * dropped BEFORE the maxVocab check. LOUD CONTRACT: pruning
    * changes the learned merges versus full-vocabulary training —
    * pruned words contribute no pair counts — so a floor is a
    * deliberate modeling choice, not a transparent optimization;
    * callers record it next to the merge table (BpeSpec pins that a
    * floor-pruned local train equals the distributed train over the
    * floor-filtered corpus table).
    */
  def collectWordCounts(documents: DataFrame, textCol: String = "text",
      maxVocab: Long = 2000000L, minCount: Long = 1L): Seq[(String, Long)] = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    graft.Artifacts.scoped { a =>
      val wc = a.persist(documents
        .select(explode(words(col(textCol))).as("word"))
        .filter(bpeLegalWord(col("word")))
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .filter(col("wc") >= minCount))
      val n = wc.count()
      require(n <= maxVocab,
        s"corpus has $n distinct words > maxVocab=$maxVocab" +
          (if (minCount > 1) s" at minCount=$minCount" else "") +
          ": a vocabulary this large stops being a driver-side artifact — " +
          "raise the minCount frequency floor or train with the " +
          "distributed bpeMerges instead")
      wc.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
  }

  /** Greedy leftmost non-overlapping single-pass merge over a symbol
    * sequence — exactly what the bracket-encoded literal `replace` of
    * the DataFrame forms computes (matches can never share symbols).
    */
  private def applyMergeLocal(syms: Vector[String], a: String,
      b: String): Vector[String] = {
    val o = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        o += (a + b); i += 2
      } else { o += syms(i); i += 1 }
    }
    o.result()
  }

  /** Driver-side exact twin of [[bpeMerges]] over a collected word
    * frequency table — the unbounded-RANK learner for BOUNDED
    * vocabularies. Real tokenizers ship 32k–100k merges; the
    * distributed learner pays one vocabulary aggregation + one 1-row
    * collect PER RANK, which is the right trade only while ranks are
    * few. When the vocabulary itself is bounded
    * ([[collectWordCounts]] enforces the refusal contract), training
    * runs entirely driver-side in milliseconds — the union-find /
    * fast-PageRank byte-budget split applied to tokenizer training.
    *
    * Semantics are rank-for-rank identical to [[bpeMerges]] (spec
    * and fuzz-pinned): each round counts adjacent symbol pairs over
    * the word-frequency table (overlapping positions included),
    * picks the most frequent pair (ties: lexicographically smallest
    * (a, b)), applies it greedily leftmost non-overlapping, and
    * stops at `nMerges` or exhaustion. Words carry the end-of-word
    * marker `_`; inputs are assumed marker-free.
    *
    * Returns (rank, sym_a, sym_b, freq) tuples in rank order.
    */
  def bpeMergesLocal(wordCounts: Seq[(String, Long)], nMerges: Int)
      : Seq[(Long, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be ≥ 1: $nMerges")
    var vocab: Map[Vector[String], Long] = wordCounts
      .map { case (w, c) => (w.map(_.toString).toVector :+ "_") -> c }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val out = Vector.newBuilder[(Long, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (!exhausted && rank <= nMerges) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          stats(p) = stats.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (stats.isEmpty) exhausted = true
      else {
        val mx = stats.values.max
        // NB: `stats.collect { case (p, f) ... => p }` would rebuild
        // a MAP (pairs → keyed by p._1) and silently collapse tied
        // pairs sharing a first symbol — iterate to keep them all
        val (a, b) = stats.iterator
          .collect { case (p, f) if f == mx => p }.min
        out += ((rank.toLong, a, b, mx))
        vocab = vocab.toSeq
          .map { case (syms, c) => applyMergeLocal(syms, a, b) -> c }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        rank += 1
      }
    }
    out.result()
  }

  /** The word-vocabulary tokenization table — the serving artifact of
    * the vocab-join tokenizer: every distinct legal corpus word with
    * its subword stream under `merges` and the stream's length.
    * Merges apply in rank order exactly as [[bpeEncode]]'s literal
    * chain, but over the VOCABULARY (orders of magnitude smaller than
    * the corpus) and in chunks of ≤64 replaces per materialized
    * projection, so no codegen unit ever exceeds the proven literal
    * depth — a 32k-merge table is 500 vocabulary-sized passes, not a
    * 32k-deep expression over the corpus. Chunk boundaries are
    * persisted+materialized barriers (CollapseProject would otherwise
    * fuse the chunks back into one expression).
    *
    * Returns a MATERIALIZED (word, tokens, n_tokens) frame
    * (localCheckpoint — it is a build-once artifact, the PQ-codebook
    * lifecycle; callers wanting cross-session reuse write it to
    * parquet like the other serving indexes).
    */
  def bpeVocabTokens(documents: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", chunkSize: Int = 64): DataFrame =
    graft.Artifacts.scoped(a =>
      a.keep(vocabTokensIn(a, documents, merges, textCol, chunkSize)))

  /** [[bpeVocabTokens]] with every frame it materializes, its result
    * included, held in `a`.
    */
  private def vocabTokensIn(a: graft.Artifacts, documents: DataFrame,
      merges: Seq[(String, String)], textCol: String,
      chunkSize: Int): DataFrame = {
    require(merges.nonEmpty, "merge table must be non-empty")
    require(chunkSize >= 1 && chunkSize <= 64,
      s"chunkSize must be in [1, 64]: $chunkSize")
    require(merges.forall { case (sa, sb) =>
      sa.nonEmpty && sb.nonEmpty && !(sa + sb).exists("<>".contains(_)) },
      "merge symbols must be non-empty and delimiter-free")
    var cur = a.persist(documents
      .select(explode(words(col(textCol))).as("word"))
      .filter(bpeLegalWord(col("word")))
      .distinct()
      .select(col("word"),
        concat(lit("<"), array_join(split(col("word"), ""), "><"),
          lit("><_>")).as("s")))
    cur.count()
    merges.grouped(chunkSize).foreach { chunk =>
      val applied = chunk.foldLeft(col("s")) { case (c, (sa, sb)) =>
        replace(c, lit(s"<$sa><$sb>"), lit(s"<$sa$sb>"))
      }
      val next = a.persist(cur.select(col("word"), applied.as("s")))
      next.count()
      a.free(cur)
      cur = next
    }
    val t = replace(col("s"), lit("><"), lit(" "))
    val out = a.checkpoint(cur
      .select(col("word"), t.substr(lit(2), length(t) - 2).as("tokens"))
      .select(col("word"), col("tokens"),
        size(split(col("tokens"), " ", -1)).cast("long").as("n_tokens")))
    a.free(cur)
    out
  }

  /** Tokenize the corpus against a prebuilt [[bpeVocabTokens]] table:
    * explode to (doc, position, word), join on word, reassemble in
    * position order. Output contract matches [[bpeEncode]]:
    * (doc_id, n_tokens, tokens); docs whose words are all filtered
    * (or absent from the vocabulary) emit (id, 0, "").
    *
    * Scale shape (100 TB): O(corpus) with ONE bounded join — the
    * corpus explodes to word occurrences and joins the vocabulary
    * (broadcast while it fits, word-key shuffle join past that), then
    * one per-doc aggregation reassembles the stream. No per-merge
    * pass ever touches the corpus — that cost lives in
    * [[bpeVocabTokens]], amortized over every corpus this merge
    * table will ever tokenize.
    */
  def bpeEncodeWithVocab(documents: DataFrame, vocabTokens: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ex = documents
      .select(col(idCol).as("doc_id"),
        posexplode_outer(filter(words(col(textCol)),
          w => bpeLegalWord(w))))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
    ex.join(vocabTokens.select(col("word"), col("tokens"),
        col("n_tokens")), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tokens")))),
          x => x.getField("tokens")), " ").as("tokens"))
      .select(col("doc_id"), col("n_tokens"), col("tokens"))
  }

  /** [[bpeEncode]] past the 64-merge literal cap: build the
    * vocabulary tokenization under the FULL merge table
    * ([[bpeVocabTokens]] — chunked, never a deep expression), then
    * tokenize the corpus by explode + join
    * ([[bpeEncodeWithVocab]]). Equal to [[bpeEncode]] wherever both
    * are defined (merge tables ≤64 — spec-pinned); this form has no
    * cap.
    */
  def bpeEncodeVocab(documents: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bpeEncodeWithVocab(documents,
      bpeVocabTokens(documents, merges, textCol), idCol, textCol)

  /** [[bpeEncodeWithVocab]] with the real-tokenizer OOV contract:
    * words ABSENT from the vocabulary table fall back to their
    * character stream + end-of-word marker (exactly the zero-merges
    * base encoding — what the merge chain produces on a never-seen
    * word before any merge applies) instead of dropping. A shipped
    * tokenizer never loses input; serving a trained vocabulary
    * against fresh text needs this degrade path.
    *
    * Scale shape identical to [[bpeEncodeWithVocab]]: one bounded
    * vocabulary join over the exploded corpus; the fallback is a
    * row-local expression on the join's miss side — no extra pass.
    */
  def bpeEncodeWithVocabFallback(documents: DataFrame,
      vocabTokens: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ex = documents
      .select(col(idCol).as("doc_id"),
        posexplode_outer(filter(words(col(textCol)),
          w => bpeLegalWord(w))))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
    // null word (empty doc) stays null through both fallbacks, so the
    // empty-doc (id, 0, "") contract is untouched
    val fbTokens =
      concat(array_join(split(col("word"), ""), " "), lit(" _"))
    val fbN = (length(col("word")) + lit(1)).cast("long")
    ex.join(vocabTokens.select(col("word"), col("tokens"),
        col("n_tokens")), Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tokens"), fbTokens).as("tokens"),
        coalesce(col("n_tokens"), fbN).as("n_tokens"))
      .groupBy(col("doc_id"))
      .agg(
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tokens")))),
          x => x.getField("tokens")), " ").as("tokens"))
      .select(col("doc_id"), col("n_tokens"), col("tokens"))
  }

  /** Tokenizer-fitness readout per language over HELD-OUT text: how
    * a vocabulary trained on one slice serves another — the report a
    * tokenizer owner reads before shipping (per-language OOV rate =
    * word occurrences the trained vocabulary has never seen;
    * fertility = tokens per KNOWN word occurrence under the merge
    * table). High OOV in a language means the training slice
    * under-represents it; high fertility means its words fragment —
    * both are mixture-design signals, measured here exactly.
    *
    * Exactness: counts are exact longs; both ratios use the exact
    * long-division 4-decimal readout ([[tokenFertility]]'s
    * contract); all-OOV languages read NULL fertility.
    *
    * Scale shape: the corpus explodes to legal-word occurrences and
    * joins the BOUNDED vocabulary table once (broadcast while it
    * fits, word-key join past that); output is |languages| rows.
    */
  def bpeCoverage(documents: DataFrame, vocabTokens: DataFrame,
      langCol: String = "lang", textCol: String = "text"): DataFrame =
    documents
      .select(col(langCol).as("lang"),
        explode(filter(words(col(textCol)), w => bpeLegalWord(w)))
          .as("word"))
      .join(vocabTokens.select(col("word"), col("n_tokens")),
        Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("words_total"),
        count(when(col("n_tokens").isNull, 1)).as("words_oov"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_total"))
      .select(col("lang"), col("words_total"), col("words_oov"),
        col("tokens_total"),
        (expr("(words_oov * 20000 + words_total) div (2 * words_total)") /
          lit(10000.0)).as("oov_rate"),
        when(col("words_total") - col("words_oov") > 0,
          expr("(tokens_total * 20000 + (words_total - words_oov)) div " +
            "(2 * (words_total - words_oov))") / lit(10000.0))
          .as("fertility"))
      .orderBy(col("lang"))

  /** Persist a [[bpeVocabTokens]] table as parquet — the tokenizer's
    * WRITTEN serving artifact (the VectorStore.write / writeBm25Index
    * lifecycle): build once per (vocabulary, merge table), then any
    * number of corpora (or later sessions / streaming batches)
    * tokenize by reading it back and joining — no re-derivation, no
    * pinned checkpoint blocks. The tokenizer a 100 TB pipeline ships
    * IS this table plus the merge ranks.
    */
  def writeVocabTokens(documents: DataFrame, merges: Seq[(String, String)],
      dir: String, textCol: String = "text"): Unit =
    graft.Artifacts.scoped(a =>
      vocabTokensIn(a, documents, merges, textCol, chunkSize = 64)
        .write.mode("overwrite").parquet(dir))

  /** [[bpeEncodeWithVocab]] against a written artifact: corpus words
    * absent from the stored vocabulary drop (they were never seen by
    * the tokenizer build — the marker-word contract extended to
    * out-of-vocabulary words; production tokenizers byte-fall-back
    * here, which is a vocabulary-design choice, not an engine one).
    */
  def bpeEncodeFromVocabIndex(documents: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bpeEncodeWithVocab(documents,
      documents.sparkSession.read.parquet(dir)
        .select(col("word"), col("tokens"), col("n_tokens")),
      idCol, textCol)

  /** Overlapping sliding-window chunking — the RAG / context-window
    * preprocessing step: each document becomes ⌈…⌉ word windows of
    * `chunkWords` words advancing by `strideWords` (windows overlap
    * by chunkWords − strideWords words so no boundary-spanning
    * passage is ever split across two chunks without also appearing
    * whole in one). Chunk count is the standard
    * K = 1 if n ≤ chunkWords else 1 + ⌈(n − chunkWords)/stride⌉ —
    * the last window reaches the end of the document and may be
    * short, and no window is ever fully contained in its
    * predecessor.
    *
    * Output: (doc_id, chunk_idx, chunk_text, n_words), UNORDERED by
    * repo convention (callers sort at the query edge).
    *
    * Scale shape (100 TB): entirely narrow — split, a bounded
    * sequence explode, and slices, all inside whole-stage codegen
    * with ZERO exchanges; chunking runs at parquet-scan speed and
    * the output partitioning inherits the input's. The chunk-count
    * arithmetic is integer (exact cross-engine); only positive
    * operands reach the division.
    */
  def chunkDocuments(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkWords: Int = 64,
      strideWords: Int = 48): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive: $chunkWords")
    require(strideWords > 0 && strideWords <= chunkWords,
      s"strideWords must be in [1, chunkWords]: $strideWords")
    val ws = words(col(textCol))
    val n = size(ws)
    // K = 1 + (n - chunkWords + stride - 1) div stride for n > chunk;
    // operands are positive so double-div + trunc-cast ≡ integer div
    val nChunks = when(n <= chunkWords, lit(1)).otherwise(
      lit(1) + ((n - lit(chunkWords) + lit(strideWords - 1)) /
        lit(strideWords)).cast("int"))
    documents
      .select(col(idCol).as("doc_id"), ws.as("__ws"), n.as("__n"),
        nChunks.as("__nk"))
      .select(col("doc_id"), col("__ws"), col("__n"),
        explode(sequence(lit(0), col("__nk") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("__ws"),
          col("chunk_idx") * strideWords + 1, lit(chunkWords))).as("chunk_text"),
        least(lit(chunkWords), col("__n") - col("chunk_idx") * strideWords)
          .cast("long").as("n_words"))
  }
}
