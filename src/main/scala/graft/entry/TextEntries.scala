package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops._
import graft.quality.RuleBasedScorer
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

/** Text analysis, BPE, LM/NB/DSIR gates, memorization, admission — one module of the per-family SparkEntry split (round 14):
  * this family's `queries` entries and their static oracle SQL, plus
  * (after the helper migration) the builders and generated oracles
  * only this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait TextEntries extends EntryInfra {

  protected def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Training-data prep: PII stripped from flagged docs (narrow).
    // The synthetic corpus carries no PII, so identifiers are planted
    // deterministically (same construction in the oracle) — the
    // redaction spans, not just the match booleans, go through the gate
    "q_redact_pii" -> ((s, d) => {
      import graft.functions.TextFunctions.{hasPii, redactPii}
      val planted = Tables.documents(s, d).withColumn("text2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" mail user"),
            col("doc_id").cast("string"), lit("@example.com")))
        .when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" ssn 123-45-6789 call +1 (555) 123-4567")))
        .otherwise(col("text")))
      planted.filter(hasPii(col("text2")))
        .select(col("doc_id"), redactPii(col("text2")).as("redacted"))
        .orderBy(col("doc_id"))
    }),
    // Training prep: overlapping sliding-window chunking (32-word
    // windows, stride 24) — the RAG/context-window splitter; fully
    // narrow (zero exchanges), presentation sort at the edge
    "q_chunk_docs" -> ((s, d) =>
      graft.textanalysis.TextAnalysis.chunkDocuments(
        Tables.documents(s, d), chunkWords = 32, strideWords = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),
    // Text analysis: per-doc token counts, ratios, language ID
    "q_text_stats" -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    // Text analysis: per-language corpus rollup
    "q_corpus_stats" -> ((s, d) => TextAnalysis.corpusStats(Tables.documents(s, d))),
    // Text analysis: rolling-hash + md5 document fingerprints
    "q_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))),
    // Quality: Gopher-style repetition filters (dup-word/n-gram
    // fractions + top-bigram share; narrow per-doc array math)
    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d))),
    // Quality: per-doc token-distribution Shannon entropy (nats) —
    // the templated-garbage detector; zero-shuffle narrow fold in
    // exact integer micro-nats (plan + exactness spec'd)
    "q_token_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d))),
    // Quality: zlib compressibility (deflated/raw bytes) — catches
    // long-range template repeats entropy and n-gram stats miss.
    // Engine-specific codec → rows-only (exactness spec'd against
    // java.util.zip; the documented sketch-family pattern)
    "q_compression_ratio" -> ((s, d) =>
      TextAnalysis.compressionRatio(Tables.documents(s, d))),
    // Decontamination: benchmark bigram overlap (benchmark = the
    // doc_id % 101 == 7 slice, broadcast; corpus = the rest)
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contaminationStats(
        docs.filter(col("doc_id") % 101 =!= 7),
        docs.filter(col("doc_id") % 101 === 7),
        "doc_id", "text")
    }),
    // The inverse contamination report: per BENCHMARK doc, how many
    // corpus docs share its bigrams and what fraction of its grams
    // leaked — the eval owner's "which test items are compromised"
    "q_contamination_by_bench" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.contaminationByBenchmark(
        docs.filter(col("doc_id") % 101 =!= 7),
        docs.filter(col("doc_id") % 101 === 7),
        "doc_id", "text")
    }),
    // Span-level decontamination: every 8-word span shared with the
    // held-out slice is cut out of the corpus doc, rest kept
    "q_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.spanDecontaminate(
        docs.filter(col("doc_id") % 101 =!= 7),
        docs.filter(col("doc_id") % 101 === 7),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // Tokenizer training: the first 8 BPE merges learned from the
    // corpus word-frequency table (Sennrich get_stats/merge loop;
    // one corpus shuffle, then vocabulary-sized rounds)
    "q_bpe_merges" -> ((s, d) =>
      withAqeOff(s) {
        graft.textanalysis.TextAnalysis.bpeMerges(Tables.documents(s, d), 8)
          .orderBy(col("rank"))
      }),
    // Tokenizer serving: learn the merge table, then tokenize the
    // corpus with it (bounded driver-side merge literal → one narrow
    // codegen'd replace chain; the half that runs at 100 TB)
    "q_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.textanalysis.TextAnalysis.bpeMerges(docs, 8)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.textanalysis.TextAnalysis.bpeEncode(docs, merges)
        .orderBy(col("doc_id"))
    }),
    // Tokenizer serving PAST the 64-merge literal cap: the FULL
    // learned merge table (this corpus exhausts at ~106 merges —
    // past the literal-chain bound; real tokenizers ship 32k+)
    // through the vocab-join design — merges tokenize the word
    // VOCABULARY once (chunked ≤64-replace codegen units), the
    // corpus tokenizes by explode + join on word: O(corpus), one
    // bounded join, no per-merge pass over the data. Vocab table and
    // merge table are build-once session artifacts (the PQ-codebook
    // lifecycle).
    "q_bpe_encode_vocab" -> ((s, d) =>
      graft.textanalysis.TextAnalysis.bpeEncodeWithVocab(
        Tables.documents(s, d), bpeVocabTable(s, d))
        .orderBy(col("doc_id"))),
    // The same tokenization served from the WRITTEN artifact (the
    // VectorStore.write lifecycle): the vocab-token table reads back
    // from parquet and the corpus joins it — cross-session serving,
    // gated by the same direct-replay oracle
    "q_bpe_encode_indexed" -> ((s, d) =>
      graft.textanalysis.TextAnalysis.bpeEncodeFromVocabIndex(
        Tables.documents(s, d), builtVocabTokens(s, d))
        .orderBy(col("doc_id"))),
    // Tokenizer fitness on held-out text: the vocab table built from
    // the ¾ split serves the ¼ — per-language OOV rate + fertility
    // (the report a tokenizer owner reads before shipping; exact
    // //-division readouts, generated merge-replay oracle)
    "q_bpe_coverage" -> ((s, d) => {
      lastOracleDir = d
      val docs = Tables.documents(s, d)
      TextAnalysis.bpeCoverage(docs.filter(col("doc_id") % 4 === 0),
        bpeTrainVocabTable(s, d))
    }),
    // Serving the trained vocab against FRESH text with the real-
    // tokenizer OOV contract: held-out words absent from the
    // train-split vocabulary fall back to their character stream +
    // end-of-word marker (the zero-merges base encoding) instead of
    // dropping — a shipped tokenizer never loses input
    "q_bpe_encode_fallback" -> ((s, d) => {
      lastOracleDir = d
      graft.textanalysis.TextAnalysis.bpeEncodeWithVocabFallback(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        bpeTrainVocabTable(s, d))
        .orderBy(col("doc_id"))
    }),
    // The training-data last mile end-to-end: tokenize the held-out
    // quarter with the TRAINED byte-fallback tokenizer, then pack the
    // real token counts into 512-token blocks (the q_pack_sequences
    // strategy over actual tokenizer output, not whitespace proxies)
    "q_pack_bpe" -> ((s, d) => {
      lastOracleDir = d
      val enc = graft.textanalysis.TextAnalysis.bpeEncodeWithVocabFallback(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        bpeTrainVocabTable(s, d))
        .select(col("doc_id"), col("n_tokens").as("bpe_tokens"))
      graft.textanalysis.TextAnalysis.packSequences(
        enc, "doc_id", col("bpe_tokens"), budget = 512, nShards = 8)
        .groupBy(col("shard"), col("block"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("shard"), col("block"))
    }),
    // Vocabulary heavy hitters: exact corpus top-20 bigrams
    "q_top_ngrams" -> ((s, d) =>
      TextAnalysis.topNgrams(Tables.documents(s, d), 2, 20)),
    // Memorization risk (Lee et al. '22): per-doc fraction of 5-gram
    // occurrences that also appear in at least one OTHER document —
    // cross-doc duplicated text the model will see repeatedly
    "q_memorization" -> ((s, d) =>
      TextAnalysis.memorizationStats(Tables.documents(s, d), 5)),
    // ...and the top-20 most duplicated 5-grams behind that fraction
    "q_memorized_grams" -> ((s, d) =>
      TextAnalysis.memorizedTopGrams(Tables.documents(s, d), 5, 20)),
    // Ingest-time admission gate: how much of each held-out doc is
    // text the train-quarter index has already seen (frozen gram
    // index probed per batch — never rebuilt)
    "q_memorization_probe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.memorizationProbe(
        docs.filter(col("doc_id") % 4 === 0),
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0), 5),
        5, minDocs = 1L)
    }),
    // Mergeable-index refresh: (train index) ⊎ (held-out batch index)
    // probed at the cross-doc threshold ≡ full-corpus retrain — the
    // additivity is gated by the full q_memorization replay itself
    "q_memorization_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merged = TextAnalysis.mergeMemorizationIndexes(
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0), 5),
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 === 0), 5))
      TextAnalysis.memorizationProbe(
        docs.filter(col("doc_id") % 4 === 0), merged, 5, minDocs = 2L)
    }),
    // The STAGED serving twins (round-10 verdict #5): per-(doc, gram)
    // counts staged once as a g-bucketed catalog table, the frozen
    // gram index bucketed to match — the probe's corpus-wide gram
    // join plans ZERO exchanges and the query never re-tokenizes.
    // Each twin shares its one-shot query's oracle SQL verbatim, so
    // staged ≡ one-shot is gated by the hash itself
    "q_memorization_indexed" -> ((s, d) =>
      TextAnalysis.memorizationProbeStaged(
        Tables.documents(s, d).select(col("doc_id")),
        builtMemGramsTable(s, d), builtMemIndexTable(s, d), minDocs = 2L)),
    "q_memorization_probe_indexed" -> ((s, d) =>
      TextAnalysis.memorizationProbeStaged(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
          .select(col("doc_id")),
        builtMemGramsTable(s, d), builtMemTrainIndexTable(s, d),
        minDocs = 1L, docFilter = Some(col("doc_id") % 4 === 0))),
    "q_memorization_incremental_indexed" -> ((s, d) =>
      TextAnalysis.memorizationProbeStaged(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
          .select(col("doc_id")),
        builtMemGramsTable(s, d), builtMemIndexTable(s, d),
        minDocs = 2L, docFilter = Some(col("doc_id") % 4 === 0))),
    // ERASURE for the mergeable gram index: the train docs ≡ 1 mod 8
    // erased by appending their own NEGATED counts (O(batch); the
    // written rows never read), served through the consolidating
    // reader — the oracle replays the admission gate against the
    // REMAINING train set, so merged-after-delete ≡ retrain is the
    // hash gate itself
    "q_memorization_probe_deleted" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexMerged(s,
          builtMemDelIndexDir(s, d)),
        5, minDocs = 1L)),
    // STREAMING ERASURE for the gram index: the same batch forgotten
    // through two checkpointed deletion-request micro-batches
    // (memorizationDeleteSink — negated mergeable counts, O(batch));
    // the consolidated probe shares the batch-deleted oracle, so
    // sink-erased ≡ retrain-on-remaining is the hash gate itself
    "q_memorization_probe_stream_deleted" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexMerged(s,
          builtMemStrDelIndexDir(s, d) + "/idx"),
        5, minDocs = 1L)),
    // ...and the same probe after COMPACTION makes the erasure
    // physical (base rows rewritten consolidated, _deletes dropped)
    // — served through the PLAIN reader, no per-read aggregation;
    // compacted ≡ tombstoned gated by sharing the deleted oracle
    "q_memorization_probe_compacted" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndex(s, builtMemCmpIndexDir(s, d)),
        5, minDocs = 1L)),
    // RETENTION for the gram index: two append windows + an erasure,
    // then compactMemorizationIndexKeeping folds w1 + the erasure
    // into the base while w2 stays addressable. Serving is invariant
    // (shares the batch-deleted oracle — the merged membership is
    // identical); negative folded sums survive by design, so a
    // folded delete keeps correcting a kept append
    "q_memorization_probe_retained" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexMerged(s,
          builtMemRetIndexDir(s, d)),
        5, minDocs = 1L)),
    // ...and the fold itself, hash-gated: as-of("build") AFTER
    // retention = base ∪ folded-w1 − folded-erasure (train minus the
    // kept ≡7 window minus the erased ≡1 batch)
    "q_memorization_probe_retained_asof" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexAsOf(s,
          builtMemRetIndexDir(s, d), Seq("build")),
        5, minDocs = 1L)),
    // WRITTEN-APPEND ingestion for the gram index: base (train minus
    // the ≡5 mod 8 eighth) + that eighth appended under its own
    // batch partition — O(batch tokenize), base never read; the
    // consolidated serve shares the FULL-train probe oracle, so
    // append ≡ retrain-on-union is the hash gate itself
    "q_memorization_probe_appended" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexMerged(s,
          builtMemAppIndexDir(s, d)),
        5, minDocs = 1L)),
    // STREAMING ingestion for the gram index (round-11 verdict #5):
    // the same eighth arrives as two checkpointed micro-batches
    // through memorizationIndexSink — mergeable counts make the sink
    // append-only partitions, and the consolidated probe shares the
    // FULL-train oracle, so stream-built ≡ retrain is the hash gate
    "q_memorization_probe_streamed" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexMerged(s,
          builtMemStrIndexDir(s, d) + "/idx"),
        5, minDocs = 1L)),
    // SNAPSHOT of the same appended index as of its BASE batch only
    // (partition-pruned consolidation) — the probe must behave as if
    // the append never happened; the oracle replays the gate against
    // the base split alone
    "q_memorization_probe_asof" -> ((s, d) =>
      TextAnalysis.memorizationProbe(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        TextAnalysis.readMemorizationIndexAsOf(s,
          builtMemAppIndexDir(s, d), Seq("build")),
        5, minDocs = 1L)),
    // Mixture analytics: per-source unigram KL from the corpus blend
    "q_domain_divergence" -> ((s, d) =>
      TextAnalysis.domainDivergence(Tables.documents(s, d))),
    // Per-doc top-3 tf·idf keywords (BM25's ln-rounding contract)
    "q_tfidf_keywords" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, d), 3)),
    // CCNet-style corpus-trained bigram-LM quality score
    "q_lm_score" -> ((s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d))),
    // DSIR importance weights: hashed uni+bigram models of the
    // English slice (target) vs the whole pool (raw); per-doc
    // log-weight as an exact micro-nat sum (zero-shuffle scoring
    // pass against the 1024-bucket literal ratio table)
    "q_dsir_weights" -> ((s, d) =>
      graft.selection.Dsir.dsirScore(Tables.documents(s, d),
        dsirModelFor(s, d))
        .orderBy(col("doc_id"))),
    // DSIR selection: Gumbel top-50 of the importance weights —
    // deterministic weighted sampling without replacement (noise
    // from md5(doc_id), the repo's seedless-sampling convention)
    "q_dsir_select" -> ((s, d) =>
      graft.selection.Dsir.dsirSelect(Tables.documents(s, d),
        dsirModelFor(s, d), 50)
        .orderBy(col("doc_id"))),
    // Incremental model refresh: counts are the MERGEABLE form of
    // the DSIR model (log-ratios aren't — ln doesn't distribute), so
    // base-corpus counts + a new batch's counts rebuild the ratio
    // table EXACTLY as a full retrain would (count additivity) —
    // which is why the full-corpus oracle gates the merged model
    "q_dsir_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // base + batch counts from ONE tokenization pass (round-16):
      // grouped by (bucket, split) the integer counts are exactly the
      // two dsirCountsOf calls this replaced, and the merge → ratio
      // path (what the query demonstrates) is unchanged
      val (base, inc) = graft.selection.Dsir.dsirCountsSplit(docs,
        col("doc_id") % 3 =!= 0, col("lang") === "en", 1024)
      graft.selection.Dsir.dsirScore(docs, base.merge(inc).toModel)
        .orderBy(col("doc_id"))
    }),
    // Same weights served from the WRITTEN parquet model — the
    // artifact lifecycle (train → write → read → score) under the
    // same oracle as the in-session path
    "q_dsir_weights_indexed" -> ((s, d) =>
      graft.selection.Dsir.dsirScore(Tables.documents(s, d),
        graft.selection.Dsir.readDsirModel(s, builtDsirModel(s, d)))
        .orderBy(col("doc_id"))),
    // Learned quality classifier (fastText-style linear model,
    // closed-form Naive Bayes train): hashed uni+bigram weights
    // trained on the ¾ split to separate substantial (n_chars ≥ 300)
    // docs from short ones — the TRAINING itself replays
    // relationally: every weight and the prior bias hash-match the
    // DuckDB count-and-ln replay
    "q_quality_classifier" -> ((s, d) =>
      graft.quality.NbClassifier.modelFrame(s, nbModelFor(s, d))
        .orderBy(col("b"))),
    // The learned gate applied to the HELD-OUT quarter (the
    // lm_score_frozen serving split): exact micro-nat decision scores
    // + the MAP keep bit, zero-shuffle against the weight literal
    "q_quality_classifier_gate" -> ((s, d) =>
      graft.quality.NbClassifier.nbScore(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        nbModelFor(s, d))
        .orderBy(col("doc_id"))),
    // Same gate served from the WRITTEN parquet classifier — the
    // artifact lifecycle (train → write → read → score) under the
    // same oracle as the in-session path
    "q_quality_classifier_indexed" -> ((s, d) =>
      graft.quality.NbClassifier.nbScore(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        graft.quality.NbClassifier.readNbModel(s, builtNbModel(s, d)))
        .orderBy(col("doc_id"))),
    // Calibration readout: precision/recall of the learned gate on
    // the held-out quarter at ±2-nat thresholds — exact integer
    // counts, exact long-division 4-decimal ratios
    "q_classifier_pr" -> ((s, d) =>
      graft.quality.NbClassifier.prCurve(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        nbModelFor(s, d), col("n_chars") >= 300,
        Seq(-2000000L, -1000000L, 0L, 1000000L, 2000000L))),
    // Per-language tokenizer fertility: BPE-ish tokens per word over
    // exact long sums — the token-denominated mixture readout
    "q_token_fertility" -> ((s, d) =>
      TextAnalysis.tokenFertility(Tables.documents(s, d))),
    // FUSED ingest admission: the held-out quarter streamed through
    // admissionSink — three frozen artifacts (¾-trained bigram LM,
    // NB classifier, DSIR ratios) gate each micro-batch as ONE
    // decision over ONE shared tokenization; survivors carry their
    // scores as the audit trail. The static oracle replays all three
    // trainings AND the composed decision, so stream ≡ batch-
    // composition is the hash gate itself
    "q_admission_pipeline" -> ((s, d) =>
      s.read.parquet(builtAdmissionOut(s, d) + "/out")
        .select(col("doc_id"), col("lm_nll"), col("nb_d6"),
          col("dsir_logw"))
        .orderBy(col("doc_id"))),
    // RETENTION on the gate sink's admitted-output table (the third
    // catalog family under the query gate): micro-batch 0 folded to
    // the collapse partition, batch 1 kept — the full admitted set is
    // invariant, gated by sharing q_admission_pipeline's oracle
    "q_admission_retained" -> ((s, d) =>
      s.read.parquet(builtAdmissionRetainedOut(s, d) + "/out")
        .select(col("doc_id"), col("lm_nll"), col("nb_d6"),
          col("dsir_logw"))
        .orderBy(col("doc_id"))),
    // The COMPLETE admission: the three row-local gates PLUS the
    // join-shaped memorization gate against the frozen ¾-train gram
    // index, one decision per micro-batch over one materialized
    // tokenize pass. The static oracle replays all FOUR artifact
    // derivations and the composed decision
    "q_admission_pipeline_full" -> ((s, d) =>
      s.read.parquet(builtFullAdmissionOut(s, d) + "/out")
        .select(col("doc_id"), col("lm_nll"), col("nb_d6"),
          col("dsir_logw"), col("dup_frac"))
        .orderBy(col("doc_id"))),
    // Frozen-LM serving split: model trained on the ¾ corpus slice,
    // scores the held-out ¼ — unseen grams smooth through add-1
    "q_lm_score_frozen" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.lmScoreWith(
        TextAnalysis.lmTrain(docs.filter(col("doc_id") % 4 =!= 0)),
        docs.filter(col("doc_id") % 4 === 0), nllThreshold = 10.0)
    }),
    // Canonical normalization over planted case/punct/whitespace noise
    "q_normalize_text" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("messy",
          when(col("doc_id") % 2 === 0, concat(upper(col("text")), lit("!! ")))
            .otherwise(concat(lit("  "), col("text"), lit(" ,. "))))
        .select(col("doc_id"),
          TextFunctions.normalizeText(col("messy")).as("normalized"))
        .orderBy(col("doc_id"))),
  )

  protected def textStaticOracles: Map[String, String] = Map(
    "q_redact_pii" ->
      """WITH p AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                    THEN text || ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  WHEN doc_id % 11 = 0
                    THEN text || ' ssn 123-45-6789 call +1 (555) 123-4567'
                  ELSE text END AS text2
           FROM documents)
         SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g'),
           '\+?[0-9][0-9 ()-]{7,14}[0-9]', '[PHONE]', 'g') AS redacted
         FROM p
         WHERE regexp_matches(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
            OR regexp_matches(text2, '[0-9]{3}-[0-9]{2}-[0-9]{4}')
            OR regexp_matches(text2, '\+?[0-9][0-9 ()-]{7,14}[0-9]')
         ORDER BY doc_id""",
    "q_chunk_docs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         k AS (SELECT doc_id, ws, len(ws) AS n,
                 CASE WHEN len(ws) <= 32 THEN 1
                      ELSE 1 + (len(ws) - 32 + 23) // 24 END AS nk
               FROM w),
         s AS (SELECT doc_id, ws, n, unnest(range(0, nk)) AS i FROM k)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(ws, i*24 + 1, i*24 + 32), ' ') AS chunk_text,
           CAST(least(32, n - i*24) AS BIGINT) AS n_words
         FROM s ORDER BY doc_id, chunk_idx""",
    "q_text_stats" ->
      """WITH w AS (
           SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         sc AS (
           SELECT doc_id, text, ws,
             len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS s_en,
             len(list_filter(ws, x -> x IN ('le','la','et','les','des'))) AS s_fr,
             len(list_filter(ws, x -> x IN ('el','los','las','es','y'))) AS s_es,
             len(list_filter(ws, x -> x IN ('der','die','und','das','ist'))) AS s_de
           FROM w)
         SELECT doc_id,
           len(ws) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish_tokens,
           CAST(ceil(length(text)/4.0) AS BIGINT) AS est_llm_tokens,
           round(length(replace(text,' ',''))/len(ws), 4) AS avg_word_len,
           round(len(list_filter(ws, x -> x IN ('the','a')))/len(ws), 4) AS stopword_ratio,
           CASE WHEN s_en > 0 AND s_en = greatest(s_en,s_fr,s_es,s_de) THEN 'en'
                WHEN s_fr > 0 AND s_fr = greatest(s_en,s_fr,s_es,s_de) THEN 'fr'
                WHEN s_es > 0 AND s_es = greatest(s_en,s_fr,s_es,s_de) THEN 'es'
                WHEN s_de > 0 AND s_de = greatest(s_en,s_fr,s_es,s_de) THEN 'de'
                ELSE 'und' END AS detected_lang
         FROM sc ORDER BY doc_id""",
    // repetition metrics replay in DuckDB via list comprehensions:
    // range(1, len) yields bigram start indices, list_distinct gives
    // the dup fractions, and the top-bigram count is the max of each
    // bigram's own multiplicity (O(n²) is fine at oracle scale; the
    // Spark side uses an O(n log n) sort + run-length fold — only the
    // COUNT must agree, not the algorithm)
    // relational replay of the narrow fold: group-count the tokens,
    // rebuild Σ c·round(ln(n/c)·1e6) — exact integer terms make the
    // summation order irrelevant, so shapes can differ across engines
    "q_token_entropy" ->
      """WITH wc AS (
           SELECT doc_id, w, count(*) AS c FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           GROUP BY doc_id, w),
         d AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS n_types, list(c) AS cs
           FROM wc GROUP BY doc_id)
         SELECT doc_id, n AS n_words, n_types,
           round(CAST(list_sum(list_transform(cs,
               c -> c * CAST(round(ln(n / c) * 1e6) AS BIGINT)))
             AS BIGINT) / (n * 1e6), 4) AS entropy,
           n >= 20 AND round(CAST(list_sum(list_transform(cs,
               c -> c * CAST(round(ln(n / c) * 1e6) AS BIGINT)))
             AS BIGINT) / (n * 1e6), 4) < 2.0 AS low_entropy
         FROM d ORDER BY doc_id""",
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, ws,
           CASE WHEN len(ws) >= 2
                THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                ELSE CAST([] AS VARCHAR[]) END AS bg,
           CASE WHEN len(ws) >= 3
                THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in range(1, len(ws) - 1)]
                ELSE CAST([] AS VARCHAR[]) END AS tg
           FROM t),
         m AS (SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           round(1 - len(list_distinct(ws)) * 1.0 / len(ws), 4) AS dup_word_frac,
           CASE WHEN len(bg) > 0
                THEN round(1 - len(list_distinct(bg)) * 1.0 / len(bg), 4)
                ELSE 0.0 END AS dup_bigram_frac,
           CASE WHEN len(tg) > 0
                THEN round(1 - len(list_distinct(tg)) * 1.0 / len(tg), 4)
                ELSE 0.0 END AS dup_trigram_frac,
           CASE WHEN len(bg) > 0
                THEN round(list_max([len(list_filter(bg, y -> y = x)) for x in bg])
                           * 1.0 / len(bg), 4)
                ELSE 0.0 END AS top_bigram_frac
           FROM g)
         SELECT doc_id, n_words, dup_word_frac, dup_bigram_frac,
           dup_trigram_frac, top_bigram_frac,
           (n_words >= 20 AND
            (top_bigram_frac >= 0.08 OR dup_trigram_frac >= 0.05)) AS repetitive
         FROM m ORDER BY doc_id""",
    // inverse direction: per-bench-doc leak rollup over the same
    // distinct-shingle machinery
    "q_contamination_by_bench" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
           CASE WHEN len(ws) >= 2
                THEN list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
                ELSE CAST([] AS VARCHAR[]) END AS grams
           FROM d),
         bg AS (SELECT doc_id AS bench_id, unnest(grams) AS gr
                FROM g WHERE doc_id % 101 = 7),
         cg AS (SELECT doc_id AS cid, unnest(grams) AS gr
                FROM g WHERE doc_id % 101 <> 7),
         leaks AS (SELECT bg.bench_id,
                     count(DISTINCT cg.cid) AS n_leaking_docs,
                     count(DISTINCT bg.gr) AS n_leaked_grams
                   FROM bg JOIN cg ON bg.gr = cg.gr GROUP BY 1),
         base AS (SELECT doc_id AS bench_id,
                    CAST(len(grams) AS BIGINT) AS n_grams
                  FROM g WHERE doc_id % 101 = 7)
         SELECT base.bench_id, base.n_grams,
           coalesce(l.n_leaking_docs, 0) AS n_leaking_docs,
           coalesce(l.n_leaked_grams, 0) AS n_leaked_grams,
           CASE WHEN base.n_grams > 0
                THEN ((coalesce(l.n_leaked_grams, 0) * 20000 + base.n_grams)
                      // (2 * base.n_grams)) / 10000.0
                ELSE 0.0 END AS leaked_frac
         FROM base LEFT JOIN leaks l ON base.bench_id = l.bench_id
         ORDER BY base.bench_id""",
    "q_decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
           CASE WHEN len(ws) >= 2
                THEN list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
                ELSE CAST([] AS VARCHAR[]) END AS grams
           FROM d),
         bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 101 = 7),
         corp AS (SELECT doc_id, grams FROM g WHERE doc_id % 101 <> 7),
         cg AS (SELECT doc_id, unnest(grams) AS gr FROM corp),
         hits AS (SELECT cg.doc_id, count(*) AS n_grams, count(bench.gr) AS n_hits
                  FROM cg LEFT JOIN bench ON cg.gr = bench.gr GROUP BY 1)
         SELECT corp.doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(n_hits, 0) AS n_hits,
           CASE WHEN coalesce(n_grams, 0) > 0
                THEN round(n_hits * 1.0 / n_grams, 4) ELSE 0.0 END AS contamination,
           (CASE WHEN coalesce(n_grams, 0) > 0
                 THEN round(n_hits * 1.0 / n_grams, 4) ELSE 0.0 END >= 0.4)
             AS contaminated
         FROM corp LEFT JOIN hits ON corp.doc_id = hits.doc_id
         ORDER BY corp.doc_id""",
    "q_bpe_merges" -> bpeOracle(8),
    "q_bpe_encode" -> bpeEncodeOracle(8),
    "q_top_ngrams" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([] AS VARCHAR[]) END) AS gram FROM t)
         SELECT gram, count(*) AS occurrences FROM g
         GROUP BY 1 ORDER BY occurrences DESC, gram LIMIT 20""",
    // cross-doc duplicated 5-gram replay: per-(doc, gram) counts,
    // per-gram distinct-doc counts, dup occurrences where the gram
    // lives in >= 2 docs; list-slice comprehension builds the grams
    "q_memorization" ->
      (s"""WITH $memorizationCtes
         SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
             ((per.dup_grams * 20000 + per.n_grams)
              // (2 * per.n_grams)) / 10000.0 END AS dup_frac
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id"""),
    "q_memorized_grams" ->
      (s"""WITH $memorizationCtes
         SELECT dg.g AS gram, count(*) AS n_docs,
           CAST(sum(dg.c) AS BIGINT) AS n_occurrences
         FROM dg GROUP BY 1 HAVING count(*) >= 2
         ORDER BY n_occurrences DESC, n_docs DESC, gram LIMIT 20"""),
    // admission-gate replay: train-quarter gram SET membership (the
    // nd >= 1 probe) against held-out per-(doc, gram) counts
    "q_memorization_probe" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 5
                  THEN [array_to_string(ws[i:i+4], ' ')
                        for i in range(1, len(ws) - 3)]
                  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         tg AS (SELECT DISTINCT g FROM g WHERE doc_id % 4 <> 0),
         dg AS (SELECT doc_id, g, count(*) AS c FROM g
                WHERE doc_id % 4 = 0 GROUP BY 1, 2),
         per AS (SELECT dg.doc_id, CAST(sum(dg.c) AS BIGINT) AS n_grams,
                  CAST(coalesce(sum(CASE WHEN tg.g IS NOT NULL
                       THEN dg.c END), 0) AS BIGINT) AS dup_grams
                 FROM dg LEFT JOIN tg ON dg.g = tg.g GROUP BY 1)
         SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
             ((per.dup_grams * 20000 + per.n_grams)
              // (2 * per.n_grams)) / 10000.0 END AS dup_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    // erasure replay: the admission gate against the train set MINUS
    // the erased batch — the negative-count merge must serve exactly
    // the retrained gram membership
    "q_memorization_probe_deleted" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 5
                  THEN [array_to_string(ws[i:i+4], ' ')
                        for i in range(1, len(ws) - 3)]
                  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         tg AS (SELECT DISTINCT g FROM g
                WHERE doc_id % 4 <> 0 AND doc_id % 8 <> 1),
         dg AS (SELECT doc_id, g, count(*) AS c FROM g
                WHERE doc_id % 4 = 0 GROUP BY 1, 2),
         per AS (SELECT dg.doc_id, CAST(sum(dg.c) AS BIGINT) AS n_grams,
                  CAST(coalesce(sum(CASE WHEN tg.g IS NOT NULL
                       THEN dg.c END), 0) AS BIGINT) AS dup_grams
                 FROM dg LEFT JOIN tg ON dg.g = tg.g GROUP BY 1)
         SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
             ((per.dup_grams * 20000 + per.n_grams)
              // (2 * per.n_grams)) / 10000.0 END AS dup_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    // retention as-of("build"): the folded base AFTER
    // compactMemorizationIndexKeeping — base ∪ folded-w1 (≡5) minus
    // the folded erasure (≡1), with only the KEPT ≡7 window absent
    "q_memorization_probe_retained_asof" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 5
                  THEN [array_to_string(ws[i:i+4], ' ')
                        for i in range(1, len(ws) - 3)]
                  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         tg AS (SELECT DISTINCT g FROM g
                WHERE doc_id % 4 <> 0 AND doc_id % 8 <> 7
                  AND doc_id % 8 <> 1),
         dg AS (SELECT doc_id, g, count(*) AS c FROM g
                WHERE doc_id % 4 = 0 GROUP BY 1, 2),
         per AS (SELECT dg.doc_id, CAST(sum(dg.c) AS BIGINT) AS n_grams,
                  CAST(coalesce(sum(CASE WHEN tg.g IS NOT NULL
                       THEN dg.c END), 0) AS BIGINT) AS dup_grams
                 FROM dg LEFT JOIN tg ON dg.g = tg.g GROUP BY 1)
         SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
             ((per.dup_grams * 20000 + per.n_grams)
              // (2 * per.n_grams)) / 10000.0 END AS dup_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    // snapshot replay: the admission gate against the BASE batch's
    // train docs only (train minus its ≡5 mod 8 eighth) — the as-of
    // read of the appended index must behave as if the append never
    // happened
    "q_memorization_probe_asof" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 5
                  THEN [array_to_string(ws[i:i+4], ' ')
                        for i in range(1, len(ws) - 3)]
                  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         tg AS (SELECT DISTINCT g FROM g
                WHERE doc_id % 4 <> 0 AND doc_id % 8 <> 5),
         dg AS (SELECT doc_id, g, count(*) AS c FROM g
                WHERE doc_id % 4 = 0 GROUP BY 1, 2),
         per AS (SELECT dg.doc_id, CAST(sum(dg.c) AS BIGINT) AS n_grams,
                  CAST(coalesce(sum(CASE WHEN tg.g IS NOT NULL
                       THEN dg.c END), 0) AS BIGINT) AS dup_grams
                 FROM dg LEFT JOIN tg ON dg.g = tg.g GROUP BY 1)
         SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
             ((per.dup_grams * 20000 + per.n_grams)
              // (2 * per.n_grams)) / 10000.0 END AS dup_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    // merged-index probe must equal the FULL-corpus cross-doc replay
    // restricted to the held-out quarter — additivity is the gate
    "q_memorization_incremental" ->
      (s"""WITH $memorizationCtes
         SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
           coalesce(per.dup_grams, 0) AS dup_grams,
           CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
             ((per.dup_grams * 20000 + per.n_grams)
              // (2 * per.n_grams)) / 10000.0 END AS dup_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id"""),
    // per-term values round to integer pico-nats so the per-source
    // sum is exact — the same order-independence contract as the LM
    // micro-nat mean (a float sum over the vocab grid would diverge)
    "q_domain_divergence" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         csw AS (SELECT source, w, count(*) AS c_sw FROM w GROUP BY 1, 2),
         cw AS (SELECT w, sum(c_sw) AS c_w FROM csw GROUP BY 1),
         ns AS (SELECT source, sum(c_sw) AS n_s FROM csw GROUP BY 1),
         tot AS (SELECT sum(c_w) AS n, count(*) AS v FROM cw),
         grid AS (SELECT ns.source, cw.w, cw.c_w, ns.n_s, tot.n, tot.v,
                    coalesce(csw.c_sw, 0) AS c_sw0
                  FROM cw CROSS JOIN ns
                  LEFT JOIN csw ON csw.source = ns.source AND csw.w = cw.w
                  CROSS JOIN tot),
         terms AS (SELECT source, n_s,
             CAST(round(((c_sw0 + 1) * 1.0 / (n_s + v)) *
               ln(((c_sw0 + 1) * 1.0 * (n + v)) /
                  ((n_s + v) * 1.0 * (c_w + 1))) * 1e12) AS BIGINT) AS t12
           FROM grid)
         SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
           round(sum(t12) / 1e12, 6) AS kl_divergence
         FROM terms GROUP BY 1 ORDER BY source""",
    "q_tfidf_keywords" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
         tfc AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT doc_id, term,
                 round(tf * round(ln(n_docs * 1.0 / df), 6), 4) AS score
               FROM tfc JOIN dfc USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, term) AS rank
               FROM s)
         SELECT doc_id, rank, term, score FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    // the LM replay: model counts from the same corpus, add-1 nll per
    // bigram rounded to 6 (ln ulp contract), doc mean to 4; docs with
    // fewer than two words carry a NULL bigram through the left joins
    // so they aggregate to (0, 0.0)
    "q_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         b AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([NULL] AS VARCHAR[]) END) AS bg FROM t),
         m AS (SELECT bg, count(*) AS c12 FROM b WHERE bg IS NOT NULL GROUP BY 1),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
                 FROM m GROUP BY 1),
         v AS (SELECT count(DISTINCT term) AS v
               FROM (SELECT unnest(ws) AS term FROM t)),
         s AS (SELECT b.doc_id, b.bg,
                 CASE WHEN b.bg IS NOT NULL
                      THEN CAST(round(ln((ctx.c1 + v.v) * 1.0 / (m.c12 + 1.0))
                                      * 1000000.0) AS BIGINT)
                 END AS nll6
               FROM b LEFT JOIN m ON b.bg = m.bg
               LEFT JOIN ctx ON split_part(b.bg, ' ', 1) = ctx.w1
               CROSS JOIN v)
         SELECT doc_id, count(bg) AS n_bigrams,
           CASE WHEN count(bg) > 0
                THEN round(sum(nll6) * 1.0 / (count(bg) * 1000000.0), 4)
                ELSE 0.0 END AS lm_nll,
           (CASE WHEN count(bg) > 0
                 THEN round(sum(nll6) * 1.0 / (count(bg) * 1000000.0), 4)
                 ELSE 0.0 END >= 10.0) AS unusual
         FROM s GROUP BY 1 ORDER BY doc_id""",
    // DSIR replay: hashed uni+bigram bucket counts for target (en)
    // and raw (all), add-1 log-ratios rounded to integer micro-nats
    // (the ln ulp contract), per-doc exact long sums
    "q_dsir_weights" ->
      (s"""WITH ${dsirCtes("")},
         s AS (SELECT gb.doc_id, count(*) AS n_grams, sum(r.r6) AS s6
               FROM gb JOIN r ON gb.b = r.b GROUP BY 1)
         SELECT doc_id, n_grams,
           ${micro4Sql("s6")} AS dsir_logw
         FROM s ORDER BY doc_id"""),
    "q_dsir_select" ->
      (s"""WITH ${dsirCtes("")},
         s AS (SELECT gb.doc_id, sum(r.r6) AS s6
               FROM gb JOIN r ON gb.b = r.b GROUP BY 1),
         k AS (SELECT doc_id, s6 + ${gumbel6Sql("doc_id")} AS key6
               FROM s)
         SELECT doc_id,
           ${micro4Sql("key6")} AS dsir_key
         FROM (SELECT * FROM k ORDER BY key6 DESC, doc_id LIMIT 50)
         ORDER BY doc_id"""),
    // NB classifier replay: the TRAIN is the oracle — per-class
    // bucket counts, add-1 ln-ratio weights, prior bias, all in
    // integer micro-nats (bias rides as the b = -1 row)
    "q_quality_classifier" ->
      (s"""WITH $nbCtes
         SELECT b, w6 FROM qw
         UNION ALL SELECT CAST(-1 AS BIGINT) AS b, w6 FROM qbias
         ORDER BY b"""),
    // the gate: held-out quarter scored against the replayed weights
    // — exact long decision sums, MAP keep bit
    "q_quality_classifier_gate" ->
      (s"""WITH $nbCtes,
         qh AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 4 = 0),
         qhg AS (SELECT doc_id, unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END)) AS g FROM qh),
         qhb AS (SELECT doc_id,
                  CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                    % 1024 AS b
                FROM qhg),
         qhs AS (SELECT qhb.doc_id, sum(qw.w6) AS s6
                 FROM qhb JOIN qw ON qhb.b = qw.b GROUP BY 1),
         qhd AS (SELECT qhs.doc_id, qhs.s6 + qbias.w6 AS d6
                 FROM qhs CROSS JOIN qbias)
         SELECT doc_id, ${micro4Sql("d6")} AS nb_score, d6 > 0 AS keep
         FROM qhd ORDER BY doc_id"""),
    // the PR sweep re-derives the held-out decisions (same CTEs) and
    // rolls them per threshold; exact integer //-division readouts
    "q_classifier_pr" ->
      (s"""WITH $nbCtes,
         qh AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 4 = 0),
         qhg AS (SELECT doc_id, unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END)) AS g FROM qh),
         qhb AS (SELECT doc_id,
                  CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                    % 1024 AS b
                FROM qhg),
         qhs AS (SELECT qhb.doc_id, sum(qw.w6) AS s6
                 FROM qhb JOIN qw ON qhb.b = qw.b GROUP BY 1),
         qhd AS (SELECT qhs.doc_id, qhs.s6 + qbias.w6 AS d6
                 FROM qhs CROSS JOIN qbias),
         lab AS (SELECT qhd.doc_id, qhd.d6, dd.n_chars >= 300 AS pos
                 FROM qhd JOIN documents dd ON dd.doc_id = qhd.doc_id),
         th AS (SELECT CAST(unnest([-2000000, -1000000, 0,
                                    1000000, 2000000]) AS BIGINT) AS t6),
         c AS (SELECT th.t6,
                 count(CASE WHEN lab.pos AND lab.d6 > th.t6 THEN 1 END)
                   AS tp,
                 count(CASE WHEN NOT lab.pos AND lab.d6 > th.t6 THEN 1 END)
                   AS fp,
                 count(CASE WHEN lab.pos AND lab.d6 <= th.t6 THEN 1 END)
                   AS fn
               FROM th CROSS JOIN lab GROUP BY 1)
         SELECT t6, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN ((tp * 20000 + (tp + fp)) // (2 * (tp + fp)))
                     / 10000.0 END AS precision,
           CASE WHEN tp + fn > 0
                THEN ((tp * 20000 + (tp + fn)) // (2 * (tp + fn)))
                     / 10000.0 END AS recall
         FROM c ORDER BY t6"""),
    // q_dsir_weights_indexed aliases the q_dsir_weights replay in
    // oracleSql (the q_search_bm25_indexed precedent): the written-
    // model path must score identically to the in-session one
    "q_token_fertility" ->
      """SELECT lang, count(*) AS docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS words,
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpeish_tokens,
           CASE WHEN sum(len(string_split(text, ' '))) > 0 THEN
             ((sum(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) * 20000
               + sum(len(string_split(text, ' '))))
              // (sum(len(string_split(text, ' '))) * 2)) / 10000.0
           END AS fertility
         FROM documents GROUP BY lang ORDER BY lang""",
    // frozen-LM replay: counts from the training slice only; grams and
    // contexts the model never saw coalesce to 0 (add-1 smooths them)
    // the FUSED admission: all three trainings replay (NB weights,
    // DSIR ratios, ¾-trained LM), then the held-out quarter passes
    // iff it clears ALL thresholds — the streamed sink's output must
    // hash-match this batch composition exactly
    "q_admission_pipeline" ->
      (s"""WITH ${admissionCtes(
          """SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 4 = 0""")}
         SELECT l.doc_id, l.lm_nll, CAST(n.d6 AS BIGINT) AS nb_d6,
           ${micro4Sql("ds.s6")} AS dsir_logw
         FROM lnll l
         JOIN qhd n ON n.doc_id = l.doc_id
         JOIN dsc ds ON ds.doc_id = l.doc_id
         WHERE l.lm_nll < 10.0 AND n.d6 > 0
           AND ${micro4Sql("ds.s6")} >= 0.0
         ORDER BY l.doc_id"""),
    // the COMPLETE admission adds the memorization gate: the stream
    // is the held-out quarter PLUS planted re-ingests of the ≡1 mod
    // 8 train docs (+5e6 ids, same text) — docs that pass the three
    // row-local gates but duplicate the train corpus verbatim, so
    // the dup gate is their decisive rejector and its bite is
    // hash-gated. The ¾-train gram membership replays (reusing the
    // LM CTE's train tokens); per-doc dup_frac derives exactly as
    // q_memorization_probe's; gram-less docs pass the dup gate (no
    // duplication evidence). DSIR scores for the planted rows reuse
    // the base per-doc sums re-keyed (+5e6 — same text, same grams)
    "q_admission_pipeline_full" ->
      (s"""WITH ${admissionCtes(
          """SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 4 = 0
                UNION ALL
                SELECT doc_id + 5000000, string_split(text, ' ')
                FROM documents WHERE doc_id % 8 = 1""")},
         dscf AS (SELECT * FROM dsc
                  UNION ALL
                  SELECT dgb.doc_id + 5000000 AS doc_id,
                    sum(dr.r6) AS s6
                  FROM dgb JOIN dr ON dgb.b = dr.b
                  WHERE dgb.doc_id % 8 = 1 GROUP BY dgb.doc_id),
         mtg AS (SELECT DISTINCT g FROM (
             SELECT unnest(
               CASE WHEN len(ws) >= 5
                    THEN [array_to_string(ws[i:i+4], ' ')
                          for i in range(1, len(ws) - 3)]
                    ELSE CAST([] AS VARCHAR[]) END) AS g FROM lt)),
         mdg AS (SELECT doc_id, g, count(*) AS c FROM (
             SELECT doc_id, unnest(
               CASE WHEN len(ws) >= 5
                    THEN [array_to_string(ws[i:i+4], ' ')
                          for i in range(1, len(ws) - 3)]
                    ELSE CAST([] AS VARCHAR[]) END) AS g FROM qh)
           GROUP BY 1, 2),
         mper AS (SELECT mdg.doc_id, CAST(sum(mdg.c) AS BIGINT) AS n_grams,
                  CAST(coalesce(sum(CASE WHEN mtg.g IS NOT NULL
                       THEN mdg.c END), 0) AS BIGINT) AS dup_grams
                 FROM mdg LEFT JOIN mtg ON mdg.g = mtg.g GROUP BY 1),
         mdf AS (SELECT d.doc_id,
                  CASE WHEN coalesce(mper.n_grams, 0) > 0 THEN
                    ((mper.dup_grams * 20000 + mper.n_grams)
                     // (2 * mper.n_grams)) / 10000.0 END AS dup_frac
                 FROM (SELECT doc_id FROM qh) d
                 LEFT JOIN mper ON mper.doc_id = d.doc_id)
         SELECT l.doc_id, l.lm_nll, CAST(n.d6 AS BIGINT) AS nb_d6,
           ${micro4Sql("ds.s6")} AS dsir_logw, m.dup_frac
         FROM lnll l
         JOIN qhd n ON n.doc_id = l.doc_id
         JOIN dscf ds ON ds.doc_id = l.doc_id
         JOIN mdf m ON m.doc_id = l.doc_id
         WHERE l.lm_nll < 10.0 AND n.d6 > 0
           AND ${micro4Sql("ds.s6")} >= 0.0
           AND (m.dup_frac IS NULL OR m.dup_frac <= 0.5)
         ORDER BY l.doc_id"""),
    "q_lm_score_frozen" ->
      """WITH tr AS (SELECT string_split(text, ' ') AS ws FROM documents
                     WHERE doc_id % 4 <> 0),
         b0 AS (SELECT unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([] AS VARCHAR[]) END) AS bg FROM tr),
         m AS (SELECT bg, count(*) AS c12 FROM b0 GROUP BY 1),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
                 FROM m GROUP BY 1),
         v AS (SELECT count(DISTINCT term) AS v
               FROM (SELECT unnest(ws) AS term FROM tr)),
         sd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE doc_id % 4 = 0),
         b AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([NULL] AS VARCHAR[]) END) AS bg FROM sd),
         s AS (SELECT b.doc_id, b.bg,
                 CASE WHEN b.bg IS NOT NULL
                      THEN CAST(round(ln((coalesce(ctx.c1, 0) + v.v) * 1.0
                                         / (coalesce(m.c12, 0) + 1.0))
                                      * 1000000.0) AS BIGINT)
                 END AS nll6
               FROM b LEFT JOIN m ON b.bg = m.bg
               LEFT JOIN ctx ON split_part(b.bg, ' ', 1) = ctx.w1
               CROSS JOIN v)
         SELECT doc_id, count(bg) AS n_bigrams,
           CASE WHEN count(bg) > 0
                THEN round(sum(nll6) * 1.0 / (count(bg) * 1000000.0), 4)
                ELSE 0.0 END AS lm_nll,
           (CASE WHEN count(bg) > 0
                 THEN round(sum(nll6) * 1.0 / (count(bg) * 1000000.0), 4)
                 ELSE 0.0 END >= 10.0) AS unusual
         FROM s GROUP BY 1 ORDER BY doc_id""",
    "q_normalize_text" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(
           lower(CASE WHEN doc_id % 2 = 0 THEN upper(text) || '!! '
                      ELSE '  ' || text || ' ,. ' END),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS normalized
         FROM documents ORDER BY doc_id""",
    // span decontamination: corpus spans ∩ benchmark spans (held-out
    // %101 slice) cut; every matching occurrence drops, rest kept
    "q_decontaminate_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE doc_id % 101 <> 7),
         b AS (SELECT string_split(text, ' ') AS ws
           FROM documents WHERE doc_id % 101 = 7),
         bh AS (SELECT DISTINCT
             md5(array_to_string(ws[pos+1 : pos+8], ' ')) AS hh
           FROM (SELECT ws, unnest(range(0, greatest(len(ws) - 7, 0))) AS pos
                 FROM b)),
         occ AS (SELECT doc_id,
             unnest(range(0, greatest(len(ws) - 7, 0))) AS pos, ws
           FROM t),
         h AS (SELECT doc_id, pos,
             md5(array_to_string(ws[pos+1 : pos+8], ' ')) AS hh
           FROM occ),
         removed AS (SELECT doc_id, pos FROM h
           WHERE hh IN (SELECT hh FROM bh)),
         covered AS (SELECT DISTINCT doc_id, pos + k.k AS p
           FROM removed, (SELECT unnest(range(0, 8)) AS k) k),
         wp AS (SELECT doc_id, unnest(ws) AS word,
             generate_subscripts(ws, 1) - 1 AS p
           FROM t),
         kept AS (SELECT wp.doc_id, wp.word, wp.p
           FROM wp LEFT JOIN covered cv
             ON wp.doc_id = cv.doc_id AND wp.p = cv.p
           WHERE cv.p IS NULL),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(word, ' ' ORDER BY p) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_words,
           CAST(len(t.ws) - coalesce(agg.n_kept, 0) AS INT) AS n_dropped,
           coalesce(agg.clean_text, '') AS clean_text
         FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""",
    "q_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY 1 ORDER BY lang""",
    "q_fingerprints" ->
      """SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]),
           (acc, x) -> (acc*31 + x) % 1000000007) AS rolling_hash,
         md5(text) AS content_md5
         FROM documents ORDER BY doc_id""",
  )

  /** Build-once DSIR ratio table per (session, sfDir) — the frozen
    * selection model is a serving artifact like the PQ codebook and
    * IVF centroids: train once, score every batch against it.
    */
  protected val dsirModelCache = SessionCaches.memo[graft.selection.Dsir.DsirModel]()

  protected def dsirModelFor(s: SparkSession, d: String): graft.selection.Dsir.DsirModel =
    dsirModelCache(s, d)(
      graft.selection.Dsir.dsirTrainWith(Tables.documents(s, d),
        col("lang") === "en", 1024))

  /** Build-once NB quality classifier per (session, corpus): trained
    * on the ¾ split (doc_id % 4 ≠ 0) with substantial-document
    * (n_chars ≥ 300) positives — shared by the train-readout and
    * gate queries so the model fits exactly once per Verify/Bench
    * session.
    */
  protected val nbModelCache = SessionCaches.memo[graft.quality.NbClassifier.NbModel]()

  protected def nbModelFor(s: SparkSession, d: String): graft.quality.NbClassifier.NbModel =
    nbModelCache(s, d)(
      graft.quality.NbClassifier.nbTrain(
        Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0),
        col("n_chars") >= 300, 1024))

  /** Build-once WRITTEN DSIR model per corpus — the full artifact
    * lifecycle under the gate: train → parquet → read back → score
    * (the VectorStore.write / q_bpe_encode_indexed precedent).
    */
  protected def builtDsirModel(s: SparkSession, d: String): String =
    builtIndexDir("graft_dsir", d) { p =>
      graft.selection.Dsir.writeDsirModel(s, dsirModelFor(s, d), p)
    }

  /** Build-once WRITTEN NB classifier per corpus (same lifecycle). */
  protected def builtNbModel(s: SparkSession, d: String): String =
    builtIndexDir("graft_nb", d) { p =>
      graft.quality.NbClassifier.writeNbModel(s, nbModelFor(s, d), p)
    }

  /** Stage-once per-(doc, gram) occurrence table for the whole
    * corpus, bucketed by gram (the memorization family's ingest
    * staging — [[graft.textanalysis.TextAnalysis.stageDocGrams]]).
    */
  protected def builtMemGramsTable(s: SparkSession, d: String): String =
    builtTable("graft_memdg", d) { t =>
      TextAnalysis.stageDocGrams(Tables.documents(s, d), t, 5)
    }

  /** Build-once FULL-corpus cross-doc gram index, bucketed — built
    * through the MERGE lifecycle (train-quarters index ⊎ held-out
    * index), so the additivity contract stays exercised on the
    * serving path too.
    */
  protected def builtMemIndexTable(s: SparkSession, d: String): String =
    builtTable("graft_memidx", d) { t =>
      val docs = Tables.documents(s, d)
      TextAnalysis.writeMemorizationIndexBucketed(
        TextAnalysis.mergeMemorizationIndexes(
          TextAnalysis.memorizationIndex(
            docs.filter(col("doc_id") % 4 =!= 0), 5),
          TextAnalysis.memorizationIndex(
            docs.filter(col("doc_id") % 4 === 0), 5)), t)
    }

  /** Build-once WRITTEN train gram index with the ids ≡ 1 mod 8
    * batch ERASED by negative-count merge (the mergeable-family
    * delete path).
    */
  protected def builtMemDelIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memdel", d) { p =>
      val docs = Tables.documents(s, d)
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0), 5), p)
      TextAnalysis.deleteFromMemorizationIndex(
        docs.filter(col("doc_id") % 8 === 1), p, batchKey = "del1")
    }

  /** Build-once WRITTEN-APPEND gram index: base = the train set
    * minus its ≡5 mod 8 eighth, which then appends under batch
    * "inc1" — base ∪ append = the FULL train set, so the probe
    * shares q_memorization_probe's oracle verbatim.
    */
  protected def builtMemAppIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memapp", d) { p =>
      val docs = Tables.documents(s, d)
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0 &&
            col("doc_id") % 8 =!= 5), 5), p)
      TextAnalysis.appendToMemorizationIndex(
        docs.filter(col("doc_id") % 8 === 5), p, batchKey = "inc1")
    }

  /** Build-once RETENTION-compacted gram index: base = train minus
    * its ≡5/≡7 mod 8 eighths, appends "w1" (≡5) and "w2" (≡7),
    * erasure "d1" (≡1 mod 8), then
    * `compactMemorizationIndexKeeping(keep = Seq("w2"))` — w1 and
    * the erasure fold into the consolidated base, w2 stays
    * addressable. Merged membership = train − (≡1 mod 8), exactly
    * [[builtMemDelIndexDir]]'s final state, so the probe SHARES
    * q_memorization_probe_deleted's oracle; the as-of twin gates the
    * fold itself.
    */
  protected def builtMemRetIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memret", d) { p =>
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 4 =!= 0)
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          train.filter(col("doc_id") % 8 =!= 5 &&
            col("doc_id") % 8 =!= 7), 5), p)
      TextAnalysis.appendToMemorizationIndex(
        train.filter(col("doc_id") % 8 === 5), p, batchKey = "w1")
      TextAnalysis.appendToMemorizationIndex(
        train.filter(col("doc_id") % 8 === 7), p, batchKey = "w2")
      TextAnalysis.deleteFromMemorizationIndex(
        train.filter(col("doc_id") % 8 === 1), p, batchKey = "d1")
      TextAnalysis.compactMemorizationIndexKeeping(s, p, Seq("w2"))
    }

  /** Build-once STREAM-FED gram index (round-11 verdict #5): base =
    * the train set minus its ≡5 mod 8 eighth, then that eighth
    * arrives as TWO MemoryStream micro-batches (ids ≡ 5 and ≡ 13
    * mod 16) through the real checkpointed
    * [[graft.streaming.Pipelines.memorizationIndexSink]] — base ∪
    * streamed = the FULL train set, so the consolidated probe shares
    * q_memorization_probe's oracle verbatim (stream-built ≡ retrain
    * is the hash gate). The MemoryStream carries doc_id only; text
    * joins in from the static table on the executors.
    */
  protected def builtMemStrIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memstr", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = Tables.documents(s, d)
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0 &&
            col("doc_id") % 8 =!= 5), 5), p + "/idx")
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("doc_id")
        .join(docs.select("doc_id", "text"), "doc_id")
      val q = graft.streaming.Pipelines.memorizationIndexSink(
        src, p + "/idx", p + "/ckpt")
      try {
        val ids = docs.filter(col("doc_id") % 8 === 5)
          .select("doc_id").collect().map(_.getLong(0)).sorted
        Seq(5L, 13L).foreach { m =>
          mem.addData(ids.filter(_ % 16 == m).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** Build-once STREAM-ERASED gram index: the full train index, then
    * the ids ≡ 1 mod 8 batch arrives as TWO deletion-request
    * micro-batches (ids ≡ 1 and ≡ 9 mod 16) through the real
    * checkpointed [[graft.streaming.Pipelines.memorizationDeleteSink]]
    * — negated mergeable counts per batch, nothing read or rewritten.
    * The consolidated probe shares q_memorization_probe_deleted's
    * oracle verbatim: sink-erased ≡ retrain-on-remaining is the hash
    * gate. The MemoryStream carries doc_id only; the text being
    * forgotten joins in from the static table on the executors.
    */
  protected def builtMemStrDelIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memsdel", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = Tables.documents(s, d)
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0), 5), p + "/idx")
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("doc_id")
        .join(docs.select("doc_id", "text"), "doc_id")
      val q = graft.streaming.Pipelines.memorizationDeleteSink(
        src, p + "/idx", p + "/ckpt")
      try {
        val ids = docs.filter(col("doc_id") % 8 === 1)
          .select("doc_id").collect().map(_.getLong(0)).sorted
        Seq(1L, 9L).foreach { m =>
          mem.addData(ids.filter(_ % 16 == m).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** [[builtMemDelIndexDir]] then COMPACTED — deletions made
    * physical; the probe reads the plain consolidated base.
    */
  protected def builtMemCmpIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memcmp", d) { p =>
      val docs = Tables.documents(s, d)
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          docs.filter(col("doc_id") % 4 =!= 0), 5), p)
      TextAnalysis.deleteFromMemorizationIndex(
        docs.filter(col("doc_id") % 8 === 1), p, batchKey = "del1")
      TextAnalysis.compactMemorizationIndex(s, p)
    }

  /** Build-once train-quarters-only gram index, bucketed — the
    * admission gate's frozen artifact.
    */
  protected def builtMemTrainIndexTable(s: SparkSession, d: String): String =
    builtTable("graft_memtidx", d) { t =>
      TextAnalysis.writeMemorizationIndexBucketed(
        TextAnalysis.memorizationIndex(
          Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0), 5), t)
    }

  /** Build-once WRITTEN vocab-tokenization table per corpus — the
    * tokenizer's shipped artifact (full learned merge table).
    */
  protected def builtVocabTokens(s: SparkSession, d: String): String =
    builtIndexDir("graft_bpevocab", d) { p =>
      TextAnalysis.writeVocabTokens(Tables.documents(s, d),
        bpeFullMerges(s, d), p)
    }

  /** Build-once FUSED-ADMISSION stream replay: the three frozen
    * ¾-corpus artifacts (written bigram LM, written NB classifier,
    * written DSIR ratios) admit the held-out quarter arriving as TWO
    * checkpointed micro-batches through the real
    * [[graft.streaming.Pipelines.admissionSink]] — one decision per
    * batch over one shared tokenization. The MemoryStream carries
    * doc_id only; text joins in from the static table.
    */
  /** The shared 2-micro-batch admission fixture: three frozen
    * artifacts gate the held-out quarter arriving as two checkpointed
    * batches — run by the plain and the retention builders.
    */
  private def runAdmissionFixture(s: SparkSession, d: String,
      p: String, nbDir: String, dsirDir: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables.documents(s, d)
    TextAnalysis.writeLmModel(
      TextAnalysis.lmTrain(docs.filter(col("doc_id") % 4 =!= 0)),
      p + "/lm")
    val mem = MemoryStream[Long]
    val src = mem.toDS().toDF("doc_id")
      .join(docs.select("doc_id", "text"), "doc_id")
    val q = graft.streaming.Pipelines.admissionSink(
      src, p + "/lm", nbDir, dsirDir, p + "/out", p + "/ckpt")
    try {
      val ids = docs.filter(col("doc_id") % 4 === 0)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      Seq(0L, 4L).foreach { m =>
        mem.addData(ids.filter(_ % 8 == m).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  protected def builtAdmissionOut(s: SparkSession, d: String): String = {
    // dependent artifacts build OUTSIDE builtIndexDir's
    // computeIfAbsent: a nested computeIfAbsent on the same build
    // map can hit a locked bin and throw "Recursive update"
    val nbDir = builtNbModel(s, d)
    val dsirDir = builtDsirModel(s, d)
    builtIndexDir("graft_admit", d)(p =>
      runAdmissionFixture(s, d, p, nbDir, dsirDir))
  }

  /** The same fixture with RETENTION applied to the gate-sink OUTPUT
    * table — the third catalog family under the query gate: batch 0
    * folds into the collapse partition, batch 1 stays addressable,
    * and the full admitted set must be invariant (shares
    * q_admission_pipeline's static oracle verbatim).
    */
  protected def builtAdmissionRetainedOut(s: SparkSession,
      d: String): String = {
    val nbDir = builtNbModel(s, d)
    val dsirDir = builtDsirModel(s, d)
    builtIndexDir("graft_admitret", d) { p =>
      runAdmissionFixture(s, d, p, nbDir, dsirDir)
      graft.streaming.Pipelines.compactBatchOutputKeeping(s, p + "/out",
        Seq("1"))
    }
  }

  /** Build-once WRITTEN train-quarters gram index (plain dir form —
    * the fused admission's fourth frozen artifact).
    */
  protected def builtMemTrainIndexDir(s: SparkSession, d: String): String =
    builtIndexDir("graft_memtrn", d) { p =>
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(
          Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0), 5), p)
    }

  /** Build-once COMPLETE-admission stream replay: the three
    * row-local artifacts plus the frozen ¾-train gram index admit a
    * stream of the held-out quarter PLUS planted re-ingests of the
    * ≡1 mod 8 train docs (+5e6 ids, same text) through
    * [[graft.streaming.Pipelines.fullAdmissionSink]] — one decision
    * per micro-batch, one materialized tokenize pass feeding all
    * four gates. The planted docs duplicate the train corpus
    * verbatim (dup_frac 1.0) while sailing through the row-local
    * gates, so the dup gate is their decisive rejector.
    */
  protected def builtFullAdmissionOut(s: SparkSession, d: String): String = {
    val nbDir = builtNbModel(s, d)
    val dsirDir = builtDsirModel(s, d)
    val gramDir = builtMemTrainIndexDir(s, d)
    builtIndexDir("graft_admitf", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = Tables.documents(s, d)
      TextAnalysis.writeLmModel(
        TextAnalysis.lmTrain(docs.filter(col("doc_id") % 4 =!= 0)),
        p + "/lm")
      val planted = docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val corpus = docs.select("doc_id", "text").unionByName(planted)
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("doc_id").join(corpus, "doc_id")
      val q = graft.streaming.Pipelines.fullAdmissionSink(
        src, p + "/lm", nbDir, dsirDir, gramDir, p + "/out", p + "/ckpt")
      try {
        val held = docs.filter(col("doc_id") % 4 === 0)
          .select("doc_id").collect().map(_.getLong(0)).sorted
        val plantedIds = docs.filter(col("doc_id") % 8 === 1)
          .select("doc_id").collect().map(_.getLong(0) + 5000000L).sorted
        mem.addData(held.filter(_ % 8 == 0).toIndexedSeq)
        q.processAllAvailable()
        mem.addData((held.filter(_ % 8 == 4) ++ plantedIds).toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  /** Full learned BPE merge table per corpus dir — the driver-side
    * bounded-vocab learner run to exhaustion (nMerges=256 requested;
    * this corpus yields ~106). Keyed by dir alone (a tiny Seq of
    * strings, no session resources) so the generated oracle below can
    * read it — the pqCbCache lifecycle.
    */
  protected val bpeMergesFullCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  protected def bpeFullMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    lastOracleDir = d
    bpeMergesFullCache.computeIfAbsent(d, _ =>
      TextAnalysis.bpeMergesLocal(
        TextAnalysis.collectWordCounts(Tables.documents(s, d)), 256)
        .map(m => (m._2, m._3)))
  }

  /** The vocab-tokenization table under the full merge table — a
    * MATERIALIZED build-once serving artifact per (session, corpus)
    * (bpeVocabTokens localCheckpoints; caching prevents per-call
    * re-builds from pinning fresh checkpoint blocks each invocation).
    */
  protected val bpeVocabCache = SessionCaches.memo[DataFrame]()

  protected def bpeVocabTable(s: SparkSession, d: String): DataFrame =
    bpeVocabCache(s, d)(
      TextAnalysis.bpeVocabTokens(Tables.documents(s, d), bpeFullMerges(s, d)))

  /** Merge table trained on the TRAIN SPLIT ONLY (doc_id % 4 ≠ 0) —
    * the held-out family (coverage / fallback / pack) must measure a
    * tokenizer that has never seen the quarter it is measured on;
    * reusing [[bpeFullMerges]] would leak held-out text into the
    * merge rules and optimistically bias fertility.
    */
  protected val bpeMergesTrainCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  protected def bpeTrainMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    lastOracleDir = d
    bpeMergesTrainCache.computeIfAbsent(d, _ =>
      TextAnalysis.bpeMergesLocal(
        TextAnalysis.collectWordCounts(
          Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0)), 256)
        .map(m => (m._2, m._3)))
  }

  /** The TRAIN-SPLIT (doc_id % 4 ≠ 0) vocab table for the coverage
    * readout — train-split WORDS under train-split MERGES
    * ([[bpeTrainMerges]]): held-out-only words are the OOV signal
    * under measurement, and held-out text must not have shaped the
    * merge rules either.
    */
  protected val bpeTrainVocabCache = SessionCaches.memo[DataFrame]()

  protected def bpeTrainVocabTable(s: SparkSession, d: String): DataFrame =
    bpeTrainVocabCache(s, d)(
      TextAnalysis.bpeVocabTokens(
        Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0),
        bpeTrainMerges(s, d)))

  /** Shared DuckDB merge-replay construction: the bracket-encoded
    * symbol string of word variable `v` with the merge table applied
    * in rank order as literal replaces. ONE builder for every BPE
    * oracle (vocab / coverage / fallback / pack), so the escaping
    * and encoding form can never diverge between them.
    */
  protected def bpeMergedSql(ms: Seq[(String, String)], v: String): String = {
    def esc(x: String) = x.replace("'", "''")
    val enc =
      s"'<' || array_to_string(regexp_split_to_array($v, ''), '><') || '><_>'"
    ms.foldLeft(enc) { case (sq, (a, b)) =>
      s"replace($sq, '<${esc(a)}><${esc(b)}>', '<${esc(a)}${esc(b)}>')"
    }
  }

  protected val bpeLegalSql = "w -> w <> '' AND NOT contains(w, '<') " +
    "AND NOT contains(w, '>') AND NOT contains(w, '_')"

  /** Oracle for q_bpe_encode_vocab, generated after the query ran
    * (the ivfKmeansOracle lifecycle): the learned merge table inlines
    * as literal `replace` pairs and DuckDB replays the DIRECT
    * per-word chain application over the corpus — so the hash gate
    * proves the vocab-join tokenization (vocabulary chunks + explode
    * + join + positional reassembly) equals straight-line greedy
    * merge application of the full table.
    */
  protected def bpeVocabOracle: Seq[(String, String)] =
    Option(lastOracleDir).flatMap(d =>
        Option(bpeMergesFullCache.get(d))).toSeq.flatMap { ms =>
      val merged = bpeMergedSql(ms, "w")
      val sql =
        s"""WITH enc AS (
           SELECT doc_id,
             array_to_string(list_transform(
               list_filter(string_split(text, ' '),
                 w -> w <> '' AND NOT contains(w, '<')
                  AND NOT contains(w, '>') AND NOT contains(w, '_')),
               w -> substr(replace($merged, '><', ' '), 2,
                           len(replace($merged, '><', ' ')) - 2)), ' ') AS tokens
           FROM documents)
           SELECT doc_id,
             CAST(CASE WHEN tokens = '' THEN 0
                  ELSE len(string_split(tokens, ' ')) END AS BIGINT) AS n_tokens,
             tokens
           FROM enc ORDER BY doc_id"""
      // the written-artifact serving path must agree with the
      // session-artifact path — one replay, two execution paths
      Seq("q_bpe_encode_vocab" -> sql, "q_bpe_encode_indexed" -> sql)
    }

  /** Generated q_bpe_coverage oracle: train-split vocabulary
    * membership decides OOV; known words replay the TRAIN-SPLIT
    * merge chain directly (the [[bpeVocabOracle]] construction over
    * [[bpeTrainMerges]] — the measured tokenizer must never have
    * seen the held-out quarter); exact //-division ratio readouts.
    */
  protected def bpeCoverageOracle: Seq[(String, String)] =
    Option(lastOracleDir).flatMap(d =>
        Option(bpeMergesTrainCache.get(d))).toSeq.map { ms =>
      val merged = bpeMergedSql(ms, "w")
      val legal = bpeLegalSql
      "q_bpe_coverage" ->
        s"""WITH trv AS (
           SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
             $legal)) AS w
           FROM documents WHERE doc_id % 4 <> 0),
         hw AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
             $legal)) AS w
           FROM documents WHERE doc_id % 4 = 0),
         j AS (SELECT hw.lang, hw.w, (trv.w IS NOT NULL) AS known
               FROM hw LEFT JOIN trv ON hw.w = trv.w),
         tok AS (SELECT lang, known,
               CASE WHEN known THEN CAST(len(string_split(
                 substr(replace($merged, '><', ' '), 2,
                        len(replace($merged, '><', ' ')) - 2), ' '))
                 AS BIGINT) END AS nt
             FROM j)
         SELECT lang,
           count(*) AS words_total,
           count(CASE WHEN NOT known THEN 1 END) AS words_oov,
           CAST(coalesce(sum(nt), 0) AS BIGINT) AS tokens_total,
           ((count(CASE WHEN NOT known THEN 1 END) * 20000 + count(*))
            // (2 * count(*))) / 10000.0 AS oov_rate,
           CASE WHEN count(CASE WHEN known THEN 1 END) > 0
                THEN ((coalesce(sum(nt), 0) * 20000
                       + count(CASE WHEN known THEN 1 END))
                      // (2 * count(CASE WHEN known THEN 1 END)))
                     / 10000.0 END AS fertility
         FROM tok GROUP BY 1 ORDER BY lang"""
    }

  /** Generated oracles for the held-out byte-fallback serving path:
    * per held-out word occurrence, train-split membership decides the
    * path — known words replay the full merge chain directly (the
    * [[bpeVocabOracle]] construction), OOV words emit their character
    * stream + marker; positional string_agg reassembles each doc and
    * a doc-list left join restores the empty-doc (id, 0, "") rows.
    * q_pack_bpe extends the same chain with the q_pack_sequences
    * cumulative window, so the tokenizer under the packer is
    * replayed, not re-derived.
    */
  protected def bpeFallbackOracle: Seq[(String, String)] =
    Option(lastOracleDir).flatMap(d =>
        Option(bpeMergesTrainCache.get(d))).toSeq.flatMap { ms =>
      val merged = bpeMergedSql(ms, "wd")
      val legal = bpeLegalSql
      val chain =
        s"""WITH trv AS (
           SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
             $legal)) AS w
           FROM documents WHERE doc_id % 4 <> 0),
         hw AS (SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), $legal)) AS wd,
             unnest(range(len(list_filter(string_split(text, ' '),
               $legal)))) AS pos
           FROM documents WHERE doc_id % 4 = 0),
         tok AS (SELECT hw.doc_id, hw.pos,
             CASE WHEN trv.w IS NOT NULL
                  THEN substr(replace($merged, '><', ' '), 2,
                       len(replace($merged, '><', ' ')) - 2)
                  ELSE array_to_string(
                       regexp_split_to_array(hw.wd, ''), ' ') || ' _'
             END AS t
           FROM hw LEFT JOIN trv ON hw.wd = trv.w),
         agg AS (SELECT doc_id,
             CAST(sum(len(string_split(t, ' '))) AS BIGINT) AS n_tokens,
             string_agg(t, ' ' ORDER BY pos) AS tokens
           FROM tok GROUP BY doc_id)"""
      Seq(
        "q_bpe_encode_fallback" ->
          s"""$chain
           SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
             coalesce(a.tokens, '') AS tokens
           FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
           LEFT JOIN agg a ON d.doc_id = a.doc_id
           ORDER BY d.doc_id""",
        "q_pack_bpe" ->
          s"""$chain,
           e AS (SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens
                 FROM (SELECT doc_id FROM documents
                       WHERE doc_id % 4 = 0) d
                 LEFT JOIN agg a ON d.doc_id = a.doc_id),
           c AS (SELECT CAST(doc_id % 8 AS INTEGER) AS shard, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY doc_id % 8
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                 FROM e)
           SELECT shard,
             CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS block,
             count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
           FROM c GROUP BY 1, 2 ORDER BY shard, block""")
    }

  /** Shared CTE replaying the md5-mode MinHash-LSH pipeline in
    * DuckDB: planted corpus → shingles → 16-permutation md5
    * signatures → 4 band buckets → capped bucket self-join →
    * exact-Jaccard verification (`pr`), plus the symmetrized pair
    * closure (`reach`) the cluster views aggregate. Every stage
    * mirrors Dedup.minhashNearDuplicatesManaged(hashMode="md5")
    * byte-for-byte — md5 hex strings order identically in both
    * engines, which is the whole point of the mode.
    */
  /** Unrolled n-round DuckDB replay of [[TextAnalysis.bpeMerges]]:
    * word-frequency table → per round, adjacent-pair weighted counts
    * from the bracket-encoded symbol strings, argmax with the
    * (freq DESC, a, b) tie-break, and the single literal-replace
    * merge application (the encoding makes leftmost non-overlapping
    * replacement ≡ greedy BPE — see the operator's scaladoc).
    */
  protected def bpeLearnCtes(n: Int): String = {
    val sb = new StringBuilder(
      """WITH w AS (
           SELECT word, count(*) AS wc FROM (
             SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE word <> '' AND word NOT LIKE '%<%' AND word NOT LIKE '%>%'
             AND NOT contains(word, '_')
           GROUP BY 1),
         v0 AS (SELECT '<' || array_to_string(regexp_split_to_array(word, ''), '><')
                       || '><_>' AS s, wc FROM w)""")
    for (i <- 1 to n) {
      val p = i - 1
      sb.append(s""",
         p$i AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(wc) AS f FROM (
             SELECT string_split(substr(s, 2, len(s)-2), '><') AS syms, wc,
                    unnest(range(1, len(string_split(substr(s, 2, len(s)-2), '><')))) AS i
             FROM v$p) GROUP BY 1, 2),
         b$i AS (SELECT a, b, f FROM p$i ORDER BY f DESC, a, b LIMIT 1),
         v$i AS (SELECT replace(s, '<' || b$i.a || '><' || b$i.b || '>',
                                '<' || b$i.a || b$i.b || '>') AS s, wc
                 FROM v$p CROSS JOIN b$i)""")
    }
    sb.toString
  }

  protected def bpeOracle(n: Int): String = {
    val sel = (1 to n).map(i =>
      s"SELECT $i AS rank, a AS sym_a, b AS sym_b, CAST(f AS BIGINT) AS freq FROM b$i")
      .mkString(" UNION ALL ")
    s"${bpeLearnCtes(n)}\n         SELECT * FROM ($sel) ORDER BY rank"
  }

  /** The cross-doc 5-gram CTE chain shared by q_memorization and
    * q_memorized_grams: per-(doc, gram) occurrence counts `dg` and
    * the per-doc rollup `per` — one text, two oracles, so the gram
    * construction can never drift between the fraction and the list.
    */
  protected val memorizationCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 5
                  THEN [array_to_string(ws[i:i+4], ' ')
                        for i in range(1, len(ws) - 3)]
                  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
         dg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         gd AS (SELECT g, count(*) AS nd FROM dg GROUP BY 1),
         per AS (SELECT dg.doc_id, CAST(sum(dg.c) AS BIGINT) AS n_grams,
                  CAST(coalesce(sum(CASE WHEN gd.nd >= 2 THEN dg.c END),
                       0) AS BIGINT) AS dup_grams
                 FROM dg JOIN gd ON dg.g = gd.g GROUP BY 1)"""

  /** The DSIR model-replay CTE chain, shared by every DSIR oracle
    * (weights, select, the written-model twin, and the curation
    * composition — which x-prefixes it around the gate CTE names).
    * One text, four oracles: a smoothing or bucket-hash change can't
    * desynchronize them.
    */
  protected def dsirCtes(p: String): String =
    s"""${p}t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
                FROM documents),
         ${p}g AS (SELECT doc_id, lang, unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END)) AS g FROM ${p}t),
         ${p}gb AS (SELECT doc_id, lang,
                  CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                    % 1024 AS b
                FROM ${p}g),
         ${p}tc AS (SELECT b, count(*) AS c FROM ${p}gb WHERE lang = 'en' GROUP BY 1),
         ${p}rc AS (SELECT b, count(*) AS c FROM ${p}gb GROUP BY 1),
         ${p}nt AS (SELECT sum(c) AS n FROM ${p}tc),
         ${p}nr AS (SELECT sum(c) AS n FROM ${p}rc),
         ${p}r AS (SELECT d.range AS b,
                 CAST(round(ln(((coalesce(${p}tc.c, 0) + 1.0) * (${p}nr.n + 1024)) /
                               ((coalesce(${p}rc.c, 0) + 1.0) * (${p}nt.n + 1024)))
                            * 1000000.0) AS BIGINT) AS r6
               FROM range(1024) d
               LEFT JOIN ${p}tc ON d.range = ${p}tc.b
               LEFT JOIN ${p}rc ON d.range = ${p}rc.b
               CROSS JOIN ${p}nt CROSS JOIN ${p}nr)"""

  /** The NB-classifier training replay CTE chain, shared by the
    * train-readout and gate oracles (the dsirCtes discipline — one
    * text, both oracles): ¾-split corpus, hashed uni+bigram buckets,
    * per-class counts, add-1 ln-ratio weights in integer micro-nats,
    * prior bias from the doc counts.
    */
  protected def nbCtes: String =
    s"""qt AS (SELECT doc_id, n_chars >= 300 AS p,
                string_split(text, ' ') AS ws
              FROM documents WHERE doc_id % 4 <> 0),
         qg AS (SELECT doc_id, p, unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END)) AS g FROM qt),
         qb AS (SELECT p,
                  CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                    % 1024 AS b
                FROM qg),
         qpc AS (SELECT b, count(*) AS c FROM qb WHERE p GROUP BY 1),
         qnc AS (SELECT b, count(*) AS c FROM qb WHERE NOT p GROUP BY 1),
         qnp AS (SELECT sum(c) AS n FROM qpc),
         qnn AS (SELECT sum(c) AS n FROM qnc),
         qw AS (SELECT d.range AS b,
                 CAST(round(ln(((coalesce(qpc.c, 0) + 1.0) * (qnn.n + 1024)) /
                               ((coalesce(qnc.c, 0) + 1.0) * (qnp.n + 1024)))
                            * 1000000.0) AS BIGINT) AS w6
               FROM range(1024) d
               LEFT JOIN qpc ON d.range = qpc.b
               LEFT JOIN qnc ON d.range = qnc.b
               CROSS JOIN qnp CROSS JOIN qnn),
         qbias AS (SELECT CAST(round(ln(
                   CAST(count(CASE WHEN n_chars >= 300 THEN 1 END) AS DOUBLE)
                   / count(CASE WHEN NOT (n_chars >= 300) THEN 1 END))
                 * 1000000.0) AS BIGINT) AS w6
               FROM documents WHERE doc_id % 4 <> 0)"""

  /** The shared admission-replay CTE chain (the q_admission_pipeline
    * / q_admission_pipeline_full discipline — one text, both
    * oracles): NB training + held-out decisions (qhd), DSIR ratios +
    * held-out log-weights (dsc), and the ¾-trained LM + held-out
    * mean NLLs (lnll). `qh` (held-out tokens) and `lt` (train
    * tokens) are reusable by gate extensions.
    */
  protected def admissionCtes(qhSql: String): String =
    s"""$nbCtes,
         qh AS ($qhSql),
         qhg AS (SELECT doc_id, unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END)) AS g FROM qh),
         qhb AS (SELECT doc_id,
                  CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                    % 1024 AS b
                FROM qhg),
         qhs AS (SELECT qhb.doc_id, sum(qw.w6) AS s6
                 FROM qhb JOIN qw ON qhb.b = qw.b GROUP BY 1),
         qhd AS (SELECT qhs.doc_id, qhs.s6 + qbias.w6 AS d6
                 FROM qhs CROSS JOIN qbias),
         ${dsirCtes("d")},
         dsc AS (SELECT dgb.doc_id, sum(dr.r6) AS s6
                 FROM dgb JOIN dr ON dgb.b = dr.b
                 WHERE dgb.doc_id % 4 = 0 GROUP BY 1),
         lt AS (SELECT string_split(text, ' ') AS ws FROM documents
                WHERE doc_id % 4 <> 0),
         lb0 AS (SELECT unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([] AS VARCHAR[]) END) AS bg FROM lt),
         lmc AS (SELECT bg, count(*) AS c12 FROM lb0 GROUP BY 1),
         lcx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
                 FROM lmc GROUP BY 1),
         lv AS (SELECT count(DISTINCT term) AS v
                FROM (SELECT unnest(ws) AS term FROM lt)),
         lbg AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([NULL] AS VARCHAR[]) END) AS bg FROM qh),
         lsc AS (SELECT lbg.doc_id, lbg.bg,
                   CASE WHEN lbg.bg IS NOT NULL
                        THEN CAST(round(ln((coalesce(lcx.c1, 0) + lv.v) * 1.0
                                           / (coalesce(lmc.c12, 0) + 1.0))
                                        * 1000000.0) AS BIGINT)
                   END AS nll6
                 FROM lbg LEFT JOIN lmc ON lbg.bg = lmc.bg
                 LEFT JOIN lcx ON split_part(lbg.bg, ' ', 1) = lcx.w1
                 CROSS JOIN lv),
         lnll AS (SELECT doc_id,
             CASE WHEN count(bg) > 0
                  THEN round(sum(nll6) * 1.0 / (count(bg) * 1000000.0), 4)
                  ELSE 0.0 END AS lm_nll
           FROM lsc GROUP BY 1)"""

  /** Exact 4-decimal readout of an integer micro-value in SQL — the
    * [[graft.selection.Dsir]] micro4 contract.
    */
  protected def micro4Sql(c: String): String =
    s"""(CASE WHEN $c < 0 THEN -floor((-$c + 50) / 100.0)
                 ELSE floor(($c + 50) / 100.0) END) / 10000.0"""

  /** md5-derived Gumbel key in integer micro-nats (dsirSelect). */
  protected def gumbel6Sql(id: String): String =
    s"""CAST(round(-ln(-ln((CAST(concat('0x',
                     substring(md5(CAST($id AS VARCHAR)), 1, 15))
                     AS BIGINT) + 0.5) / 1152921504606846976.0))
                   * 1000000.0) AS BIGINT)"""

  protected def bpeEncodeOracle(n: Int): String = {
    val ms = (1 to n).map(i => s"b$i.a AS a$i, b$i.b AS c$i").mkString(", ")
    val mf = (1 to n).map(i => s"b$i").mkString(" CROSS JOIN ")
    val enc = "'<' || array_to_string(regexp_split_to_array(w, ''), '><') || '><_>'"
    val merged = (1 to n).foldLeft(enc) { (s, i) =>
      s"replace($s, '<' || a$i || '><' || c$i || '>', '<' || a$i || c$i || '>')"
    }
    s"""${bpeLearnCtes(n)},
         m AS (SELECT $ms FROM $mf),
         enc AS (
           SELECT doc_id,
             array_to_string(list_transform(
               list_filter(string_split(text, ' '),
                 w -> w <> '' AND NOT contains(w, '<')
                  AND NOT contains(w, '>') AND NOT contains(w, '_')),
               w -> substr(replace($merged, '><', ' '), 2,
                           len(replace($merged, '><', ' ')) - 2)), ' ') AS tokens
           FROM documents CROSS JOIN m)
         SELECT doc_id,
           CAST(CASE WHEN tokens = '' THEN 0
                ELSE len(string_split(tokens, ' ')) END AS BIGINT) AS n_tokens,
           tokens
         FROM enc ORDER BY doc_id"""
  }

}
