package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions.words
import graft.textanalysis.TextAnalysis

/** End-to-end training-corpus curation: the full gate sequence a
  * 100 TB crawl passes through before packing — each stage keeps the
  * semantics of its already-oracled standalone operator
  * ([[TextAnalysis.repetitionStats]], [[TextAnalysis.contaminationStats]],
  * [[TextAnalysis.lmScore]], [[Dedup.dropExactDuplicates]]), composed
  * here into the one call a pipeline owner actually runs.
  *
  *   raw corpus ─ repetition gate (Gopher filters)
  *              ─ decontamination gate (benchmark n-gram overlap)
  *              ─ LM-quality gate (corpus-trained bigram nll)
  *              ─ exact dedup (min-id survivor per text)
  *
  * Scale shape — the fused form: the corpus is read exactly TWICE.
  * Scan 1 is the narrow per-document pass (text kept for the final
  * dedup key, the repetition gate inlined — it is pure row-local
  * array math, so it needs neither a metric frame nor a join). Scan 2
  * is THE tokenization pass: bigrams explode once and pre-aggregate
  * to one row per (doc_id, gram) — (doc_id, gram, cnt, n_words,
  * n_trigrams, n_distinct_tg, tail), the per-doc scalars riding each
  * row — materialized once as a row cache (size stats kept for the
  * planner); model training, the vocabulary scalar,
  * contamination hits, and per-document scoring all read that
  * artifact instead of re-exploding text. The final exact dedup is a
  * group-winner aggregation on the 16-byte text digest (the min
  * struct IS the surviving row, cf. [[Dedup.segmentWinners]]), so the
  * gated subtree is evaluated once — no join-back, no second pass.
  * Output is deliberately UNORDERED: a corpus-wide orderBy here would
  * charge every caller a range-partitioning shuffle + global sort for
  * presentation only; callers sort at the query edge.
  */
object Curation {

  /** Curate `documents` against a held-out `benchmark`: survivors of
    * all three quality gates, exact-deduped (min doc_id kept per
    * identical text), with the LM score retained for downstream
    * curriculum use. Gate thresholds are the operators' documented
    * defaults.
    *
    * The internally cached token artifact releases when the first
    * action over the returned frame completes (success or failure),
    * so a long-lived session calling this convenience form doesn't
    * accumulate a corpus-sized cache per invocation; a later action
    * re-derives it ([[graft.Managed.autoReleased]]). Callers that run
    * several actions use [[curateManaged]].
    */
  def curate(documents: DataFrame, benchmark: DataFrame,
      nllThreshold: Double = 10.0,
      contaminationThreshold: Double = 0.4): DataFrame =
    curateObserved(documents, benchmark, nllThreshold,
      contaminationThreshold)._1

  /** [[curate]] with per-gate drop telemetry riding the SAME job via
    * `Dataset.observe` — no second pass, no extra action: whenever
    * the returned frame executes, the observation fills with how many
    * documents each gate rejected (a doc can trip several gates; the
    * counts are per-gate, not disjoint). This is the operational
    * readout a 100 TB curation run needs — "the LM gate suddenly
    * drops 40%" is a data incident, and it should cost zero extra
    * cluster time to see. The release is keyed on that observation.
    */
  def curateObserved(documents: DataFrame, benchmark: DataFrame,
      nllThreshold: Double = 10.0,
      contaminationThreshold: Double = 0.4)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val (managed, obs) = curateManaged(documents, benchmark, nllThreshold,
      contaminationThreshold)
    (managed.autoReleased(obs), obs)
  }

  /** [[curateObserved]] with the internally cached token artifact
    * under a [[graft.Managed]] lifecycle: long-lived sessions call
    * `release()` (or scope the action with `managed { ... }`) after
    * the final action instead of a blanket `clearCache()` — the same
    * contract as the near-dup pipelines' signature caches.
    */
  def curateManaged(documents: DataFrame, benchmark: DataFrame,
      nllThreshold: Double = 10.0,
      contaminationThreshold: Double = 0.4)
      : (graft.Managed, org.apache.spark.sql.Observation) = {
    val a = new graft.Artifacts
    val (out, obs) = curateInternal(a, documents, benchmark,
      nllThreshold, contaminationThreshold)
    (new graft.Managed(out, a), obs)
  }

  /** Per-source curation gate report — the dataset-card readout of a
    * curation run: one row per source with document count, per-gate
    * rejection counts (non-disjoint: a doc can trip several gates),
    * the count passing every gate, and the count actually KEPT after
    * cross-source exact dedup (a passing doc whose text's min-id
    * winner lives in another source counts toward that source, not
    * this one — same winner rule as [[curate]]).
    *
    * Scale shape: the same two corpus scans as [[curate]] (the
    * persisted token artifact feeds both rollups), then two
    * source-keyed aggregations over per-doc flags — report size is
    * |sources|, never corpus-sized. The token artifact auto-releases
    * after the first action, like the other convenience forms.
    */
  def curationReport(documents: DataFrame, benchmark: DataFrame,
      nllThreshold: Double = 10.0,
      contaminationThreshold: Double = 0.4): DataFrame = {
    val a = new graft.Artifacts
    val flagged = flaggedInternal(a, documents, benchmark,
      nllThreshold, contaminationThreshold)
    val passes = !col("repetitive") && !col("contaminated") && !col("unusual")
    // the gate rollup and the kept-count read the SAME flagged frame
    // with different aggregation keys — evaluate it once into a
    // narrow persisted projection (16-byte digest, never the text;
    // the honest-mode bench measured the double evaluation at +2.9 s
    // over count-mode at sf0.1) instead of running the corpus scan +
    // gate-metric join tree once per branch
    val slim = a.persist(flagged.select(col("doc_id"), col("source"),
      col("__dk"), col("repetitive"), col("contaminated"), col("unusual")))
    val gates = slim.groupBy(col("source")).agg(
      count(lit(1)).as("docs_in"),
      count(when(col("repetitive"), 1)).as("n_repetitive"),
      count(when(col("contaminated"), 1)).as("n_contaminated"),
      count(when(col("unusual"), 1)).as("n_unusual"),
      count(when(passes, 1)).as("n_passed"))
    // the dedup rollup is the report's one corpus-wide exchange and
    // it is CPU-dense (a sort aggregate of min(struct) per digest on
    // ~40 B rows): pin its width to the session's shuffle parallelism
    // so size-based AQE coalescing (tuned for byte-light shuffles)
    // can't flatten the aggregate onto a couple of threads — the
    // assignFromStaged width rationale
    val width = documents.sparkSession.sessionState.conf.numShufflePartitions
    val survivors = slim
      .filter(passes)
      .repartition(width, col("__dk"))
      .groupBy(col("__dk"))
      .agg(min(struct(col("doc_id"), col("source"))).as("__w"))
      .groupBy(col("__w.source").as("source"))
      .agg(count(lit(1)).as("n_kept"))
    new graft.Managed(gates.join(survivors, Seq("source"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L))), a)
      .autoReleased()
  }

  private def curateInternal(a: graft.Artifacts, documents: DataFrame,
      benchmark: DataFrame, nllThreshold: Double,
      contaminationThreshold: Double)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val flagged = flaggedInternal(a, documents, benchmark,
      nllThreshold, contaminationThreshold)
    val obs = org.apache.spark.sql.Observation()
    val gated = flagged
      .observe(obs,
        count(lit(1)).as("docs_in"),
        sum(col("repetitive").cast("long")).as("dropped_repetitive"),
        sum(col("contaminated").cast("long")).as("dropped_contaminated"),
        sum(col("unusual").cast("long")).as("dropped_unusual"))
      .filter(!col("repetitive") && !col("contaminated") && !col("unusual"))

    // exact dedup, min-id survivor, group-winner form: one shuffle on
    // the null-safe 16-byte digest, no join-back (the gated subtree —
    // and with it the corpus scan — is evaluated exactly once)
    val out = gated
      .groupBy(col("__dk"))
      .agg(min(struct(col("doc_id"), col("source"), col("lm_nll"))).as("__w"))
      .select(col("__w.doc_id").as("doc_id"), col("__w.source").as("source"),
        col("__w.lm_nll").as("lm_nll"))
    (out, obs)
  }

  /** The shared gate-evaluation prefix: every doc with its per-gate
    * boolean flags (pre-filter); the token artifact is cached in `a`.
    */
  private def flaggedInternal(a: graft.Artifacts, documents: DataFrame,
      benchmark: DataFrame, nllThreshold: Double,
      contaminationThreshold: Double): DataFrame = {
    // benchmark gram set — tiny vs the corpus, explicitly broadcast
    // (identical to contaminationStats's bench side)
    val benchGrams = benchmark
      .select(explode(Dedup.shinglesFor(benchmark)(col("text"), 2))
        .as("gram"))
      .distinct()
      .withColumn("__hit", lit(1L))

    // corpus scan 1 of 2: the narrow per-doc pass. Deliberately NO
    // GATE expressions: a gate expression materialized here would be
    // substituted into the post-join filter by predicate pushdown,
    // duplicating its higher-order-function subtrees ~10× per row
    // (measured 8+ s at sf0.1 vs 0.6 s without — lambda expressions
    // get no common-subexpression elimination in a filter context).
    // EVERY gate therefore arrives through the aggregation below,
    // whose output booleans a filter cannot push into. The TEXT,
    // however, reduces to its 16-byte dedup digest (and a nullness
    // bit) RIGHT HERE, scan-adjacent: no consumer of `flagged` reads
    // raw text, so the doc_id join exchanges ~40 B rows instead of
    // full documents — and the digest is never filtered on, so the
    // pushdown hazard above doesn't apply to it.
    val base = documents.select(col("doc_id"), col("source"),
      Dedup.rowDigest(Seq("text")).as("__dk"),
      col("text").isNull.as("__text_null"))

    // corpus scan 2 of 2: the one tokenization pass, materialized as
    // an EAGER ROW CACHE (Artifacts.rows): a columnar persist spent
    // ~1 s/capstone at sf0.1 ENCODING the gram-string batches
    // (compression codegen over text columns), which the three
    // single-read consumers never amortized — the paired A/B subset
    // measured the capstone family 1.25–1.45× vs 1.07–1.15× untouched
    // controls on the swap. The row cache keeps UnsafeRows as-is and
    // the planner stats, and keeps its lineage, so the frames reading
    // it re-derive after the release. One row per
    // distinct bigram per doc (`cnt` = multiplicity); per-doc scalars
    // that DON'T need the relational form — word count, trigram
    // totals for the duplicate-trigram fraction, the tail word — ride
    // each row as projection columns, computed ONCE per doc in this
    // projection (where lambda expressions are safe; see the filter
    // hazard above). explode_outer keeps short docs: their stats row
    // has a null gram.
    // the stat columns MUST be materialized attributes BELOW the
    // Generate: expressions sitting in the same projection as the
    // generator are re-evaluated once per EXPLODED row (measured
    // ~190 s at sf0.1 for the array_distinct alone) — the
    // segmentWinners layering, where the explode's select carries
    // only plain attributes
    val tokens = a.rows(documents
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"), col("__ws"),
        TextAnalysis.ngramsFor(documents)(col("__ws"), 3).as("__tg"))
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        size(col("__tg")).cast("long").as("n_trigrams"),
        size(array_distinct(col("__tg"))).cast("long").as("n_distinct_tg"),
        // every word is some bigram's FIRST word or the document's
        // last word, so vocabulary = distinct(w1s ∪ tails) — this one
        // extra column replaces a unigram explode of the whole corpus
        element_at(col("__ws"), -1).as("tail"),
        TextAnalysis.ngramsFor(documents)(col("__ws"), 2).as("__bg"))
      // exchange BEFORE the explode: every (doc_id, gram) group is
      // complete inside its document, so hash(doc_id) clustering
      // makes the aggregation below partition-local — the shuffle
      // moves one doc-sized row per document instead of one row per
      // bigram occurrence with the stat columns duplicated onto each
      // (measured 1.56 → 1.02 s at sf0.1, tools.ProfileTokens).
      // Width pinned for the CPU-dense downstream (the
      // assignFromStaged rationale)
      .repartition(documents.sparkSession.sessionState.conf
        .numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_trigrams"),
        col("n_distinct_tg"), col("tail"),
        explode_outer(col("__bg")).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"),
        max(col("n_words")).as("n_words"),
        max(col("n_trigrams")).as("n_trigrams"),
        max(col("n_distinct_tg")).as("n_distinct_tg"),
        max(col("tail")).as("tail")))

    val hasGram = col("gram").isNotNull
    // the corpus-trained bigram LM, derived from the token artifact —
    // identical counts to TextAnalysis.lmTrain on the same corpus
    val mGrams = tokens.filter(hasGram)
      .groupBy(col("gram")).agg(sum(col("cnt")).as("c12"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    val mContexts = mGrams.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val mVocab = tokens
      .select(explode(array(
        when(hasGram, substring_index(col("gram"), " ", 1)),
        col("tail"))).as("w"))
      .filter(col("w").isNotNull)
      .agg(count_distinct(col("w")).as("v"))

    // ALL per-doc gate metrics in ONE aggregation over the tokens;
    // null-gram stats rows flow through the left joins untouched.
    // nll6 keeps the integer micro-nat contract of lmScoreWith.
    // fold the context counts into a GRAM-level stats frame first:
    // joining mContexts at the token level would exchange the full
    // token frame a second time (by w1) — this way the w1 join moves
    // |distinct grams| rows and the token frame exchanges once (by
    // gram) before coming home to doc_id. Inner join is exact: every
    // non-null token gram is in mGrams (it was aggregated from these
    // very tokens), and every gram's w1 is in mContexts
    val gramStats = mGrams
      .join(mContexts, Seq("w1"))
      .select(col("gram"), col("c12"), col("c1"))
    val gateMetrics = tokens
      .join(gramStats, Seq("gram"), "left")
      .crossJoin(broadcast(mVocab))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .withColumn("nll6",
        when(hasGram,
          round(log((coalesce(col("c1"), lit(0L)) + col("v")) /
            (coalesce(col("c12"), lit(0L)) + lit(1.0))) * 1e6).cast("long")))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_words")).as("n_words"),
        max(col("n_trigrams")).as("n_trigrams"),
        max(col("n_distinct_tg")).as("n_distinct_tg"),
        max(when(hasGram, col("cnt"))).as("max_bg"),
        sum(when(hasGram, col("cnt"))).as("n_bigrams"),
        count(col("gram")).as("n_grams"),
        sum(when(hasGram, col("cnt") * col("nll6"))).as("__s6"),
        sum(when(hasGram, coalesce(col("__hit"), lit(0L)))).as("n_hits"))
      .select(
        col("doc_id"),
        // the Gopher rubric from count arithmetic — same rounded
        // values as repetitionStats (max(cnt) IS maxMultiplicity,
        // distinct/total ratios are the same exact-integer divisions)
        (col("n_words") >= 20 &&
          (coalesce(round(col("max_bg") / col("n_bigrams"), 4), lit(0.0))
            >= 0.08 ||
           when(col("n_trigrams") > 0,
             round(lit(1.0) - col("n_distinct_tg") / col("n_trigrams"), 4))
             .otherwise(lit(0.0)) >= 0.05)).as("agg_repetitive"),
        when(col("n_bigrams").isNotNull,
          round(col("__s6") / (col("n_bigrams") * lit(1e6)), 4)).as("lm_nll"),
        when(col("n_grams") > 0,
          round(col("n_hits") / col("n_grams"), 4)).as("contamination"))

    base
      .join(gateMetrics, Seq("doc_id"), "left")
      // docs with <2 words have no bigram rows: lm_nll/contamination
      // default to 0.0 exactly as the standalone operators'
      // explode_outer; null text stays null (and drops), as it does
      // through repetitionStats' null-propagating array math
      .withColumn("repetitive",
        when(col("__text_null"), lit(null).cast("boolean"))
          .otherwise(coalesce(col("agg_repetitive"), lit(false))))
      .withColumn("lm_nll", coalesce(col("lm_nll"), lit(0.0)))
      .withColumn("contaminated",
        coalesce(col("contamination"), lit(0.0)) >= contaminationThreshold)
      .withColumn("unusual", col("lm_nll") >= nllThreshold)
  }

  /** Snapshot diff between two corpus versions keyed on `idCol`: one
    * row per id present in either side, with status `added` (new
    * side only), `removed` (old side only), `changed` (both sides,
    * different content), or `unchanged`. The dataset-versioning
    * readout of iterative corpus construction — "what did this
    * curation change actually do" as a relational result. Content
    * equality uses the same null-safe JSON-struct digest as exact
    * dedup ([[graft.dedup.Dedup.exactDuplicateGroups]]).
    *
    * Scale shape: each side reduces to (id, 16-byte digest) narrowly
    * before the single full-outer join on the id — text never
    * shuffles, and the join is the only exchange per side. The diff
    * frame is corpus-sized, so output is UNORDERED (callers who need
    * presentation order sort at the query edge — an operator-level
    * orderBy would add a global sort per call).
    */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame,
      idCol: String, contentCols: Seq[String]): DataFrame = {
    def digested(df: DataFrame, as: String) =
      df.select(col(idCol), Dedup.rowDigest(contentCols).as(as))
    digested(oldCorpus, "__old")
      .join(digested(newCorpus, "__new"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(col("__old") =!= col("__new"), "changed")
          .otherwise("unchanged"))
      .select(col(idCol), col("status"))
  }

  /** Rank-prior curation gate: drop the documents whose link-graph
    * PageRank falls in the bottom `tenths`/10 of the rank order —
    * the crawl-quality prior (low-centrality pages are
    * disproportionately spam/orphans) composed as a plain anti-join
    * against a [[graft.graph.PageRank.pageRank]] frame.
    *
    * The cut is EXACT and engine-reproducible: ranks order by
    * (round(rank, 10), node) — the same 10-decimal edge the PageRank
    * oracle pins, so cross-engine ulp noise cannot reorder the cut —
    * and the cut size is integer arithmetic
    * ((n·tenths + 9) div 10, i.e. ⌈n·tenths/10⌉). Documents absent
    * from the graph are untouched (no rank, no opinion).
    *
    * Scale shape: the rank frame is O(nodes) — the same frame every
    * PageRank round already exchanges — so the one global sort here
    * costs what a single extra iteration costs; only dropped ids
    * cross the anti-join (payloads stay put).
    */
  /** Graph-prior curation gate, the k-core analog of
    * [[dropBottomRanked]]: drop the documents that sit IN the link
    * graph but OUTSIDE its k-core ([[graft.graph.KCore]] — Seidman
    * '83). A page the link structure only reaches through leaf
    * chains (outside the 2-core) is disproportionately an orphan or
    * a dead-end; pages inside link cycles carry structural evidence.
    * Documents absent from the graph entirely are untouched — no
    * link evidence, no opinion (the dropBottomRanked convention).
    *
    * Scale shape: the peel is [[graft.graph.KCore.kCore]] unchanged
    * (per-round O(alive edges), monotonically shrinking); the drop
    * set is (graph nodes − core members), O(nodes); only dropped ids
    * cross the final anti-join — document payloads stay put.
    */
  def dropOutsideKCore(df: DataFrame, edges: DataFrame, srcCol: String,
      dstCol: String, idCol: String, k: Int = 2): DataFrame =
    dropOutsideKCoreWithRounds(df, edges, srcCol, dstCol, idCol, k)._1

  /** [[dropOutsideKCore]] surfacing the peel's round count — what a
    * generated cross-engine oracle replays (the q_kcore lifecycle).
    */
  private[graft] def dropOutsideKCoreWithRounds(df: DataFrame,
      edges: DataFrame, srcCol: String, dstCol: String, idCol: String,
      k: Int): (DataFrame, Int) = {
    val core = graft.graph.KCore.kCore(edges, srcCol, dstCol, k)
    (dropOutsideCore(df, edges, srcCol, dstCol, idCol, core), core.rounds)
  }

  /** The drop join over an ALREADY-PEELED core — callers that overlap
    * the peel with other work (the composed queries' Future shape)
    * apply the same gate without re-running it.
    */
  private[graft] def dropOutsideCore(df: DataFrame, edges: DataFrame,
      srcCol: String, dstCol: String, idCol: String,
      core: graft.graph.KCore.KCoreResult): DataFrame = {
    val dropped = graft.graph.KCore.graphNodes(edges, srcCol, dstCol)
      .join(core.members.select(col("node")), Seq("node"), "left_anti")
    df.join(dropped, df(idCol) <=> dropped("node"), "left_anti")
  }

  /** Template-cluster diversity cap: within each link-graph
    * community ([[graft.graph.Communities.labelPropagation]]'s
    * (node, community) output), keep only the `k` lowest-id
    * documents — a community is a densely self-linking cluster
    * (template farms, mirror sets, topic silos), and a training mix
    * usually wants a bounded number of exemplars per cluster rather
    * than the whole blob. Documents absent from the graph are
    * untouched (the dropBottomRanked convention: no link evidence,
    * no opinion).
    *
    * Scale shape: the window runs over the LABELS frame (O(nodes),
    * id+community only — never document payloads) partitioned by
    * community; only the dropped ids cross the final anti-join. A
    * mega-community concentrates its partition, which is inherent to
    * asking "cap THIS cluster" — the labels row is two longs, so the
    * skew ceiling is ids-in-the-largest-community, not text.
    */
  def capPerCommunity(df: DataFrame, labels: DataFrame, idCol: String,
      k: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("community")).orderBy(col("node"))
    val dropped = labels.select(col("node"), col("community"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > k)
      .select(col("node"))
    df.join(dropped, df(idCol) <=> dropped("node"), "left_anti")
  }

  def dropBottomRanked(df: DataFrame, ranks: DataFrame, idCol: String,
      tenths: Int = 1): DataFrame = {
    require(tenths >= 0 && tenths <= 10,
      s"tenths must be in [0, 10]: $tenths")
    if (tenths == 0) return df
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__r10"), col("node"))
    val low = ranks
      .select(col("node"), round(col("rank"), 10).as("__r10"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .filter(col("__rn") <= expr(s"(__cnt * $tenths + 9) div 10"))
      .select(col("node"))
    df.join(low, df(idCol) <=> low("node"), "left_anti")
  }
}
