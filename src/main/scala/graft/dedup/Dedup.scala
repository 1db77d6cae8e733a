package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words
import graft.plans.{GraftFunctions, TextHashFunctions}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), word-shingle Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one shuffle on a fixed-width digest — group on
  *    md5(text), not text itself, so shuffle rows carry 16 bytes
  *    instead of whole documents.
  *  - MinHash/LSH replaces the O(n²) all-pairs join with bucket
  *    joins: only documents sharing a (band, band-hash) bucket are
  *    compared, and signatures (k=16 longs) are what shuffles, never
  *    the text. Candidate verification re-reads shingles only for
  *    the candidate set. Hot buckets (boilerplate docs) are the skew
  *    risk — AQE skew-join handles moderate cases; degenerate
  *    buckets should be capped upstream.
  *  - SimHash is a narrow projection (one 64-bit fingerprint per
  *    doc); banding its 16-bit quarters gives Hamming-≤3 candidate
  *    recall with 4 shuffle-light bucket joins.
  */
object Dedup {

  // ---------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------

  /** Exact duplicate groups by digest of `keyCols`: one row per
    * duplicated key with its cardinality + representative (min id).
    */
  /** The digest input is the JSON of the key struct with nulls kept:
    * unlike concat_ws (which SKIPS null arguments, conflating
    * ('x',null) with (null,'x')) every field keeps its position and a
    * null stays distinct from an empty string; JSON framing keeps
    * field boundaries, so ("a b","c") and ("a","b c") can't serialize
    * identically either.
    */
  /** The shared null-safe row digest: md5 of the JSON struct with
    * nulls kept. Exact dedup and corpus diffing both key on this, so
    * "same content" means the same thing everywhere by construction.
    */
  def rowDigest(keyCols: Seq[String]): Column =
    md5(to_json(struct(keyCols.map(col): _*),
      Map("ignoreNullFields" -> "false")))

  def exactDuplicateGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(rowDigest(keyCols).as("dup_key"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Drop exact duplicates deterministically: keep the min-id row per
    * key (Spark's dropDuplicates keeps an arbitrary row; training
    * pipelines need reproducible retention).
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val keep = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
      .select((keyCols :+ idCol).map(c => col(c).as(s"__k_$c")): _*)
    // null-SAFE equality on the keys: groupBy treats nulls as equal,
    // so the join back must too — plain `=` would silently drop every
    // null-keyed row class instead of keeping its representative
    val cond = keyCols.map(c => df(c) <=> keep(s"__k_$c"))
      .reduce(_ && _) && (df(idCol) === keep(s"__k_$idCol"))
    df.join(keep, cond, "left_semi")
  }

  // ---------------------------------------------------------------
  // Shingles + Jaccard
  // ---------------------------------------------------------------

  /** Distinct word n-gram (shingle) set of a text column. Texts with
    * fewer than n words yield an empty set — unguarded,
    * sequence(0, size-n) would count DOWNWARD through negative
    * indices and Slice would throw.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfWords(words(text), n)

  /** [[shingles]] over an already-split token array — for call sites
    * that tokenize once into a shared attribute and feed several
    * gates (e.g. the serving projection), so the split isn't
    * re-evaluated per consumer. `shingles(text, n)` ≡
    * `shinglesOfWords(words(text), n)` by construction.
    */
  def shinglesOfWords(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", slice(ws, i + lit(1), lit(n))))))

  /** [[shinglesOfWords]] as array_distinct over the native one-pass
    * n-gram expression (graft.plans.WordNgrams, element-identical to
    * the composed transform — spec'd). array_distinct keeps
    * first-occurrence order in both forms, so the shingle LIST (not
    * just set) is identical.
    */
  def shinglesOfWordsFor(df: DataFrame)(ws: Column, n: Int): Column =
    array_distinct(GraftFunctions.call(df)(TextHashFunctions.WordNgramsName,
      ws, lit(n)))

  /** [[shingles]] with the native fast path — see
    * [[shinglesOfWordsFor]].
    */
  def shinglesFor(df: DataFrame)(text: Column, n: Int): Column =
    shinglesOfWordsFor(df)(words(text), n)

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b))

  // ---------------------------------------------------------------
  // Segment-level dedup (CCNet-style paragraph dedup)
  // ---------------------------------------------------------------

  /** Non-overlapping word segments of `segWords` words each (the
    * last segment keeps the remainder). This is the "paragraph"
    * granularity of CCNet-style dedup (Wenzek et al. 2020 dedup
    * lines; the test corpus has no line structure, so fixed word
    * windows stand in for lines). Null text yields null: zero
    * occurrences.
    *
    * One native pass (graft.plans.WordSegments, element-identical to
    * the composed strided slice+concat_ws — spec-pinned). The
    * composed form pays an interpreted slice+concat_ws per window
    * position; on the segment-explode paths (boilerplate removal, the
    * segment-dedup family) that interpretation is most of the scan
    * cost (round-17, guide §4: prefer codegen expressions in the hot
    * path).
    */
  def segmentsFor(df: DataFrame)(text: Column, segWords: Int): Column = {
    require(segWords > 0, s"segment width must be positive: $segWords")
    GraftFunctions.call(df)(TextHashFunctions.WordSegmentsName,
      words(text), lit(segWords))
  }

  /** Corpus-wide first-occurrence segment dedup — remove every
    * repeated segment (keeping its first occurrence in (id, position)
    * order, repeats WITHIN a document included) and rebuild each
    * document from its surviving segments in original order. The
    * classic boilerplate-removal granularity: a sentence repeated
    * across ten thousand pages survives exactly once, in the lowest-id
    * document that contains it. Documents whose every segment is a
    * repeat drop out entirely.
    *
    * Output: (id, text rebuilt, n_kept, n_segments) per surviving doc.
    *
    * Scale shape (100 TB): exactly TWO shuffles and ONE corpus scan.
    * The per-doc segment total is computed narrowly (array size,
    * before the explode) and rides along each occurrence, so no
    * separate totals branch re-scans the corpus. Occurrences group
    * on the 16-byte md5 digest with map-side combine, and the min
    * (id, pos) struct carries the segment itself — the group winner
    * IS the surviving occurrence, so there is no join-back. The
    * rebuild is one aggregation on the doc id. Agg state is bounded
    * by the distinct-segment vocabulary, which boilerplate-heavy
    * crawls compress far below the corpus size; a degenerate hot
    * digest costs one combine per map task, never a sort partition.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 3): DataFrame =
    rebuildSegmentedDocs(segmentWinners(df, idCol, textCol, segWords),
      idCol, textCol)

  /** First-occurrence winners per distinct segment digest:
    * (digest, id, pos, seg, n_segments), one row per distinct segment
    * in `df`. The groupBy(digest) min-struct aggregation described on
    * [[segmentDedup]] — its output IS the kept occurrence set.
    */
  def segmentWinners(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 3): DataFrame = {
    val segs = df
      .withColumn("__segs", segmentsFor(df)(col(textCol), segWords))
      .select(col(idCol),
        size(col("__segs")).cast("long").as("n_segments"),
        posexplode(col("__segs")).as(Seq("pos", "seg")))
    segs
      .groupBy(md5(col("seg")).as("digest"))
      .agg(min(struct(col(idCol), col("pos"), col("seg"),
        col("n_segments"))).as("__w"))
      .select(
        col("digest"),
        col("__w").getField(idCol).as(idCol),
        col("__w").getField("pos").as("pos"),
        col("__w").getField("seg").as("seg"),
        col("__w").getField("n_segments").as("n_segments"))
  }

  /** Reassemble documents from kept segment occurrences
    * (id, pos, seg, n_segments): surviving segments join back into
    * text in original order; docs with nothing kept are absent.
    * Deliberately UNORDERED output — a corpus-wide orderBy here
    * would add a range-partitioning shuffle + global sort that a
    * streaming sink pays per micro-batch for nothing; callers who
    * need presentation order sort at the edge.
    */
  def rebuildSegmentedDocs(kept: DataFrame, idCol: String,
      textCol: String): DataFrame =
    kept
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ").as(textCol),
        count(lit(1)).as("n_kept"),
        max(col("n_segments")).as("n_segments"))
      .select(col(idCol), col(textCol), col("n_kept"), col("n_segments"))

  /** Document-frequency boilerplate removal — the CCNet/C4 rule
    * proper: a segment occurring in at least `minDocs` DISTINCT
    * documents is boilerplate (navigation, license headers, template
    * chrome) and is removed from EVERY document — including its
    * first occurrence, which [[segmentDedup]] would keep. Segments
    * below the frequency bar survive in all their occurrences
    * (within-doc repeats included): frequency across documents, not
    * repetition, is the signal. Documents reduced to nothing drop.
    *
    * Output: (id, text rebuilt, n_kept, n_segments) per surviving
    * doc, UNORDERED by repo convention.
    *
    * Scale shape (100 TB): TWO corpus scans, both narrow (the
    * frequency pass and the filter pass re-derive the explode rather
    * than shuffling segment text or pinning an exploded corpus in
    * cache); segments shuffle only as 16-byte digests for the
    * distinct-doc count (map-side combine, state bounded by the
    * segment vocabulary). The anti-join's right side is only the
    * digests ABOVE the frequency bar — a set real corpora keep tiny,
    * so it broadcasts (AQE converts at runtime; verified shape) and
    * the occurrence side never exchanges. The rebuild is one
    * id-keyed aggregation. Nothing is pairwise.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 3, minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2,
      s"minDocs must be at least 2 (1 would remove every segment): $minDocs")
    val occ = df
      .withColumn("__segs", segmentsFor(df)(col(textCol), segWords))
      .select(col(idCol),
        size(col("__segs")).cast("long").as("n_segments"),
        posexplode(col("__segs")).as(Seq("pos", "seg")))
      .withColumn("__dg", md5(col("seg")))
    // frequency pass: within-doc dedup happens NARROW in array-land
    // (array_distinct before the explode), so doc-frequency is a
    // plain count with map-side combine — one digest exchange, where
    // count_distinct(id) would plan a second (__dg, id) dedup
    // exchange first
    val boiler = df
      .select(explode(array_distinct(
        transform(segmentsFor(df)(col(textCol), segWords),
          s => md5(s)))).as("__dg"))
      .groupBy(col("__dg"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .select(col("__dg"))
    val kept = occ.join(boiler, Seq("__dg"), "left_anti")
    rebuildSegmentedDocs(kept, idCol, textCol)
  }

  /** Cross-document duplication profile: for each document, the
    * fraction of its DISTINCT word n-grams that occur in at least one
    * OTHER document — the per-document readout behind substring-level
    * dedup decisions (Lee et al. 2021 find this long tail with suffix
    * arrays; the n-gram form is its shuffle-friendly approximation).
    * Boilerplate and templated docs score near 1; fresh prose scores
    * near 0. Documents at or above `threshold` are flagged.
    *
    * Scale shape: grams shuffle as 16-byte md5 digests, never text —
    * one digest-count aggregation with map-side combine (state
    * bounded by the gram vocabulary), one join back on the digest,
    * one per-doc aggregation. All three stages are linear in the
    * corpus; nothing is pairwise. Output is UNORDERED — callers who
    * need presentation order sort at the query edge, so the operator
    * never charges a corpus-wide global sort.
    */
  def duplicationProfile(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val grams = documents
      .select(col(idCol),
        explode_outer(shinglesFor(documents)(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("__d"))
    // shingles() is distinct within a doc, so this counts DOCUMENTS
    // containing the gram
    val counts = grams.groupBy(col("__d")).agg(count(lit(1)).as("__cnt"))
    grams
      .join(counts, Seq("__d"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__d")).as("n_grams"),
        sum(when(col("__cnt") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          round(col("n_shared") / col("n_grams"), 4)).otherwise(lit(0.0)))
      .withColumn("flagged", col("dup_frac") >= threshold)
  }

  /** Substring-level exact dedup — the span-granular member of the
    * dedup family ([[exactDedup]] drops whole documents,
    * [[segmentWinners]] drops whole segments; this drops duplicated
    * SPANS inside otherwise-kept documents, cf. Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * whose ExactSubstr removes repeated ≥50-token substrings found
    * via a suffix array; the fixed-width sliding-window form is its
    * shuffle-friendly relational analog).
    *
    * Semantics: every `w`-word window of every document is hashed; a
    * window value occurring ≥2 times corpus-wide is duplicated. The
    * FIRST occurrence — min (doc_id, pos) — is the canonical copy and
    * survives; every other occurrence has its `w` covered word
    * positions dropped. Output per input document: `(idCol, n_words,
    * n_dropped, clean_text)` with `clean_text` rebuilt from the
    * surviving words in order. Documents shorter than `w` words have
    * no windows and pass through untouched.
    *
    * Scale shape: windows never shuffle as text — each document
    * builds its digest array in ONE array-land pass (`transform` over
    * the word array, digest per slice) and explodes digests only.
    * Occurrence counting is a digest-keyed aggregation with map-side
    * partial combine (a corpus-wide boilerplate span — the skew case —
    * collapses to one row per map task before the shuffle, which a
    * window-function formulation could not do); only the duplicated
    * subset joins back, AQE-broadcastable when small. Covered
    * positions aggregate per document (`collect_set` bounded by
    * document length), and the rebuild joins that narrow frame to a
    * second text scan — text flows through exactly one shuffle. The
    * window-digest aggregation is the dominant cost at ~16 bytes per
    * corpus token: the same order as [[duplicationProfile]], and the
    * honest price of exact span dedup (a suffix array pays a global
    * sort of comparable volume). Output is UNORDERED — callers sort
    * at the query edge.
    */
  def substringDedup(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 8): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val occ = windowOccurrences(documents, idCol, textCol, w)
    val dup = occ.groupBy(col("hh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol), col("pos"))).as("first"))
      .filter(col("c") >= 2)
      .select(col("hh"), col("first"))
    // non-canonical occurrences of duplicated windows (occ's subtree
    // recomputes here — same two-scan precedent as duplicationProfile;
    // persisting a corpus-token-sized frame for one reuse costs more
    // than the second narrow scan)
    val removed = occ.join(dup, Seq("hh"))
      .filter(!(col(idCol) === col("first")(idCol) &&
        col("pos") === col("first")("pos")))
      .select(col(idCol), col("pos"))
    dropCoveredSpans(documents, removed, idCol, textCol, w)
  }

  /** Stage [[substringDedup]]'s window-occurrence table
    * `(doc_id, pos, hh)` as a catalog table bucketed on the 16-byte
    * window DIGEST — the substring family's ingest-staging step (the
    * [[graft.textanalysis.TextAnalysis.stageDocGrams]] pattern): the
    * corpus is tokenized and windowed ONCE when it lands, and every
    * later dedup readout runs against the staged layout. Bucketing on
    * `hh` makes BOTH of the readout's corpus-wide hh operations — the
    * duplicate-window aggregation and the occurrence⋈winner self-join
    * — plan with zero exchanges.
    */
  def stageWindowOccurrences(documents: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 8,
      buckets: Int = 32): Unit = {
    require(w >= 2, s"window width must be >= 2, got $w")
    graft.ops.BucketedTables.writeBucketed(
      windowOccurrences(documents, idCol, textCol, w), table, "hh", buckets)
  }

  /** Stage the tokenized corpus `(doc_id, ws)` bucketed on the doc
    * id — the rebuild side of the staged substring dedup: the final
    * surviving-text reassembly joins the (small) dropped-position
    * sets against this table without re-tokenizing or shuffling the
    * corpus text.
    */
  def stageDocWords(documents: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 32): Unit =
    graft.ops.BucketedTables.writeBucketed(
      documents.select(col(idCol), words(col(textCol)).as("ws")),
      table, idCol, buckets)

  /** [[substringDedup]] served from the STAGED layouts — identical
    * output (shares q_substring_dedup's oracle verbatim), different
    * plan: ZERO tokenize passes (the one-shot pays three), the
    * duplicate-window aggregation and the occurrence⋈winner join run
    * between co-bucketed reads of the SAME hh-bucketed table with no
    * exchange, and the only corpus-keyed exchange left is the
    * pinned-width one that brings the (small) removed-position rows
    * home to their documents — the words side is bucketed on the doc
    * id, so the corpus text itself never shuffles. At 100 TB this is
    * the difference between re-windowing the corpus per readout and
    * reading two presorted bucketed layouts.
    */
  def substringDedupStaged(spark: SparkSession, occTable: String,
      wordsTable: String, idCol: String = "doc_id",
      w: Int = 8): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val occ = spark.table(occTable)
    val dup = occ.groupBy(col("hh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol), col("pos"))).as("first"))
      .filter(col("c") >= 2)
      .select(col("hh"), col("first"))
    // merge hint: a broadcast of the duplicated-window side would
    // forget the shared bucketing and re-scan hh as an unkeyed build
    val removed = occ.hint("merge").join(dup, Seq("hh"))
      .filter(!(col(idCol) === col("first")(idCol) &&
        col("pos") === col("first")("pos")))
      .select(col(idCol), col("pos"))
    val width = spark.sessionState.conf.numShufflePartitions
    val dropped = removed
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .repartition(width, col(idCol))
      .groupBy(col(idCol))
      .agg(collect_set(col("p")).as("__dropped"))
    spark.table(wordsTable).hint("merge")
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), size(col("ws")).as("n_words"),
        coalesce(size(col("__dropped")), lit(0)).as("n_dropped"),
        concat_ws(" ",
          filter(col("ws"), (wd, i) =>
            !coalesce(array_contains(col("__dropped"), i), lit(false))))
          .as("clean_text"))
  }

  /** Span-level decontamination — remove every `w`-word span of the
    * corpus that also occurs in the held-out `benchmark`, keeping the
    * REST of each document (GPT-3 / Pile-style n-gram scrubbing;
    * [[graft.textanalysis.TextAnalysis.contaminationStats]] is the
    * doc-level flag readout, this is the surgical counterpart that
    * preserves the uncontaminated text). ALL matching occurrences
    * drop — there is no canonical survivor, because the benchmark
    * copy is the one being protected. Output schema matches
    * [[substringDedup]]: `(idCol, n_words, n_dropped, clean_text)`.
    *
    * Scale shape: the benchmark's distinct window-digest set is small
    * by definition (benchmarks are fixed-size) and BROADCASTS to a
    * map-side semi join against the corpus's window digests — no
    * corpus-keyed shuffle at all until the per-document covered-set
    * aggregation, which only carries hit positions.
    */
  def spanDecontaminate(documents: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      w: Int = 8): DataFrame = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val benchDigests = windowOccurrences(
        benchmark.select(lit(0L).as("__bid"), col(textCol)),
        "__bid", textCol, w)
      .select(col("hh")).distinct()
    val removed = windowOccurrences(documents, idCol, textCol, w)
      .join(broadcast(benchDigests), Seq("hh"), "left_semi")
      .select(col(idCol), col("pos"))
    dropCoveredSpans(documents, removed, idCol, textCol, w)
  }

  /** The `(idCol, pos, hh)` sliding-window digest occurrences of a
    * text frame. The digest array is built BEFORE the generator: the
    * explode carries (id, pos, 16-byte digest) rows only, never the
    * word array, and no expression sits beside the generator to be
    * re-evaluated per exploded row (Curation.scala:97 hazard).
    */
  private def windowOccurrences(df: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame =
    // window strings via the native one-pass n-gram
    // expression, md5 AFTER the explode as a codegen'd projection —
    // the old form evaluated slice+concat+md5 interpreted per window
    // position inside a transform lambda
    df.select(col(idCol), words(col(textCol)).as("ws"))
      .select(col(idCol), posexplode(
        graft.textanalysis.TextAnalysis.ngramsFor(df)(col("ws"), w)))
      .toDF(idCol, "pos", "g")
      .select(col(idCol), col("pos"), unhex(md5(col("g"))).as("hh"))

  /** Rebuild documents with the word positions covered by `removed`
    * window occurrences dropped: expand each occurrence to its `w`
    * covered positions, aggregate the per-document set (bounded by
    * document length), and rebuild the surviving text in order from a
    * second narrow scan — text flows through exactly one shuffle.
    */
  private def dropCoveredSpans(documents: DataFrame, removed: DataFrame,
      idCol: String, textCol: String, w: Int): DataFrame = {
    val dropped = removed
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (w - 1))).as("p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("p")).as("__dropped"))
    documents.select(col(idCol), words(col(textCol)).as("ws"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), size(col("ws")).as("n_words"),
        coalesce(size(col("__dropped")), lit(0)).as("n_dropped"),
        concat_ws(" ",
          filter(col("ws"), (wd, i) =>
            !coalesce(array_contains(col("__dropped"), i), lit(false))))
          .as("clean_text"))
  }

  /** The distinct segment-digest set of a corpus — the cheap
    * bootstrap for [[segmentDedupIncrement]]'s `seen` side when no
    * persisted index exists yet: a plain distinct over 16-byte
    * digests (map-side partial), with none of [[segmentWinners]]'
    * min-struct state carrying positions and text.
    */
  def segmentDigests(df: DataFrame, textCol: String,
      segWords: Int = 3): DataFrame =
    df.select(explode(segmentsFor(df)(col(textCol), segWords)).as("seg"))
      .select(md5(col("seg")).as("digest")).distinct()

  /** Incremental segment dedup: the batch's own first-occurrence
    * winners, minus every segment whose digest is already in `seen`
    * (a one-column `digest` frame — the persisted index of all
    * segments kept so far). Returns kept OCCURRENCES (digest, id,
    * pos, seg, n_segments): the caller rebuilds docs with
    * [[rebuildSegmentedDocs]] and appends the digests to the index —
    * re-segmenting the REBUILT text would window it differently, so
    * the digests must come from here, not from the output docs.
    *
    * Scale: the index side of the anti-join carries only 16-byte
    * digests, and the batch side is the small one — same serving
    * economics as [[dedupIncrement]]: the corpus pays its digest pass
    * once, each increment probes it.
    */
  def segmentDedupIncrement(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String, segWords: Int = 3): DataFrame =
    segmentWinners(batch, idCol, textCol, segWords)
      .join(seen.select(col("digest")), Seq("digest"), "left_anti")

  // ---------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------

  /** LSH band hashes: signature split into `bands` rows of
    * k/bands values, each hashed to a bucket id.
    */
  def bandHashes(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature length ($k) — a remainder " +
        "would silently drop trailing permutations from every bucket")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => hash(slice(signature, b * r + lit(1), lit(r)), b))
  }

  /** Band buckets for the md5 signature mode: md5 of the
    * '|'-joined band slice (a hex string both engines agree on).
    */
  def bandHashesMd5(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature length ($k) — a remainder " +
        "would silently drop trailing permutations from every bucket")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", slice(signature, b * r + lit(1), lit(r)))))
  }

  /** Candidate near-duplicate pairs via LSH bucket join, verified
    * with exact shingle Jaccard ≥ `threshold`.
    *
    * df must carry (idCol, textCol). Pipeline: shingle → signature →
    * explode bands → bucket self-join (only same-bucket pairs) →
    * distinct candidates → verify.
    */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx"): DataFrame =
    minhashNearDuplicatesManaged(df, idCol, textCol, n, k, bands,
      threshold, maxBucketSize, hashMode).df

  /** As `minhashNearDuplicates`, but exposes the internal signature
    * cache's lifecycle: the plan stays single-pass while the caller
    * runs actions, then `release()` frees the cache (see [[graft.Managed]]).
    * The plain variant leaves the cache to session-level cleanup
    * (`spark.catalog.clearCache()`), which suits one-shot jobs only.
    */
  private def requireHashMode(hashMode: String): Unit =
    require(hashMode == "xx" || hashMode == "md5",
      s"unknown minhash hashMode '$hashMode' (xx | md5)")

  private def bandExprFor(hashMode: String, k: Int, bands: Int): Column =
    if (hashMode == "md5") bandHashesMd5(col("sig"), k, bands)
    else bandHashes(col("sig"), k, bands)

  /** Distinct candidate pairs (id_a < id_b) from the LSH bucket
    * self-join over a signed corpus (`base` = [[minhashSignatures]]
    * output). Shared by the Jaccard and containment verifiers.
    *
    * Skew guard: a bucket holding b docs yields b² candidate pairs;
    * boilerplate-heavy corpora produce degenerate buckets — cap them
    * (the capped docs still pair through their other bands).
    */
  private[graft] def lshCandidates(base: DataFrame, hashMode: String, k: Int,
      bands: Int, maxBucketSize: Int): DataFrame = {
    val buckets = base
      .select(col("id"), posexplode(bandExprFor(hashMode, k, bands)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val small = buckets
      .withColumn("bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
    small.as("l")
      .join(small.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** One row per signable doc: (id, text, sig) — the EXPENSIVE corpus
    * pass (shingle + k-permutation minhash), factored out so it can
    * be paid once and persisted/written as a signature index that
    * [[incrementalNearDuplicatesManaged]] probes on every increment.
    * Docs with fewer than n words carry no shingle content and are
    * excluded (they can never pair).
    *
    * Explicit repartition: scan parallelism follows input BYTES, but
    * signature cost follows ROWS — a small file would otherwise hash
    * everything on one core.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, hashMode: String = "xx"): DataFrame = {
    requireHashMode(hashMode)
    // k-permutation MinHash over the n-word shingle set, as one native
    // fused loop (graft.plans.ShingleMinHash; bit-identical to the
    // composed transform/array_min form, spec-pinned; ~10x less per-row
    // overhead). "xx": element i is the min over shingles of
    // xxhash64(i, xxhash64(shingle)) (Broder '97). "md5": element i is
    // the LEXICOGRAPHIC min of md5(i || '|' || shingle) — md5 is
    // byte-identical across engines (DuckDB has no xxhash64), so the
    // whole pipeline replays under the cross-engine oracle gate.
    val sigExpr = GraftFunctions.call(df)(
      if (hashMode == "md5") TextHashFunctions.Md5MinHashName
      else TextHashFunctions.MinHashName,
      words(col("text")), lit(n), lit(k))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .filter(size(words(col("text"))) >= n)
      .withColumn("sig", sigExpr)
      .select(col("id"), col("text"), col("sig"))
  }

  def minhashNearDuplicatesManaged(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx"): graft.Managed = {
    // signatures computed ONCE and persisted: the frame feeds both
    // sides of the bucket join plus candidate verification — without
    // this, Catalyst re-derives shingles+minhash per reference.
    // corpus pass carries only (id, text, sig): string shingle SETS
    // are needed solely to verify candidates, so they're derived
    // later for just the candidate rows — not for the whole corpus
    val a = new graft.Artifacts
    val base = a.persist(minhashSignatures(df, idCol, textCol, n, k, hashMode))
    val candidates = lshCandidates(base, hashMode, k, bands, maxBucketSize)
    // join candidate ids to texts FIRST, shingle after: expressions
    // above a join run only on joined rows, so the expensive shingle
    // build touches candidates, not the corpus
    val texts = base.select(col("id"), col("text"))
    val result = candidates
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .withColumn("jaccard", jaccard(
        shinglesFor(texts)(col("text_a"), n),
        shinglesFor(texts)(col("text_b"), n)))
      .filter(col("jaccard") >= threshold)
      // UNORDERED by repo convention: a pathological corpus makes the
      // pair list quadratic-ish, so an operator-level sort is a global
      // range shuffle charged to every caller — callers who need
      // presentation order sort at the query edge
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    new graft.Managed(result, a)
  }

  /** Directional-containment near-duplicates: pairs whose shingle
    * OVERLAP COEFFICIENT |A∩B| / min(|A|,|B|) ≥ `threshold`, emitted
    * as (id_kept, id_dropped, containment) where the doc with FEWER
    * distinct shingles is the contained one (ties: higher id drops).
    * This is the subset/truncation detector Jaccard structurally
    * misses: a document fully contained in one twice its length has
    * containment 1.0 but Jaccard ≈ 0.5 (Broder '97 distinguishes
    * resemblance from containment for exactly this case).
    *
    * Candidates come from the same banded-minhash machinery as
    * [[minhashNearDuplicates]], but with `bands` defaulting to k
    * (one signature row per band): a contained doc agrees with its
    * container on any given minhash permutation only with
    * probability ≈ Jaccard, so the r=4 banding tuned for J ≥ 0.5
    * pairs would miss most J ≈ 0.5 containments; r=1 finds a pair
    * that agrees on ANY of the k permutations (miss rate (1−J)^k,
    * <1% at J = 0.25, k = 16).
    *
    * The threshold is applied at 1e-4 resolution via integer cross
    * multiplication (inter·10⁴ ≥ round(t·10⁴)·min) so the gate is
    * exact cross-engine — no float-division boundary can flip a pair.
    *
    * Scale shape: identical to minhash near-dup — one corpus
    * signature pass, banded bucket join (skew-capped), shingle sets
    * built only for candidate rows. UNORDERED by repo convention.
    */
  def containmentNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 16,
      threshold: Double = 0.9, maxBucketSize: Int = 100,
      hashMode: String = "xx"): DataFrame =
    // this pipeline pins TWO corpus-sized caches (signatures + sorted
    // gram sets); the plain wrapper releases both when the first
    // action completes (one-shot — see Managed.autoReleased) so a
    // long-lived session doesn't accumulate them. Multi-action
    // callers use the Managed variant.
    containmentNearDuplicatesManaged(df, idCol, textCol, n, k, bands,
      threshold, maxBucketSize, hashMode).autoReleased()

  def containmentNearDuplicatesManaged(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 16, bands: Int = 16,
      threshold: Double = 0.9, maxBucketSize: Int = 100,
      hashMode: String = "xx"): graft.Managed = {
    requireHashMode(hashMode)
    val thr10k = math.round(threshold * 10000)
    require(thr10k >= 0 && thr10k <= 10000,
      s"containment threshold must be in [0, 1]: $threshold")
    val a = new graft.Artifacts
    val base = a.persist(minhashSignatures(df, idCol, textCol, n, k, hashMode))
    val candidates = lshCandidates(base, hashMode, k, bands, maxBucketSize)
    // r=1 banding surfaces ~k× more candidates than the Jaccard
    // pipeline's banded buckets (any single-permutation agreement is
    // a candidate), so — unlike the Jaccard verifier, which shingles
    // only candidate rows — the gram set and its size are built ONCE
    // PER DOC here and joined in: per-pair work is a single
    // array_intersect instead of five interpreted shingle builds
    // (measured 128 s → ~2 s at sf0.1 on the bench corpus)
    // persisted: BOTH join sides below read this frame, and without
    // the persist each side re-derives the full corpus shingle build
    // (the costliest narrow stage here) — measured ~2× the verify cost.
    // Sorted once per DOC so the per-PAIR intersection can run as a
    // zero-allocation linear merge (see SortedIntersectSize) instead
    // of a hash-set build per candidate pair.
    val grams = a.persist(base.select(col("id"),
        array_sort(shinglesFor(base)(col("text"), n)).as("g"))
      .withColumn("ng", size(col("g"))))
    val aKeeps = col("__na") > col("__nb") ||
      (col("__na") === col("__nb") && col("id_a") < col("id_b"))
    val result = candidates
      .join(grams.select(col("id").as("id_a"), col("g").as("__ga"),
        col("ng").as("__na")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("g").as("__gb"),
        col("ng").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftFunctions.call(df)(TextHashFunctions.SortedIntersectSizeName,
          col("__ga"), col("__gb")).as("__inter"),
        col("__na"), col("__nb"))
      .filter(col("__inter") * 10000L >= least(col("__na"), col("__nb")) * thr10k)
      .select(
        when(aKeeps, col("id_a")).otherwise(col("id_b")).as("id_kept"),
        when(aKeeps, col("id_b")).otherwise(col("id_a")).as("id_dropped"),
        round(col("__inter") / least(col("__na"), col("__nb")), 4)
          .as("containment"))
    new graft.Managed(result, a)
  }

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  /** Hamming distance between two simhash band arrays. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, d) => acc + d)

  /** SimHash near-duplicates: docs sharing any identical 16-bit band
    * are candidates (recall ≥ Hamming-3 pairs); verified by full
    * Hamming distance ≤ `maxDist`.
    */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 100,
      hashMode: String = "xx"): DataFrame =
    simhashNearDuplicatesManaged(df, idCol, textCol, maxDist, maxBucketSize,
      hashMode).df

  /** Managed-lifecycle variant — see `minhashNearDuplicatesManaged`. */
  def simhashNearDuplicatesManaged(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 100,
      hashMode: String = "xx"): graft.Managed = {
    require(hashMode == "xx" || hashMode == "md5",
      s"unknown simhash hashMode '$hashMode' (xx | md5)")
    // 64-bit SimHash as four 16-bit band values (bands low→high), one
    // native pass per doc (bit-identical to the composed majority-vote
    // form, spec-pinned). Separate quarters double as the LSH banding:
    // docs within Hamming distance ≤3 share ≥1 identical band
    // (pigeonhole). "xx" votes per bit over xxhash64(token)
    // (Charikar '02); "md5", the cross-engine-oracle variant, over
    // md5 hex chars [4b+1, 4b+4] of each token. Zero countable tokens
    // → null fingerprint. The fingerprint is persisted (feeds both
    // join sides + verification); repartition for row-proportional CPU
    val bandsExpr = GraftFunctions.call(df)(
      if (hashMode == "md5") TextHashFunctions.Md5SimHashName
      else TextHashFunctions.SimHashName,
      words(col("text")))
    val a = new graft.Artifacts
    val base = a.persist(df.select(col(idCol).as("id"), col(textCol).as("text"))
      // null text has no fingerprint and no content to match on, so
      // it is never a candidate: a semantic filter, not a path guard
      .filter(col("text").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"), bandsExpr.as("sh"))
      // empty-token docs have a null fingerprint — they carry no
      // content to match on
      .filter(col("sh").isNotNull))
    val buckets = base.select(col("id"),
        posexplode(col("sh")).as(Seq("band", "value")))
      .withColumn("bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("value"))))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
    val candidates = buckets.as("l")
      .join(buckets.as("r"),
        col("l.band") === col("r.band") &&
        col("l.value") === col("r.value") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sh = base.select(col("id"), col("sh"))
    val result = candidates
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("hamming", hammingDistance(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxDist)
      // UNORDERED (pair lists are unbounded) — sort at the query edge
      .select(col("id_a"), col("id_b"), col("hamming"))
    new graft.Managed(result, a)
  }

  /** Near-duplicate pairs over ANY 64-bit fingerprint column —
    * simhash fingerprints, image dHashes
    * ([[graft.multimodal.Multimodal.imageHashes]]), audio chromaprint
    * analogs — by banded Hamming join. The fingerprint splits into
    * four 16-bit bands; with `maxDist` ≤ 3, at most three bits differ
    * between near-duplicates, so by pigeonhole at least one band is
    * untouched and the band-equality self-join is LOSSLESS — every
    * qualifying pair is a candidate, then verified with an exact
    * `bit_count(xor)`.
    *
    * Scale shape: only (id, fingerprint) rows ever shuffle — 16
    * bytes/doc regardless of payload size. The fingerprint frame is
    * persisted once (both sides of the bucket self-join read it;
    * recomputing it would re-run the upstream decode/tokenize).
    * `maxBucketSize` is the skew guard: a
    * degenerate corpus (a million identical images) makes one bucket
    * quadratic, and such buckets are dropped rather than joined —
    * same contract as [[simhashNearDuplicatesManaged]]. Output
    * `(id_a, id_b, hamming)` is UNORDERED; callers sort at the query
    * edge.
    */
  def hammingNearDuplicates(df: DataFrame, idCol: String, fpCol: String,
      maxDist: Int = 1, maxBucketSize: Int = 4096): DataFrame =
    hammingNearDuplicatesManaged(df, idCol, fpCol, maxDist, maxBucketSize).df

  /** Managed-lifecycle variant — see `minhashNearDuplicatesManaged`. */
  def hammingNearDuplicatesManaged(df: DataFrame, idCol: String,
      fpCol: String, maxDist: Int = 1,
      maxBucketSize: Int = 4096): graft.Managed = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be in [0, 3] for 4-band pigeonhole losslessness, got $maxDist")
    val a = new graft.Artifacts
    val base = a.persist(df
      .select(col(idCol).cast("long").as("id"), col(fpCol).cast("long").as("fp"))
      .filter(col("fp").isNotNull))
    // the 8-byte fingerprint rides the bucket rows (unlike simhash's
    // band ARRAYS, carrying it is free), so verification happens
    // INLINE on the band join — no join-back, and the pair `distinct`
    // (a pair matching in k bands appears k times) shuffles only
    // verified near-duplicates instead of every candidate
    val buckets = base.select(col("id"), col("fp"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "value")))
      .withColumn("bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("value"))))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
    val result = buckets.as("l")
      .join(buckets.as("r"),
        col("l.band") === col("r.band") &&
        col("l.value") === col("r.value") &&
        col("l.id") < col("r.id"))
      .withColumn("hamming",
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))))
      .filter(col("hamming") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("hamming"))
      .distinct()
    // UNORDERED (pair lists are unbounded) — sort at the query edge
    new graft.Managed(result, a)
  }

  /** Written 64-bit fingerprint index — the media-dedup serving
    * artifact ([[graft.multimodal.Multimodal.imageHashes]] /
    * `audioHashes` / `videoHashes` output): normalized (id, fp)
    * parquet, the writeCommunityLabels / writeMemorizationIndex
    * lifecycle. The probe reads it; it is never rebuilt at serve
    * time.
    */
  def writeFingerprintIndex(fps: DataFrame, idCol: String,
      fpCol: String, dir: String): Unit =
    fps.select(col(idCol).cast("long").as("id"),
        col(fpCol).cast("long").as("fp"))
      .write.mode("overwrite").parquet(dir)

  def readFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = spark.read.parquet(dir)

  /** Ingest-time fingerprint probe: match a BOUNDED batch of new
    * fingerprints against a corpus-scale frozen index by the same
    * 4×16-bit-band pigeonhole join as [[hammingNearDuplicates]] —
    * the two-table serving form the text family has in
    * `incrementalNearDuplicates`. Both inputs carry (`idCol`,
    * `fpCol`); output is (probe_id, index_id, hamming), UNORDERED.
    *
    * Scale shape (the incremental-dedup probe contract): the batch
    * is bounded BY CONTRACT, so its exploded band keys BROADCAST —
    * first as a semi-join that restricts the index scan to TOUCHED
    * buckets (per-probe exchange volume proportional to the batch,
    * never the index), then as the build side of the candidate join.
    * The skew cap counts only touched-bucket index occupancy; a
    * degenerate bucket (a million identical payloads) is dropped
    * rather than joined, same contract as the self-join form.
    */
  def hammingProbe(probe: DataFrame, index: DataFrame, idCol: String,
      fpCol: String, maxDist: Int = 1,
      maxBucketSize: Int = 4096): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be in [0, 3] for 4-band pigeonhole losslessness, got $maxDist")
    def bands(df: DataFrame, id: String, fp: String): DataFrame =
      df.select(col(id).cast("long").as(id), col(fp).cast("long").as(fp))
        .filter(col(fp).isNotNull)
        .select(col(id), col(fp),
          posexplode(array((0 until 4).map(b =>
            shiftrightunsigned(col(fp), 16 * b).bitwiseAND(lit(0xFFFFL))): _*))
            .as(Seq("band", "value")))
    val probeBands = bands(probe, idCol, fpCol)
      .withColumnRenamed(idCol, "probe_id")
      .withColumnRenamed(fpCol, "probe_fp")
    val touched = probeBands.select(col("band"), col("value")).distinct()
    val idxBands = bands(index, idCol, fpCol)
      .withColumnRenamed(idCol, "index_id")
      .withColumnRenamed(fpCol, "index_fp")
      // touched-bucket restriction BEFORE the occupancy window: the
      // cap aggregation shuffles batch-proportional rows, not the
      // index (the r8 incremental-dedup lesson)
      .join(broadcast(touched), Seq("band", "value"), "left_semi")
      .withColumn("bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("value"))))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
    idxBands
      .join(broadcast(probeBands), Seq("band", "value"))
      .withColumn("hamming",
        bit_count(col("probe_fp").bitwiseXOR(col("index_fp"))))
      .filter(col("hamming") <= maxDist)
      .select(col("probe_id"), col("index_id"), col("hamming"))
      .distinct()
  }

  // ---------------------------------------------------------------
  // Near-duplicate clustering: pairs → components → survivors
  // ---------------------------------------------------------------

  /** Connected components over an undirected pair list: every node
    * ends up labeled with the SMALLEST id reachable from it.
    *
    * Iterative min-label propagation — per round, one equi-join
    * shuffle of (node, label) pairs and nothing wider (texts and
    * signatures never enter this operator). Lineage is cut each
    * round with an eager localCheckpoint so the plan stays flat
    * instead of doubling per iteration. Convergence is exact: a
    * round that changes zero labels terminates the loop; `maxIter`
    * bounds adversarial chains (propagation moves one hop per
    * round, and near-dup clusters from banded LSH are dense — in
    * practice diameter 2-3).
    *
    * Output: (node, component) for every id that appears in a pair.
    * Ids with no pairs are their own singleton component and are NOT
    * emitted — callers that need total coverage (see
    * [[dropNearDuplicates]]) treat absence as "survives alone".
    */
  /** Single-task union-find with path compression — the O(E·α(E))
    * exact algorithm for edge lists that FIT one task. mapPartitions
    * on a 1-partition frame, not a driver collect: the work stays on
    * an executor and the result is a distributed frame.
    */
  private def unionFindComponents(sym: DataFrame): DataFrame = {
    import sym.sparkSession.implicits._
    sym.as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          // min-root invariant: the representative IS the min id
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.sorted.iterator.map(n => (n, find(n)))
      }
      .toDF("node", "component")
  }

  /** Conservative single-task memory estimate for the union-find
    * fast path: each symmetrized edge can introduce two LongMap
    * entries, and a LongMap[Long] entry costs ~64 B at worst (8 B
    * key + boxed-Long value + table slack at the 0.5 load factor) —
    * so ~128 B per edge. The fast-path gate converts the caller's
    * byte budget through this, making the cap a memory contract
    * rather than a bare edge count.
    */
  val UnionFindBytesPerEdge = 128L

  /** Default in-task byte budget for the union-find fast path —
    * deliberately a small slice of a typical executor heap, because
    * the single task also pays shuffle-read buffers on top.
    */
  val UnionFindByteBudget: Long = 512L << 20

  /** `algorithm`: "minlabel" (one join+agg per round, O(diameter)
    * rounds — the dense-near-dup-cluster default), "star" (Kiveris
    * alternating contraction, O(log n) rounds), or "jump" (min-label
    * with pointer jumping — O(log diameter) rounds at two joins per
    * round; the middle ground when diameters are high but label
    * frames are much smaller than the edge list).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, smallGraphEdges: Long = graft.graph.PageRank.DefaultSmallGraphEdges,
      finishInTaskBytes: Long = UnionFindByteBudget,
      algorithm: String = "minlabel",
      unionFindByteBudget: Long = UnionFindByteBudget): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter,
      smallGraphEdges, algorithm, unionFindByteBudget,
      finishInTaskBytes)._1

  /** As [[connectedComponents]], also returning the number of
    * distributed rounds run (0 for the union-find fast path) — specs
    * use it to pin the O(log n) star-contraction round bound.
    */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20,
      smallGraphEdges: Long = graft.graph.PageRank.DefaultSmallGraphEdges,
      algorithm: String = "minlabel",
      unionFindByteBudget: Long = UnionFindByteBudget,
      finishInTaskBytes: Long = UnionFindByteBudget): (DataFrame, Int) = {
    require(algorithm == "minlabel" || algorithm == "star" ||
        algorithm == "jump",
      s"unknown components algorithm '$algorithm' (minlabel | star | jump)")
    // symmetrize in ONE pass over the input (explode, not union —
    // union's two branches would each re-evaluate an expensive pairs
    // pipeline feeding this)
    graft.Artifacts.scoped { a =>
      val sym = a.persist(pairs
        .select(explode(array(
          struct(col(aCol).as("a"), col(bCol).as("b")),
          struct(col(bCol).as("a"), col(aCol).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
      // fast path: a verified near-dup pair list is typically orders of
      // magnitude smaller than its corpus — when it fits one task (and
      // ids are longs), union-find solves it exactly in ONE job instead
      // of diameter-many shuffle rounds. The gate is BOTH an edge cap
      // and a byte budget (edges × UnionFindBytesPerEdge), so a
      // small-heap executor declines the fast path instead of OOMing.
      // Past either limit, or for non-long ids, the distributed
      // propagation below is the scale path.
      val longIds = sym.schema.fields
        .forall(_.dataType == org.apache.spark.sql.types.LongType)
      val maxFastEdges =
        math.min(smallGraphEdges, unionFindByteBudget / UnionFindBytesPerEdge)
      if (longIds && smallGraphEdges > 0 && sym.count() <= maxFastEdges)
        (graft.Artifacts.checkpoint(unionFindComponents(sym)), 0)
      else if (algorithm == "star")
        starComponents(a, sym, maxIter, longIds, finishInTaskBytes)
      else minLabelComponents(a, sym, maxIter, jump = algorithm == "jump")
    }
  }

  /** Iterative min-label propagation — one join + one aggregation per
    * round (self-edges carry each node's own label through the
    * min-agg, so there is no join-back). O(graph diameter) rounds:
    * the right shape for the DENSE graphs near-dup clustering emits
    * (diameter 2-3); high-diameter graphs belong to [[starComponents]]
    * or the `jump` variant below.
    *
    * With `jump = true`, each round appends a POINTER-JUMPING step:
    * a label is itself a node id, so following it one hop —
    * l(v) ← min(l(v), l(l(v))) — composes the reach of the two
    * frames (Wyllie-style shortcutting; the relational form of
    * Hash-to-Min, Rastogi et al. 2013). Neighbor propagation extends
    * reach by one hop, the jump then roughly doubles it, so a
    * diameter-D chain converges in O(log D) rounds instead of D, at
    * two joins + two label-frame materializations per round. Labels
    * only DECREASE under both steps (min of already-held labels), so
    * the sum certificate and the min-reachable-id fixed point carry
    * over unchanged.
    */
  private def minLabelComponents(a: graft.Artifacts, sym: DataFrame, maxIter: Int,
      jump: Boolean = false): (DataFrame, Int) = {
    // labels only ever DECREASE, so the (exact, decimal) label sum is
    // a convergence certificate: unchanged sum ⟺ no label moved. The
    // sum rides every checkpoint materialization as an observe()
    // metric — zero extra jobs per round, including the init frame
    // (whose observation also carries the node count).
    val sumExpr = coalesce(sum(col("component").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("label_sum")
    val nodes = sym.select(col("a").as("node")).distinct()
    val obs0 = org.apache.spark.sql.Observation()
    var labels = a.checkpoint(nodes
      .withColumn("component", col("node"))
      .observe(obs0, count(lit(1)).as("n_nodes"), sumExpr))
    // label frames are (node, component) pairs — 16 bytes of data per
    // node. While the node count is broadcastable, hint it: each round
    // becomes ONE scan of the persisted edges plus a tiny partial-agg
    // shuffle, instead of re-shuffling the edge list every round. Past
    // the limit (cluster-scale graphs) the hint is withheld and
    // Catalyst plans the shuffled join the data size demands.
    val nNodes = obs0.get("n_nodes").asInstanceOf[Long]
    // no edges ⇒ no pair-connected nodes: done before any round (a
    // sum-based certificate over zero rows would otherwise be null)
    if (nNodes == 0) return (a.keep(labels), 0)
    val broadcastLabels = nNodes <= 2000000L
    val hintSmall: DataFrame => DataFrame =
      if (broadcastLabels) broadcast(_) else identity
    // ONE layout exchange for the whole propagation (round-16, guide
    // §2.4): symSelf hash-partitions on the label key a here; each
    // round's label join broadcasts (labels are O(nodes), hinted
    // below while they fit) and preserves the stream side's
    // clustering, so the per-round min-label aggregation runs
    // partition-local — zero per-round exchanges. The layout is
    // GATED on the same broadcast regime as the hint (round-17,
    // advice): past the limit each round's join re-shuffles symSelf
    // by b anyway, so an upfront a-layout would be one wasted
    // full-edge exchange — the PageRank adaptive-layout rationale.
    val symSelf0 = sym
      .union(nodes.select(col("node").as("a"), col("node").as("b")))
    val symSelf = a.persist((if (broadcastLabels)
        symSelf0.repartition(
          sym.sparkSession.sessionState.conf.numShufflePartitions,
          col("a"))
      else symSelf0))
    var prevSum = obs0.get("label_sum").asInstanceOf[java.math.BigDecimal]
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      val obs = org.apache.spark.sql.Observation()
      val propagated = symSelf.join(hintSmall(labels), col("b") === col("node"))
        .groupBy(col("a"))
        .agg(min(col("component")).as("component"))
        .withColumnRenamed("a", "node")
      // the jump step reads `propagated` on BOTH join sides —
      // checkpoint first or the propagation join runs twice
      val p = if (jump) a.checkpoint(propagated) else propagated
      val next = a.checkpoint((if (!jump) p else {
        // left join: every label IS a node id present in the frame
        // (labels are minima over node-id sets that contain them),
        // but coalesce keeps the step total rather than trusting that
        // invariant across future refactors
        p.as("x")
          .join(hintSmall(p).as("y"), col("x.component") === col("y.node"),
            "left")
          .select(col("x.node").as("node"),
            least(col("x.component"),
              coalesce(col("y.component"), col("x.component")))
              .as("component"))
      })
        .observe(obs, sumExpr))
      if (jump) a.free(p)
      val newSum = obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      // free the superseded round's checkpoint blocks NOW
      a.free(labels)
      labels = next
      it += 1
    }
    if (changed) throw new IllegalStateException(
      s"connectedComponents(${if (jump) "jump" else "minlabel"}) did not " +
        s"converge in $maxIter rounds (graph diameter exceeds maxIter) — " +
        "rerun with algorithm=\"star\" (O(log n) rounds) or " +
        "algorithm=\"jump\" (O(log diameter)) or a larger maxIter; " +
        "returning partial labels would be silently wrong")
    (a.keep(labels), it)
  }

  /** Large-star step (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014): every node links each STRICTLY
    * LARGER neighbor to the minimum of its closed neighborhood.
    * Output edges keep the (hi > lo) orientation invariant.
    */
  private def largeStar(d: DataFrame): DataFrame = {
    val s = d.select(col("hi").as("a"), col("lo").as("b"))
      .union(d.select(col("lo").as("a"), col("hi").as("b")))
    val mins = s.groupBy(col("a")).agg(least(min(col("b")), col("a")).as("m"))
    // no distinct here: output is ≤ one edge per directed input edge,
    // and smallStar's round-final distinct dedups anyway — an inner
    // distinct would just add a shuffle per round
    s.filter(col("b") > col("a"))
      .join(mins, "a")
      .select(col("b").as("hi"), col("m").as("lo"))
  }

  /** Small-star step: every node links its smaller-or-equal neighbors
    * (and itself) to the minimum among them. With the (hi > lo)
    * invariant the smaller neighbors of `hi` are exactly its `lo`
    * list, so one aggregation per round suffices.
    */
  private def smallStar(d: DataFrame): DataFrame = {
    val mins = d.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    d.join(mins, "hi").select(col("lo").as("c"), col("m"))
      .union(mins.select(col("hi").as("c"), col("m")))
      .filter(col("c") =!= col("m"))
      .select(col("c").as("hi"), col("m").as("lo"))
      .distinct()
  }

  /** Alternating star-contraction components — O(log n) rounds
    * independent of graph diameter (vs min-label's O(diameter)), at
    * two aggregations + two joins per round. The scale path for
    * chain-shaped / high-diameter graphs.
    *
    * Convergence is detected in two layers, so the per-round cost is
    * ONE job with nothing extra riding it (the min-label pattern):
    *   - every round's localCheckpoint carries (edge count, an
    *     order-independent xxhash64 edge-set sum) via `observe()` —
    *     zero additional jobs or shuffles. At the fixed point the
    *     round output equals its input, so both go unchanged.
    *   - when the edge COUNT alone repeats, [[isStarForest]] runs:
    *     the EXACT certificate (typically once per call). The count
    *     usually stabilizes on the round that REACHES the fixed
    *     point, so certifying on count-repeat converges one full
    *     contraction round earlier than waiting for the whole
    *     (count, hash) signature to reproduce itself — the certificate
    *     is a tiny aggregation over the already-checkpointed edges,
    *     orders of magnitude cheaper than the two-join round it
    *     replaces. A count plateau before the fixed point just means
    *     an extra tiny certificate job (false, loop continues) — the
    *     metrics are an optimization trigger, never a correctness
    *     input. The hash sum still rides each round: it detects
    *     whether the round CHANGED the edge set, keeping the reported
    *     round count exact (progress rounds only).
    *
    * The exact certificate: with the (hi > lo) orientation the edge
    * set is the terminal star forest iff BOTH hold:
    *   1. no node appears as a hi twice (each child has ONE parent —
    *      "no lo as hi" alone would accept a child bridging two
    *      roots, silently splitting a merged component and emitting
    *      the child twice in the output join);
    *   2. no lo ever appears as a hi (no chains — parents are roots).
    * Then edges form DISJOINT stars with root < children, and since
    * both star steps preserve connected components, each star is a
    * whole component rooted at its minimum — precisely the fixed
    * point. Both conditions reduce to ONE tiny aggregation over the
    * checkpointed edges; both steps are deterministic, so an already-
    * converged input repeats its pair on the first round.
    *
    * Reported rounds count the applications that CHANGED the edge
    * set (a detection round that reproduces its input is work, but
    * not progress) — so the count matches the previous
    * per-round-certificate implementation exactly, whether or not
    * the early count-repeat certificate fired.
    */
  private def starComponents(a: graft.Artifacts, sym: DataFrame, maxIter: Int,
      longIds: Boolean = true,
      finishInTaskBytes: Long = UnionFindByteBudget): (DataFrame, Int) = {
    // nodes and the final d are the result's own frames
    val nodes = graft.Artifacts.checkpoint(
      sym.select(col("a").as("node")).distinct())
    if (nodes.isEmpty)
      return (nodes.withColumn("component", col("node")), 0)
    // the observed edge-set signature: row count + commutative
    // xxhash64 sum (decimal — a long sum can overflow and ANSI throws)
    val setSig = Seq(
      count(lit(1)).as("n_edges"),
      coalesce(sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("edge_hash"))
    def sig(o: org.apache.spark.sql.Observation): (Long, java.math.BigDecimal) =
      (o.get("n_edges").asInstanceOf[Long],
        o.get("edge_hash").asInstanceOf[java.math.BigDecimal])
    // sym is self-loop-free; keep one orientation
    val obs0 = org.apache.spark.sql.Observation()
    var d = a.checkpoint(sym.filter(col("a") > col("b"))
      .select(col("a").as("hi"), col("b").as("lo"))
      .observe(obs0, setSig.head, setSig.tail: _*))
    a.free(sym)
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("hi").as("x"), lit(1L).as("ishi"), lit(0L).as("islo"))
        .union(e.select(col("lo").as("x"), lit(0L).as("ishi"), lit(1L).as("islo")))
        .groupBy(col("x"))
        .agg(sum(col("ishi")).as("nh"), sum(col("islo")).as("nl"))
        .filter(col("nh") > 1 || (col("nh") > 0 && col("nl") > 0))
        .isEmpty
    var prevSig = sig(obs0)
    var apps = 0 // star-step applications, including any detection round
    var changedApps = 0 // applications that changed the edge set
    var converged = false
    val maxInTask =
      if (longIds) finishInTaskBytes / UnionFindBytesPerEdge else 0L
    // the in-task finish over a contracted (or initial) edge frame:
    // components over `d` restricted to its nodes — with absent nodes
    // as their own roots — ARE the original components (see the
    // switch-over rationale below)
    def finishInTask(rounds: Int): (DataFrame, Int) = {
      val uf = unionFindComponents(
        a.keep(d).select(col("hi").as("a"), col("lo").as("b")))
      val out = nodes.join(uf, nodes("node") === uf("node"), "left")
        .select(nodes("node"),
          coalesce(uf("component"), nodes("node")).as("component"))
      (out, rounds)
    }
    // ROUND-0 gate (round-17, verdict #4): the initial edge count
    // rides obs0's checkpoint, so a graph that is ALREADY within the
    // in-task budget skips the star rounds entirely — the same
    // geometric-shrink switch-over, entered one application earlier.
    // At cluster scale the gate never fires here and the contraction
    // rounds run exactly as before; correctness is the same argument
    // as the mid-contraction switch (d at round 0 IS the canonical
    // edge set). Costs zero jobs: the count was already observed.
    if (prevSig._1 > 0 && prevSig._1 <= maxInTask)
      return finishInTask(0)
    while (!converged && apps <= maxIter) {
      val obs = org.apache.spark.sql.Observation()
      val next = a.checkpoint(smallStar(largeStar(d))
        .observe(obs, setSig.head, setSig.tail: _*))
      apps += 1
      val curSig = sig(obs)
      val setChanged = curSig._1 != prevSig._1 ||
        curSig._2.compareTo(prevSig._2) != 0
      if (setChanged) changedApps += 1
      // certify on count-repeat alone: usually fires on the round that
      // REACHED the fixed point, saving the confirm-by-repeat round
      if (curSig._1 == prevSig._1) converged = isStarForest(next)
      prevSig = curSig
      a.free(d)
      d = next
      // geometric-shrink switch-over (the union-find byte-budget
      // heuristic applied MID-contraction): star rounds shrink the
      // edge set geometrically, so the tail rounds carry tiny frames
      // whose cost is pure per-round scheduling — once the CONTRACTED
      // graph fits the in-task budget, finish exactly with union-find
      // on it. Star steps preserve component structure and keep every
      // non-root member attached (largeStar emits each node as hi or
      // inside its neighborhood min; smallStar links every lo and hi
      // to the neighborhood min), so components over `d` restricted
      // to its nodes — with absent nodes as their own roots — ARE the
      // original components (cross-checked against pure-round star on
      // random graphs in PropertySpec). The edge count rides the
      // round's checkpoint as an observe() metric: the gate costs
      // zero extra jobs.
      if (!converged && curSig._1 > 0 && curSig._1 <= maxInTask)
        return finishInTask(changedApps)
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents(star) did not converge in $maxIter rounds — " +
        "raise maxIter; returning partial labels would be silently wrong")
    // at the fixed point d maps every non-root child to its component
    // minimum; roots (and only roots) are absent from the hi side
    a.keep(d)
    val out = nodes.join(d, nodes("node") === d("hi"), "left")
      .select(nodes("node"),
        coalesce(d("lo"), nodes("node")).as("component"))
    (out, changedApps)
  }

  /** Near-duplicate CLUSTERS over a corpus: MinHash-LSH verified
    * pairs, closed under transitivity. (A≈B and B≈C cluster A,B,C
    * even when A and C alone wouldn't pass the threshold — the
    * standard corpus-dedup contract.) Returns (node, component);
    * the component label is its canonical (min-id) member.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx"): DataFrame = {
    val pairs = minhashNearDuplicatesManaged(df, idCol, textCol, n, k, bands,
      threshold, maxBucketSize, hashMode)
    // components' first action consumes the pairs; release the
    // signature cache afterwards (components hold only (node, label))
    try connectedComponents(pairs.df, "id_a", "id_b")
    finally pairs.release()
  }

  /** The training-corpus deliverable: the corpus minus redundant
    * near-copies. Every near-dup cluster keeps exactly its canonical
    * (min-id) member; documents in no cluster survive untouched. The
    * anti-join ships only the loser id set — document payloads never
    * shuffle.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx"): DataFrame = {
    val losers = minhashClusters(df, idCol, textCol, n, k, bands,
      threshold, maxBucketSize, hashMode)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("__drop_id"))
    df.join(losers, col(idCol) <=> col("__drop_id"), "left_anti")
  }

  /** Survivor selection over a precomputed (node, component) cluster
    * frame with a caller-chosen preference: each cluster keeps the
    * member maximizing `prefCol` (ties → min id); documents in no
    * cluster survive untouched. Production near-dup dedup usually
    * wants "keep the longest / highest-quality copy" rather than
    * [[dropNearDuplicates]]'s min-id canonical member — with a
    * constant preference the two coincide.
    *
    * Scale shape: the preference projection joins onto the cluster
    * frame (ids + prefs only — payloads stay put), one window ranks
    * members within each cluster (clusters are tiny relative to the
    * corpus), and only loser ids cross the final anti-join.
    */
  def keepBestPerCluster(df: DataFrame, clusters: DataFrame,
      idCol: String, prefCol: Column): DataFrame = {
    val pref = df.select(col(idCol).as("__pid"), prefCol.as("__pref"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("__pref").desc, col("node"))
    val losers = clusters.join(pref, col("node") <=> col("__pid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("node").as("__drop_id"))
    df.join(losers, col(idCol) <=> col("__drop_id"), "left_anti")
  }

  /** [[dropNearDuplicates]] with the preference-based survivor
    * policy of [[keepBestPerCluster]].
    */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, textCol: String,
      prefCol: Column, n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx"): DataFrame =
    keepBestPerCluster(df,
      minhashClusters(df, idCol, textCol, n, k, bands, threshold,
        maxBucketSize, hashMode), idCol, prefCol)

  // ---------------------------------------------------------------
  // Incremental dedup: new batch vs an existing signature index
  // ---------------------------------------------------------------

  /** Near-duplicate pairs of a NEW batch against an already-indexed
    * corpus — the daily-increment path: the 100 TB corpus pays its
    * signature pass once ([[minhashSignatures]], persisted or written
    * to storage); each increment signs only its own (small) batch and
    * probes the index by band bucket. The index never re-shingles and
    * existing×existing pairs are never recomputed (the corpus is
    * assumed already deduped).
    *
    * Output rows are oriented (id_a = the KEPT side, id_b = the new
    * doc that would drop): an existing doc always wins against a new
    * near-copy regardless of id order; between two new docs the
    * smaller id wins. Semantics match the full pipeline restricted
    * to pairs touching the new batch — including the bucket-size cap,
    * which is computed over index ∪ batch, exactly as a full rebuild
    * would see it. Ids must be unique across index ∪ batch.
    */
  /** Fast-path gate for [[incrementalNearDuplicates]]: collect at
    * most this many (batch doc × band) bucket rows to the driver —
    * an INCREMENT is bounded by contract (that is what makes it an
    * increment), so the common case probes the index in one in-task
    * pass instead of a chain of broadcast-join stages. 0 disables.
    */
  val IncrementalFastBatchRows = 65536L

  /** Byte budget for the collected batch rows (texts included) — the
    * union-find / fast-PageRank deliberate-heap-slice rationale.
    */
  val IncrementalFastByteBudget: Long = 256L << 20

  def incrementalNearDuplicates(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx",
      smallBatchRows: Long = IncrementalFastBatchRows): DataFrame =
    incrementalNearDuplicatesManaged(newDocs, index, idCol, textCol,
      n, k, bands, threshold, maxBucketSize, hashMode, smallBatchRows).df

  /** Exact driver/task-side twin of the Column pipeline's shingle
    * set: split(" ", -1) keeps empty tokens, windows of n words
    * joined by single spaces, distinct. Fewer than n words → empty.
    */
  private[graft] def shinglesLocal(text: String, n: Int): Set[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) Set.empty
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact twin of `jaccard(shingles(a), shingles(b))`: IEEE double
    * division of the set sizes; an empty union yields None (the
    * Column form's null). */
  private[graft] def jaccardLocal(a: String, b: String, n: Int)
      : Option[Double] = {
    val sa = shinglesLocal(a, n); val sb = shinglesLocal(b, n)
    val u = (sa union sb).size
    if (u == 0) None else Some((sa intersect sb).size.toDouble / u)
  }

  /** Spark's `round(col, 4)` on DoubleType: decimal HALF_UP on the
    * shortest-round-trip representation. */
  private def round4(x: Double): Double =
    BigDecimal.decimal(x)
      .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The bounded-increment fast path of
    * [[incrementalNearDuplicatesManaged]]: an increment is small by
    * contract, so instead of a chain of broadcast-join query stages
    * (each a scheduling round trip — the dominant cost of the
    * distributed probe at small scale), the batch's signed bucket
    * rows COLLECT to the driver (gated by row + byte budgets, the
    * union-find / fast-PageRank pattern) and the index is probed in
    * ONE mapPartitions pass: per partition, touched-bucket occupancy
    * counts and candidate (index doc, new doc) pairs against the
    * driver map, Jaccard-verified in-task with the exact Scala twins
    * of the Column expressions (spec- and oracle-pinned equal).
    *
    * The skew cap is applied on the driver after the counts merge —
    * identical semantics (per touched bucket, index + batch
    * occupancy vs `maxBucketSize`); tasks stop emitting a bucket's
    * candidates once their local occupancy alone proves it capped,
    * so per-partition emission is bounded by
    * touched × (cap + 1) × batch-per-bucket.
    *
    * Returns None — fall back to the distributed probe — when ids
    * are not LongType, or the batch exceeds the row/byte budget.
    * Two jobs total: the batch collect and the index pass.
    */
  private def fastIncremental(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, n: Int, k: Int, bands: Int,
      threshold: Double, maxBucketSize: Int, hashMode: String,
      maxRows: Long, byteBudget: Long): Option[DataFrame] = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val longIds =
      newDocs.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
      index.schema("id").dataType == org.apache.spark.sql.types.LongType
    if (!longIds || maxRows > Int.MaxValue - 1) return None
    def bucketRows(sigs: DataFrame) = sigs
      .select(col("id"), col("text"),
        posexplode(bandExprFor(hashMode, k, bands)))
      .select(col("id"), col("text"), col("pos").as("band"),
        col("col").as("bucket"))
    val newRows = bucketRows(
        minhashSignatures(newDocs, idCol, textCol, n, k, hashMode))
      .limit(maxRows.toInt + 1)
      .collect()
    if (newRows.length > maxRows) return None
    if (newRows.iterator
        .map(r => 2L * r.getString(1).length + 64L).sum > byteBudget)
      return None
    // (band|bucket) -> new ids; id -> text. Buckets render to string
    // keys (uniformly Long in xx mode, String in md5 — no cross-type
    // collision within a call).
    val newByBucket = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val newText = scala.collection.mutable.HashMap.empty[Long, String]
    newRows.foreach { r =>
      val key = r.getInt(2).toString + "|" + r.get(3)
      newByBucket.getOrElseUpdate(key,
        scala.collection.mutable.ArrayBuffer.empty) += r.getLong(0)
      newText(r.getLong(0)) = r.getString(1)
    }
    val bNew = spark.sparkContext.broadcast(
      newByBucket.view.mapValues(_.toArray).toMap)
    val cap = maxBucketSize
    // one pass over the index: touched-bucket occupancy + candidates
    val emissions = bucketRows(index).rdd.mapPartitions { it =>
      val seen = scala.collection.mutable.HashMap.empty[String, Long]
      val cands = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Long, String)]
      it.foreach { r =>
        val key = r.getInt(2).toString + "|" + r.get(3)
        val hit = bNew.value.get(key)
        if (hit.isDefined) {
          val c = seen.getOrElse(key, 0L)
          seen(key) = c + 1
          // once this partition ALONE has seen cap+1 index rows the
          // bucket total certainly exceeds the cap — stop emitting
          // (counts continue; the driver drops the bucket anyway)
          if (c <= cap) {
            val id = r.getLong(0); val text = r.getString(1)
            hit.get.foreach { nid =>
              if (nid != id) cands += ((id, text, nid, key))
            }
          }
        }
      }
      Iterator((seen.toMap, cands.toSeq))
    }.collect()
    bNew.destroy()
    val idxCounts = scala.collection.mutable.HashMap.empty[String, Long]
    emissions.foreach(_._1.foreach { case (key, c) =>
      idxCounts(key) = idxCounts.getOrElse(key, 0L) + c
    })
    val capped = newByBucket.keysIterator.filter { key =>
      idxCounts.getOrElse(key, 0L) + newByBucket(key).length > cap
    }.toSet
    val idxCands = emissions.iterator.flatMap(_._2)
      .filter(c => !capped(c._4)).map(c => (c._1, c._3, c._2))
    // batch-internal pairs: same bucket, smaller id wins the a slot
    val newCands = newByBucket.iterator
      .filter { case (key, _) => !capped(key) }
      .flatMap { case (_, ids) =>
        for (a <- ids.iterator; b <- ids.iterator if a < b)
          yield (a, b, newText(a))
      }
    val pairs = (idxCands ++ newCands).toSeq
      .groupBy(p => (p._1, p._2)).valuesIterator.map(_.head)
      .flatMap { case (a, b, ta) =>
        jaccardLocal(ta, newText(b), n)
          .filter(_ >= threshold)
          .map(j => (a, b, round4(j)))
      }.toSeq
    Some(pairs.toDF("id_a", "id_b", "jaccard"))
  }

  /** Managed-lifecycle variant — see `minhashNearDuplicatesManaged`.
    * `index` is a [[minhashSignatures]] frame (id, text, sig).
    */
  def incrementalNearDuplicatesManaged(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx",
      smallBatchRows: Long = IncrementalFastBatchRows): graft.Managed = {
    val fast =
      if (smallBatchRows > 0)
        fastIncremental(newDocs, index, idCol, textCol, n, k, bands,
          threshold, maxBucketSize, hashMode, smallBatchRows,
          IncrementalFastByteBudget)
      else None
    if (fast.isDefined) return new graft.Managed(fast.get, new graft.Artifacts)
    val a = new graft.Artifacts
    val newSigs = a.persist(minhashSignatures(newDocs, idCol, textCol, n, k, hashMode))
    def explodeBuckets(sigs: DataFrame, isNew: Boolean) = sigs
      .select(col("id"), lit(isNew).as("is_new"),
        posexplode(bandExprFor(hashMode, k, bands)))
      .select(col("id"), col("is_new"), col("pos").as("band"),
        col("col").as("bucket"))
    val newBuckets = explodeBuckets(newSigs, isNew = true)
    // skew cap WITHOUT shuffling the index — and with per-increment
    // EXCHANGE volume proportional to the BATCH, not the index: a
    // count window over (band, bucket) would re-shuffle every index
    // bucket row on every increment, and even a full partial-agg
    // recounts the whole index each time. Only buckets the batch
    // TOUCHES can yield candidates, so over-cap buckets elsewhere in
    // the index are irrelevant to this increment: the index side
    // contributes its counts through a broadcast semi-join (narrow
    // scan of the index, zero exchange of its rows), and both size
    // aggregations are bounded by the batch's bucket set. Cap
    // semantics are unchanged — per touched bucket the total is
    // index + batch occupancy, exactly what a full rebuild sees.
    val newSizes = newBuckets
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("bn"))
    val idxTouchedSizes = explodeBuckets(index, isNew = false)
      .join(broadcast(newSizes.select(col("band"), col("bucket"))),
        Seq("band", "bucket"), "left_semi")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("bn"))
    val big = idxTouchedSizes.unionByName(newSizes)
      .groupBy(col("band"), col("bucket")).agg(sum(col("bn")).as("bsz"))
      .filter(col("bsz") > maxBucketSize)
      .select(col("band"), col("bucket"))
    val all = explodeBuckets(index, isNew = false).union(newBuckets)
    val capped = all.join(broadcast(big), Seq("band", "bucket"), "left_anti")
    // probe: full (capped) bucket set ⋈ the new side — the
    // increment's bucket rows are bounded by the caller's batch, so
    // they broadcast EXPLICITLY (a size estimate derived from the
    // index-sized union would push Catalyst to a sort-merge join that
    // re-shuffles the index) and the index is scanned, never
    // shuffled. The probe side is deliberately NOT cap-filtered: the
    // l side already excludes over-cap buckets, so probe rows in
    // those buckets match nothing — a second anti-join would only
    // add a broadcast job to the increment's critical path.
    val candidates = capped.as("l")
      .join(broadcast(newBuckets.select(col("band"), col("bucket"),
          col("id"))).as("r"),
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        (!col("l.is_new") || col("l.id") < col("r.id")) &&
        col("l.id") =!= col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val texts = index.select(col("id"), col("text"))
      .union(newSigs.select(col("id"), col("text")))
    val result = candidates
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .withColumn("jaccard", jaccard(
        shinglesFor(texts)(col("text_a"), n),
        shinglesFor(texts)(col("text_b"), n)))
      .filter(col("jaccard") >= threshold)
      // UNORDERED (pair lists are unbounded) — sort at the query edge
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    new graft.Managed(result, a)
  }

  /** The increment deliverable: the new batch minus near-copies of
    * the indexed corpus (and of smaller-id batch mates). Greedy
    * pair-based retention, not transitive clustering — an increment
    * never relabels the existing corpus.
    */
  def dedupIncrement(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx",
      smallBatchRows: Long = IncrementalFastBatchRows): DataFrame =
    // the drop set broadcasts into the anti-join (bounded by the
    // increment), and the probe's signature cache releases when the
    // caller's FIRST action completes (Managed.autoReleased — the
    // one-shot convenience lifecycle; an eager checkpoint of the drop
    // set here would cost a whole extra job on the increment's
    // critical path). Multi-action callers compose
    // incrementalNearDuplicatesManaged themselves.
    incrementalNearDuplicatesManaged(newDocs, index, idCol,
      textCol, n, k, bands, threshold, maxBucketSize, hashMode,
      smallBatchRows)
      .mapDf(pairs => newDocs.join(
        broadcast(pairs.select(col("id_b").as("__drop_id"))),
        col(idCol) <=> col("__drop_id"), "left_anti"))
      .autoReleased()
}
