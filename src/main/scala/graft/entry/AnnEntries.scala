package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops._
import graft.quality.RuleBasedScorer
import graft.similarity.{Similarity, VectorCodec, VectorStore}
import graft.textanalysis.TextAnalysis

/** ANN / vector-index families (float, int8, PQ, truncation) — one module of the per-family SparkEntry split (round 14):
  * this family's `queries` entries and their static oracle SQL, plus
  * (after the helper migration) the builders and generated oracles
  * only this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait AnnEntries extends EntryInfra {

  protected def annQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Similarity: exact brute-force cosine top-k (broadcast query)
    "q_knn_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)),
    // Contrastive-training data prep: top-k hard negatives for vec 0
    // over a corpus with PLANTED positives (float ×2 copies of every
    // %7 vector — scaling preserves direction exactly, so each copy
    // lands at its original's cosine and the query's copy at 1.0);
    // the ≥0.98 positives drop, the hard-but-safe neighbors remain
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planted = emb.unionByName(
        emb.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
            col("label")))
      Similarity.hardNegatives(planted, 0L, 10)
    }),
    // Contrastive triplet export over the same planted corpus as
    // q_hard_negatives: per anchor (all %7 — each has a ×2-scaled
    // copy at cos 1.0), the best positive + 10 hardest negatives
    "q_contrastive_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planted = emb.unionByName(
        emb.filter(col("vec_id") % 7 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
            col("label")))
      Similarity.contrastivePairs(planted, Seq(0L, 7L, 14L), 10)
    }),
    // Similarity: batched multi-query top-k via window ranking
    "q_knn_multi" -> ((s, d) =>
      Similarity.multiQueryTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L), 5)),
    // Similarity: SRP-LSH ANN top-k (bucket-pruned scan; recall spec'd)
    "q_ann_lsh" -> ((s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d), 0L, 10, nPlanes = 4)),
    // SRP-LSH ANN with md5-derived hyperplanes — the bucket math
    // (plane components, index-ordered dot fold, sign bits) replays
    // byte-identically in DuckDB, putting the LSH probe itself under
    // the hash gate (the xx variant stays rows-only)
    "q_ann_lsh_md5" -> ((s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d), 0L, 10, nPlanes = 4,
        hashMode = "md5")),
    // Similarity: IVF ANN (inverted-file cells + nProbe probe scan)
    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopKFrom(Tables.embeddings(s, d),
        seedCents16(s, d), 0L, 10, nProbe = 2)),
    // ANN operating-point evaluation: recall@10 of the IVF probe
    // (nProbe=2 of 16 cells) against exact brute force for 5 query
    // vectors — the measurement that justifies an ANN config before
    // a deployment trusts it. Both rankings replay in DuckDB, so the
    // recall numbers themselves are hash-gated
    "q_ann_recall" -> ((s, d) =>
      Similarity.annRecall(Tables.embeddings(s, d), seedCents16(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10, 2)),
    // The measurement that JUSTIFIES a centroid refresh (round-11
    // verdict #8): a shifted-distribution batch (negated re-ingests)
    // drifts the corpus away from the frozen seed centroids; recall
    // for queries drawn from the drifted batch is measured before
    // and after reclustering against Lloyd centroids retrained on
    // the drifted corpus. Generated oracle replays BOTH probe
    // rankings (seed assignment + refreshed-centroid literals) and
    // the shared exact baseline — the recall numbers themselves are
    // hash-gated, and the drop→recovery table lands in BUILD_NOTES
    "q_ann_ivf_recluster_recall" -> ((s, d) => {
      val dr = driftedEmbeddings(s, d)
      val qs = Seq(2000000L, 2000010L, 2000020L, 2000030L, 2000040L)
      val before = Similarity.annRecall(dr, seedCents16(s, d), qs, 10, 2)
        .select(col("query_id"), col("n_exact"),
          col("recall").as("recall_before"))
      val after = Similarity.annRecall(dr, driftedCentroids(s, d), qs, 10, 2)
        .select(col("query_id"), col("recall").as("recall_after"))
      before.join(after, Seq("query_id")).orderBy(col("query_id"))
    }),
    // JL random projection: every vector onto 8 deterministic md5
    // hyperplanes (the SRP family without the sign quantization) —
    // the dimensionality-reduction stage ahead of a 100 TB ANN scan;
    // the oracle replays the full plane matrix + index-ordered dot
    // fold, so the projected doubles themselves are hash-gated
    "q_embed_project" -> ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), 8)
        .orderBy("vec_id", "p")),
    // Serving scan in the projected space: top-k by cosine over the
    // 8-double projections — the scan ranks 8 doubles instead of 64
    // floats per candidate (~8× less volume at full corpus width)
    "q_knn_projected" -> ((s, d) =>
      Similarity.projectedTopK(Tables.embeddings(s, d), 0L, 10,
        outDim = 8)),
    // Operating-point evaluation: recall@10 of the projected-space
    // ranking vs the full-dim exact ranking for 5 queries — the
    // number that justifies a projection width before deployment;
    // both rankings replay in DuckDB, so the recalls are hash-gated
    "q_ann_projected_recall" -> ((s, d) =>
      Similarity.projectedRecall(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10, outDim = 8)),
    // Same IVF semantics served from the WRITTEN cell-partitioned
    // index — the probe predicate is a literal IN list, so the scan
    // prunes to nProbe partition directories (the 100 TB path)
    "q_ann_ivf_indexed" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        s.read.parquet(builtIvfIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // Index maintenance: ERASURE — ids ≡ 3 mod 7 tombstoned out of
    // the written index (O(batch); cells never read), served through
    // the anti-joining reader. The oracle replays the rebuild on the
    // REMAINING vectors: tombstoned ≡ rebuild-on-remaining is the
    // operator's exactness claim
    // RETENTION (bounded history): build + two appends + erasure,
    // then compactIvfIndexKeeping(keep = w2) — the w1 window folds
    // into the base (tombstones applied physically), w2 stays
    // addressable. Serving is unchanged by retention, so the full
    // serve shares the erasure replay verbatim; the as-of twin below
    // gates the fold itself
    "q_ann_ivf_retention" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        Similarity.readIvfIndex(s, builtIvfRetentionIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, nProbe = 2)),
    // as-of("build") AFTER retention = base ∪ folded-w1 − erased —
    // the rolling window's history contract, hash-gated: the folded
    // batch is gone as a NAME but its live rows are in the base
    "q_ann_ivf_retention_asof" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        Similarity.readIvfIndexAsOf(s, builtIvfRetentionIndex(s, d),
          Seq("build")),
        seedCents16(s, d), queryVec0(s, d), 10, nProbe = 2)),
    // The vector family's batch INVENTORY audit (bm25IndexHistory's
    // analog): one row per index batch + per tombstone batch on the
    // retention fixture — the readout that tells an operator what
    // as-of can address and what retention would fold. The oracle
    // re-derives every count from the id splits, so a partition that
    // drifted from its split fails the hash
    "q_ann_ivf_history" -> ((s, d) =>
      Similarity.ivfIndexHistory(s, builtIvfRetentionIndex(s, d))),
    "q_ann_ivf_deleted" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        Similarity.readIvfIndex(s, builtIvfDelIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // STREAMING ERASURE under the query gate: the same vec batch
    // tombstoned through two checkpointed micro-batches
    // (ivfDeleteSink) — shares the deleted oracle verbatim
    "q_ann_ivf_stream_deleted" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        Similarity.readIvfIndex(s, builtIvfStrDelIndex(s, d) + "/idx"),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // ...and after COMPACTION makes the erasure physical (cells
    // rewritten without the tombstoned rows) — the float family's
    // compacted member under the query gate like its int8/PQ twins;
    // shares the deleted oracle, so compacted ≡ tombstoned ≡
    // rebuild-on-remaining is the hash itself
    "q_ann_ivf_compacted" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        s.read.parquet(builtIvfCmpIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // Index maintenance: the same probe over an index built as
    // base-write + batch-APPEND against frozen centroids — append ≡
    // rebuild exactly (frozen per-row assignment, order-blind cells),
    // gated by sharing the full-rebuild oracle; per-batch cost is
    // O(batch), the existing inverted lists are never read
    "q_ann_ivf_incremental" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        s.read.parquet(builtIvfIncIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // Streaming ingestion into the live ANN index: the same probe
    // over an index the vectorIndexSink built from three checkpointed
    // micro-batches against frozen centroids — stream-built ≡
    // rebuild, gated by sharing the full-rebuild oracle
    "q_ann_ivf_streamed" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        s.read.parquet(builtIvfStreamedIndex(s, d) + "/idx"),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // SNAPSHOT of the stream-built index: the same probe served as
    // of micro-batch 1 (ids ≡ 2 mod 3 arrived in batch 2 and must
    // vanish) — the sink's monotonic batch clock makes the prefix
    // THE historical state, and the oracle replays the rebuild on
    // the prefix's vectors. Time travel = one partition-column
    // range predicate next to the cell probes
    "q_ann_ivf_asof" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        Similarity.readIvfIndexAsOf(s,
          builtIvfStreamedIndex(s, d) + "/idx", 1L),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // SNAPSHOT of the BATCH-MAINTAINED index by batch NAME: the probe
    // served as of the base build only (the "inc1" append's ids ≡ 3
    // mod 8 must vanish) — the batch-keyed append layout carries
    // history, so time travel is the same partition pruning the
    // streamed index gets, without a streaming sink in the picture.
    // The oracle replays the rebuild on the base split
    "q_ann_ivf_asof_batch" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Float,
        Similarity.readIvfIndexAsOf(s, builtIvfIncIndex(s, d),
          Seq("build")),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // SemDeDup served from the SAME written index the ANN probe uses:
    // the cell partitioning is already on disk, dedup skips assignment
    "q_semdedup_indexed" -> ((s, d) =>
      Similarity.semanticDuplicatesFromIndex(
        s.read.parquet(builtIvfIndex(s, d)), 0.999)
        .orderBy(col("vec_id"))),
    // IVF probe over LLOYD-REFINED centroids (the production build
    // path, 2 k-means iterations): the refined centroids are inlined
    // as literals into a generated oracle, so the probe-over-refined-
    // cells result is hash-matched, not spec-trusted
    "q_ann_ivf_kmeans" -> ((s, d) =>
      Similarity.ivfTopKFrom(Tables.embeddings(s, d),
        kmeansCentroids(s, d), 0L, 10, 2)),
    // Index maintenance: CENTROID REFRESH — the seed-built index
    // re-clusters against the Lloyd-refined centroids into a fresh
    // directory (old serving untouched; cutover = path swap), and
    // the query is the churn AUDIT: the (cell_old → cell_new, n)
    // movement matrix between the two written artifacts. Generated
    // oracle replays BOTH assignments (seed literals + refined-
    // centroid literals) and joins them — a drifted cell boundary,
    // dropped row, or stale entry each flips the hash
    "q_ann_ivf_recluster" -> ((s, d) =>
      Similarity.reclusterChurn(s, builtIvfIndex(s, d),
        builtIvfReclusteredIndex(s, d))),
    // Batched one-scan serving for the FLOAT store (round-13 verdict
    // #2): the VectorStore.multiTopK trick with per-query literal
    // query vectors instead of LUTs — 5 queries, one pass over the
    // union of their probed cells, one bounded (query_id, vec_id,
    // score) shuffle. Batched ≡ 5 single serves is the hash gate
    // (the oracle replays each query's pruned ranking)
    "q_knn_ivf_multi" -> ((s, d) =>
      VectorStore.multiTopK(VectorCodec.Float,
        s.read.parquet(builtIvfIndex(s, d)), seedCents16(s, d),
        multiQueryVecs(s, d), 10, nProbe = 2)),
    // ...and for the COMPRESSED (int8) store — the high-QPS hot tier
    // where the one-scan batching pays most: exact integer dots
    // against every query's quantized literal, dequantized by the
    // two scales exactly as the single-query path
    "q_knn_quantized_multi" -> ((s, d) =>
      VectorStore.multiTopK(VectorCodec.Int8,
        s.read.parquet(builtQuantizedIvfIndex(s, d)), seedCents16(s, d),
        multiQueryVecs(s, d), 10, nProbe = 2)),
    // QUERY-TABLE batched serving (round-15 verdict #1): the same 5
    // queries arrive as a DataFrame — probe cells chosen in-plan,
    // probe pairs + query vectors broadcast-joined on cell (directory
    // pruning survives as dynamic partition pruning), O(1) plan size
    // in Q. Same oracle as the literal twin: batched ≡ singles
    "q_knn_ivf_multi_qt" -> ((s, d) =>
      VectorStore.multiTopK(VectorCodec.Float,
        s.read.parquet(builtIvfIndex(s, d)), seedCents16(s, d),
        multiQueryFrame(s, d), 10, nProbe = 2)),
    // ...and for the int8 store: the query side quantizes IN-PLAN
    // through the store's own native quantization
    "q_knn_quantized_multi_qt" -> ((s, d) =>
      VectorStore.multiTopK(VectorCodec.Int8,
        s.read.parquet(builtQuantizedIvfIndex(s, d)), seedCents16(s, d),
        multiQueryFrame(s, d), 10, nProbe = 2)),
    // the query-table serve composed with the MAINTAINED store: the
    // layout-agnostic reader's tombstone anti-join under the batched
    // broadcast-probe plan — erased ids must be absent from every
    // query's ranking (the deleted replay per query is the oracle)
    "q_knn_quantized_multi_qt_deleted" -> ((s, d) =>
      VectorStore.multiTopK(VectorCodec.Int8,
        Similarity.readIvfIndex(s, builtQivfDelIndex(s, d)),
        seedCents16(s, d), multiQueryFrame(s, d), 10, nProbe = 2)),
    // ...and with TIME TRAVEL: the batched serve over the stream-
    // built index's as-of prefix (batch_id <= 1 — the sink's third
    // micro-batch, ids ≡ 2 mod 3, must be absent from every query's
    // ranking). The as-of range predicate and the probe join's
    // dynamic cell pruning are BOTH partition filters on the same
    // scan — time travel costs the batched plan nothing extra
    "q_knn_ivf_multi_qt_asof" -> ((s, d) =>
      VectorStore.multiTopK(VectorCodec.Float,
        Similarity.readIvfIndexAsOf(s,
          builtIvfStreamedIndex(s, d) + "/idx", 1L),
        seedCents16(s, d), multiQueryFrame(s, d), 10, nProbe = 2)),
    // the budget fallback MADE REAL (round-16): the same 5-query
    // batch served in 3 hash-disjoint chunks through servedInChunks —
    // ranking is per-query so chunking is exact by construction, and
    // each chunk's serve carries its own in-plan broadcast-budget
    // guard. Chunked ≡ one-shot ≡ singles: same oracle verbatim
    "q_knn_ivf_multi_qt_chunked" -> ((s, d) =>
      Similarity.servedInChunks(multiQueryFrame(s, d), 3)(q =>
        VectorStore.multiTopK(VectorCodec.Float,
          s.read.parquet(builtIvfIndex(s, d)), seedCents16(s, d),
          q, 10, nProbe = 2))),
    // The int8 member of the compression/recall frontier: recall@10
    // of the 4× store's serving path — measured ≈ the float routing
    // ceiling (scalar quantization error is far below ranking
    // granularity), which is WHY int8 is the default serving form and
    // PQ the cold tier. Static oracle: quantization replay + routing
    // + exact baseline are all corpus-derived
    "q_int8_recall" -> ((s, d) =>
      VectorStore.recall(VectorCodec.Int8,
        s.read.parquet(builtQuantizedIvfIndex(s, d)),
        Tables.embeddings(s, d), seedCents16(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10, 2)),
    // Similarity: embedding-cosine near-dup over planted copies
    "q_embedding_neardup" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.embeddingNearDuplicates(e.unionByName(planted), 0.999)
        .orderBy(col("id_a"), col("id_b")) // presentation sort at the edge
    }),
    // Same planted-copy recovery through md5 hyperplanes → oracled
    "q_embedding_neardup_md5" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.embeddingNearDuplicates(e.unionByName(planted), 0.999,
        hashMode = "md5")
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Embedding-space drift: per-label centroid cosine against the
    // global centroid over 2^44 fixed-point exact sums (cosine is
    // scale-invariant, so the integer SUM vectors stand in for the
    // centroids — no division, no float-sum order dependence)
    "q_embedding_drift" -> ((s, d) =>
      Similarity.centroidDrift(Tables.embeddings(s, d))),
    // Embedding-quality outlier gate: each vector's cosine to its
    // own label's fixed-point centroid-sum; below-threshold vectors
    // flag as mislabels/encoder glitches (the per-vector companion
    // of q_embedding_drift, same 2^44 exactness contract)
    "q_embedding_outliers" -> ((s, d) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, d), 0.5)),
    // SemDeDup: k-means-cell semantic dedup over planted exact copies
    // (IVF seed centroids; lower id survives any ≥0.999 pair)
    "q_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.semanticDuplicates(e.unionByName(planted),
        seedCents16(s, d), 0.999)
        .orderBy(col("vec_id")) // presentation sort at the edge
    }),
    // Int8 quantization: per-vector scale + exact integer reductions
    // of the quantized entries (the arrays themselves are spec'd —
    // the oracle gate compares scalar projections)
    "q_embed_quantize" -> ((s, d) =>
      Similarity.quantStatsReadout(Tables.embeddings(s, d))
        .orderBy("vec_id")),
    // ANN over the compressed store: integer-exact dot products,
    // dequantized by the two scales
    "q_knn_quantized" -> ((s, d) =>
      Similarity.quantizedTopK(
        Similarity.quantizeEmbeddings(Tables.embeddings(s, d)), 0L, 10)),
    // The compressed store under IVF serving: probe cells prune to
    // partition directories of int8 entries (pruning × compression)
    "q_knn_quantized_ivf" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Int8,
        s.read.parquet(builtQuantizedIvfIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // ERASURE for the compressed store: ids ≡ 3 mod 7 tombstoned
    // (the layout-agnostic reader anti-joins on vec_id), oracled by
    // the int8 replay on the REMAINING vectors
    "q_knn_quantized_ivf_deleted" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Int8,
        Similarity.readIvfIndex(s, builtQivfDelIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // ...and after COMPACTION rewrites the int8 cells without the
    // tombstoned rows (layout-agnostic compactIvfIndex) — a plain
    // cell scan serves the erased state; shares the deleted oracle
    "q_knn_quantized_ivf_compacted" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Int8,
        s.read.parquet(builtQivfCmpIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // Index maintenance for the COMPRESSED store: the same pruned
    // int8 probe over an index built as base-write + batch-append
    // against frozen centroids — append ≡ rebuild, shared oracle
    "q_knn_quantized_ivf_incremental" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Int8,
        s.read.parquet(builtQuantIvfIncIndex(s, d)),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // ...and the SNAPSHOT of that batch-maintained compressed index
    // as of the base build ("inc1"'s ids ≡ 6 mod 8 must vanish) —
    // the int8 family time-travels by batch name exactly like the
    // float one; the oracle replays the int8 ranking on the base
    // split
    "q_knn_quantized_ivf_asof" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Int8,
        Similarity.readIvfIndexAsOf(s, builtQuantIvfIncIndex(s, d),
          Seq("build")),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // STREAMING ingestion into the compressed store — the int8 twin
    // of q_ann_ivf_streamed, closing the last family asymmetry: the
    // probe over an index the vectorIndexSink built from three
    // checkpointed micro-batches; stream-built ≡ rebuild, gated by
    // sharing the full-rebuild oracle
    "q_knn_quantized_ivf_streamed" -> ((s, d) =>
      VectorStore.topKFromIndex(VectorCodec.Int8,
        s.read.parquet(builtQivfStreamedIndex(s, d) + "/idx"),
        seedCents16(s, d), queryVec0(s, d), 10, 2)),
    // CENTROID REFRESH for the compressed store (round-11 verdict
    // #3): the int8 index re-quantizes its live entries FROM THE
    // SOURCE TABLE (it carries no embeddings) against the Lloyd-
    // refined centroids, and the query is the churn audit between
    // the seed-built and refreshed artifacts. Per-row quantization
    // is index-independent, so the movement matrix must equal the
    // float family's — the generated oracle replays both
    // assignments from the true embeddings, and a missing source
    // row fails the build loudly
    "q_knn_quantized_ivf_recluster" -> ((s, d) =>
      Similarity.reclusterChurn(s, builtQuantizedIvfIndex(s, d),
        builtQivfReclusteredIndex(s, d))),
    // STREAM ≡ BATCH for the SERVING-sink family (round-16 verdict
    // #3): the accumulated batch-stamped catalog of the hot-tier
    // vectorServingSink (two checkpointed micro-batches: queries
    // {0,1,2} then {3,4}, served through the int8 query-table plan
    // against the frozen index) re-sorted as one readout — per-batch
    // serves must accumulate to exactly the one-shot 5-query batched
    // serve, so the readout shares q_knn_quantized_multi's replay
    // verbatim, the convention every other sink family already has
    "q_knn_served_catalog" -> ((s, d) =>
      s.read.parquet(builtQuantServedCatalog(s, d) + "/out")
        .select(col("query_id"), col("vec_id"), col("q_sim"))
        .orderBy(col("query_id"), col("q_sim").desc, col("vec_id"))),
  )

  // the query-table twins serve the SAME 5-query batch with the SAME
  // contract (batched ≡ singles), so they share the literal twins'
  // oracle SQL verbatim — one replay, two plans under the gate
  protected def annStaticOracles: Map[String, String] =
    annStaticOracles0 ++ Map(
      "q_knn_ivf_multi_qt" -> annStaticOracles0("q_knn_ivf_multi"),
      // chunked ≡ one-shot ≡ singles: the hash gate for the budget
      // fallback (servedInChunks) is the same replay verbatim
      "q_knn_ivf_multi_qt_chunked" ->
        annStaticOracles0("q_knn_ivf_multi"),
      "q_knn_quantized_multi_qt" ->
        annStaticOracles0("q_knn_quantized_multi"),
      // the serving sink's accumulated catalog must equal the
      // one-shot batched serve (stream ≡ batch): same replay verbatim
      "q_knn_served_catalog" ->
        annStaticOracles0("q_knn_quantized_multi"),
      // the maintained-store composition: the batched replay with
      // the erased ids (≡ 3 mod 7, builtQivfDelIndex) excluded from
      // the candidate side BEFORE ranking — derived from the batched
      // oracle so the two texts can never drift
      "q_knn_quantized_multi_qt_deleted" -> {
        val anchor = "JOIN qq ON qq.query_id = p.query_id) WHERE rn <= 10"
        val full = annStaticOracles0("q_knn_quantized_multi")
        require(full.contains(anchor),
          "q_knn_quantized_multi oracle drifted — update the deleted " +
            "derivation")
        full.replace(anchor,
          "JOIN qq ON qq.query_id = p.query_id\n" +
            "           WHERE q2.vec_id % 7 <> 3) WHERE rn <= 10")
      },
      // the time-travel composition: the batched float replay with
      // the as-of prefix applied to the candidate side (the sink's
      // batch 2 stamped ids ≡ 2 mod 3 excluded BEFORE ranking)
      "q_knn_ivf_multi_qt_asof" -> {
        val anchor = "JOIN q ON q.query_id = p.query_id) WHERE rn <= 10"
        val full = annStaticOracles0("q_knn_ivf_multi")
        require(full.contains(anchor),
          "q_knn_ivf_multi oracle drifted — update the as-of " +
            "derivation")
        full.replace(anchor,
          "JOIN q ON q.query_id = p.query_id\n" +
            "           WHERE v.vec_id % 3 <> 2) WHERE rn <= 10")
      })

  private lazy val annStaticOracles0: Map[String, String] = Map(
    "q_knn_brute" ->
      """SELECT vec_id,
         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    // ×2 scaling is exponent arithmetic — exact in FLOAT and DOUBLE
    // alike — so the planted copies' cosines replay bit-identically
    "q_hard_negatives" ->
      """WITH pe AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000,
             CAST(list_transform(embedding, x -> x * 2.0) AS DOUBLE[])
           FROM embeddings WHERE vec_id % 7 = 0),
         q AS (SELECT ve FROM pe WHERE vec_id = 0),
         p AS (SELECT vec_id,
             round(list_cosine_similarity(pe.ve, q.ve), 4) AS cos_sim
           FROM pe CROSS JOIN q)
         SELECT vec_id, cos_sim FROM p WHERE cos_sim < 0.98
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q_contrastive_pairs" ->
      """WITH pe AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000,
             CAST(list_transform(embedding, x -> x * 2.0) AS DOUBLE[])
           FROM embeddings WHERE vec_id % 7 = 0),
         q AS (SELECT vec_id AS query_id, ve FROM pe
               WHERE vec_id IN (0, 7, 14)),
         p AS (SELECT q.query_id, pe.vec_id,
                 round(list_cosine_similarity(pe.ve, q.ve), 4) AS cos_sim
               FROM pe CROSS JOIN q WHERE pe.vec_id <> q.query_id),
         r AS (SELECT query_id, vec_id, cos_sim,
                 CASE WHEN cos_sim >= 0.98 THEN 'positive'
                      ELSE 'negative' END AS role
               FROM p),
         k AS (SELECT query_id, role, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id, role
                   ORDER BY cos_sim DESC, vec_id) AS rank
               FROM r)
         SELECT query_id, role, rank, vec_id, cos_sim FROM k
         WHERE (role = 'positive' AND rank = 1)
            OR (role = 'negative' AND rank <= 10)
         ORDER BY query_id, role, rank""",
    "q_knn_multi" ->
      """WITH p AS (
           SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim
           FROM embeddings e,
                (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0,1,2)) q)
         SELECT * FROM (
           SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
           FROM p) WHERE rank <= 5
         ORDER BY query_id, rank""",
    "q_ann_lsh_md5" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         dm AS (SELECT len(ve) AS nd FROM v LIMIT 1),
         pl AS (SELECT [[(CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5
                        for j in range(0, nd)] for p in range(0, 4)] AS planes
                FROM dm),
         b AS (SELECT vec_id, ve,
                 list_sum([CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [ve[j+1] * planes[p+1][j+1] for j in range(0, len(ve))]),
                     (acc, x) -> acc + x) >= 0
                   THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END
                   for p in range(0, 4)]) AS bucket
               FROM v CROSS JOIN pl)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e JOIN b ON b.vec_id = e.vec_id
         WHERE b.bucket = (SELECT bucket FROM b WHERE vec_id = 0)
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // JL projection replay: the md5 plane matrix + the index-ordered
    // dot fold (list_reduce over a prepended 0.0 accumulator) —
    // byte-identical to both the composed Spark fold and the native
    // expression's primitive loop
    "q_embed_project" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         dm AS (SELECT len(ve) AS nd FROM v LIMIT 1),
         pl AS (SELECT [[(CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5
                        for j in range(0, nd)] for p in range(0, 8)] AS planes
                FROM dm)
         SELECT vec_id, CAST(ps.p AS INT) AS p,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             [ve[j+1] * planes[ps.p+1][j+1] for j in range(0, len(ve))]),
             (acc, x) -> acc + x), 6) AS comp
         FROM v CROSS JOIN pl CROSS JOIN range(0, 8) ps(p)
         ORDER BY vec_id, p""",
    // projected-space serving scan replay: project every vector with
    // the same fold, then rank by cosine over the projected lists
    "q_knn_projected" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         dm AS (SELECT len(ve) AS nd FROM v LIMIT 1),
         pl AS (SELECT [[(CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5
                        for j in range(0, nd)] for p in range(0, 8)] AS planes
                FROM dm),
         b AS (SELECT vec_id,
                 [list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    [ve[j+1] * planes[p+1][j+1] for j in range(0, len(ve))]),
                    (acc, x) -> acc + x) for p in range(0, 8)] AS pv
               FROM v CROSS JOIN pl)
         SELECT vec_id,
           round(list_cosine_similarity(pv,
             (SELECT pv FROM b WHERE vec_id = 0)), 4) AS proj_sim
         FROM b ORDER BY proj_sim DESC, vec_id LIMIT 10""",
    // projected-vs-exact recall replay: both rankings rebuilt in SQL
    // (projected cosine over the replayed folds; exact cosine over
    // the stored vectors), overlap counted per query
    "q_ann_projected_recall" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         dm AS (SELECT len(ve) AS nd FROM v LIMIT 1),
         pl AS (SELECT [[(CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5
                        for j in range(0, nd)] for p in range(0, 8)] AS planes
                FROM dm),
         b AS (SELECT vec_id,
                 [list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    [ve[j+1] * planes[p+1][j+1] for j in range(0, len(ve))]),
                    (acc, x) -> acc + x) for p in range(0, 8)] AS pv
               FROM v CROSS JOIN pl),
         qp AS (SELECT vec_id AS query_id, pv FROM b
                WHERE vec_id IN (0, 1, 2, 3, 4)),
         pr AS (SELECT qp.query_id, b.vec_id,
                  round(list_cosine_similarity(b.pv, qp.pv), 4) AS s
                FROM b CROSS JOIN qp),
         pk AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
                  FROM pr) WHERE rn <= 10),
         ex AS (SELECT q.vec_id AS query_id, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                    CAST(q.embedding AS DOUBLE[])), 4) AS s
                FROM embeddings e,
                     (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id IN (0, 1, 2, 3, 4)) q),
         ek AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
                  FROM ex) WHERE rn <= 10)
         SELECT ek.query_id, count(*) AS n_exact,
           CAST(coalesce(sum(CASE WHEN pk.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
           round(coalesce(sum(CASE WHEN pk.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) * 1.0 / count(*), 4) AS recall
         FROM ek LEFT JOIN pk
           ON pk.query_id = ek.query_id AND pk.vec_id = ek.vec_id
         GROUP BY ek.query_id ORDER BY ek.query_id""",
    "q_embedding_neardup_md5" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
           WHERE vec_id % 10 = 0),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM corpus),
         dm AS (SELECT len(ve) AS nd FROM v LIMIT 1),
         pl AS (SELECT [[(CAST(concat('0x', substring(md5(concat(CAST(p AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5
                        for j in range(0, nd)] for p in range(0, 8)] AS planes
                FROM dm),
         b AS (SELECT vec_id, ve,
                 list_sum([CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [ve[j+1] * planes[p+1][j+1] for j in range(0, len(ve))]),
                     (acc, x) -> acc + x) >= 0
                   THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END
                   for p in range(0, 8)]) AS bucket
               FROM v CROSS JOIN pl)
         SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           round(list_cosine_similarity(l.ve, r.ve), 4) AS cos_sim
         FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         WHERE round(list_cosine_similarity(l.ve, r.ve), 4) >= 0.999
         ORDER BY id_a, id_b""",
    "q_ann_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes)
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // recall replay: same assign/probes CTEs as q_ann_ivf, ranked per
    // query; exact top-k left-joins the probed top-k and counts hits
    "q_ann_recall" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rn <= 2),
         q AS (SELECT vec_id AS query_id, ve FROM v
               WHERE vec_id IN (0, 1, 2, 3, 4)),
         approx AS (SELECT query_id, vec_id FROM (
             SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(v.ve, q.ve), 4) DESC,
                          v.vec_id) AS rn
             FROM v
             JOIN assign a ON a.vec_id = v.vec_id
             JOIN probes p ON p.cid = a.cell
             JOIN q ON q.query_id = p.query_id) WHERE rn <= 10),
         exact AS (SELECT query_id, vec_id FROM (
             SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(v.ve, q.ve), 4) DESC,
                          v.vec_id) AS rn
             FROM v CROSS JOIN q) WHERE rn <= 10)
         SELECT e.query_id, count(*) AS n_exact,
           round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
         FROM exact e
         LEFT JOIN approx a
           ON a.query_id = e.query_id AND a.vec_id = e.vec_id
         GROUP BY 1 ORDER BY 1""",
    // identical semantics to q_ann_ivf — the Spark side differs only
    // in serving the probe from the written partition-pruned index
    "q_ann_ivf_indexed" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes)
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // erasure replay: the probe over the REMAINING vectors — frozen
    // centroids mean removing a row cannot move any other row, so
    // tombstoned serving must equal the rebuild-on-remaining exactly
    "q_ann_ivf_deleted" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes) AND e.vec_id % 7 <> 3
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // the retention index's batch inventory: every count re-derived
    // from its id split — folded build, kept w2, retained tombstones
    "q_ann_ivf_history" ->
      """SELECT 'batch' AS kind, 'build' AS batch_id, count(*) AS n_rows
         FROM embeddings WHERE vec_id % 8 <> 6 AND vec_id % 7 <> 3
         UNION ALL
         SELECT 'batch' AS kind, 'w2' AS batch_id, count(*) AS n_rows
         FROM embeddings WHERE vec_id % 8 = 6
         UNION ALL
         SELECT 'tombstones' AS kind, 'retained' AS batch_id,
           count(*) AS n_rows
         FROM embeddings WHERE vec_id % 8 = 6 AND vec_id % 7 = 3
         ORDER BY kind, batch_id""",
    // retention as-of("build"): the folded window's live rows serve
    // from the base — everything except the KEPT w2 batch (≡6 mod 8),
    // minus the physically-applied erasure (≡3 mod 7)
    "q_ann_ivf_retention_asof" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes)
           AND e.vec_id % 8 <> 6 AND e.vec_id % 7 <> 3
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // the incremental index shares the FULL-REBUILD replay verbatim:
    // append ≡ rebuild is the operator's exactness claim, so the
    // oracle for the appended index IS the oracle for the rebuilt one
    "q_ann_ivf_incremental" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes)
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // the stream-built IVF index shares the full-rebuild replay:
    // stream-built ≡ rebuild is the sink's exactness claim
    "q_ann_ivf_streamed" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes)
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // snapshot replay: the probe over the PREFIX's vectors only —
    // batches 0 and 1 of the 3-batch ingest (vec_id % 3 <> 2); the
    // as-of read of the stream-built index must reproduce the
    // pre-batch-2 index exactly
    "q_ann_ivf_asof" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes) AND e.vec_id % 3 <> 2
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // named-batch snapshot of the BATCH-maintained index: the probe
    // over the base build's vectors only (the "inc1" append holds
    // ids ≡ 3 mod 8) — as-of-by-name ≡ rebuild-at-that-history
    "q_ann_ivf_asof_batch" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
         FROM embeddings e
         JOIN assign a ON a.vec_id = e.vec_id
         WHERE a.cell IN (SELECT cid FROM probes) AND e.vec_id % 8 <> 3
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // 2^44 fixed-point per-component sums (floor of an exact IEEE
    // product), cosine of the integer sum vectors in dim order
    "q_embedding_drift" ->
      """WITH c AS (SELECT label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                 * 17592186044416.0) AS BIGINT) AS xi
             FROM embeddings),
         lb AS (SELECT label, dim, sum(xi) AS s, count(*) AS nv
                FROM c GROUP BY 1, 2),
         lv AS (SELECT label, max(nv) AS n_vecs,
                  list(CAST(s AS DOUBLE) ORDER BY dim) AS lvv
                FROM lb GROUP BY 1),
         gv AS (SELECT list(CAST(g AS DOUBLE) ORDER BY dim) AS gvv
                FROM (SELECT dim, sum(s) AS g FROM lb GROUP BY 1))
         SELECT label, n_vecs,
           round(list_cosine_similarity(lvv, gvv), 4) AS drift_cos
         FROM lv CROSS JOIN gv ORDER BY label""",
    // per-vector cosine to the label's 2^44 fixed-point sum vector
    // (the q_embedding_drift machinery, scored per row)
    "q_embedding_outliers" ->
      """WITH c AS (SELECT label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                 * 17592186044416.0) AS BIGINT) AS xi
             FROM embeddings),
         lb AS (SELECT label, dim, sum(xi) AS s FROM c GROUP BY 1, 2),
         lv AS (SELECT label,
                  list(CAST(s AS DOUBLE) ORDER BY dim) AS lvv
                FROM lb GROUP BY 1)
         SELECT e.vec_id, e.label,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             lv.lvv), 4) AS centroid_cos,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             lv.lvv), 4) < 0.5 AS outlier
         FROM embeddings e JOIN lv ON e.label = lv.label
         ORDER BY e.vec_id""",
    // indexed SemDeDup replay: same assignment as the q_ann_ivf family
    // (seed centroids = vec_id < 16), no planted copies — the result
    // must match dedup over the written cell-partitioned index
    "q_semdedup_indexed" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
               WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> x * x)) > 0),
         sc AS (SELECT u.vec_id, c.cid,
                  round(list_cosine_similarity(u.ve, c.ce), 4) AS s
                FROM u CROSS JOIN c),
         assign AS (SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1),
         av AS (SELECT a.vec_id, a.cell, u.ve
                FROM assign a JOIN u ON u.vec_id = a.vec_id),
         dropped AS (SELECT DISTINCT r.vec_id
                     FROM av l JOIN av r
                       ON l.cell = r.cell AND l.vec_id < r.vec_id
                     WHERE round(list_cosine_similarity(l.ve, r.ve), 4) >= 0.999)
         SELECT av.vec_id, av.cell FROM av
         WHERE av.vec_id NOT IN (SELECT vec_id FROM dropped)
         ORDER BY av.vec_id""",
    // SemDeDup replay: seed centroids = vec_id < 16, union the planted
    // copies, assign via (cos desc, cid) argmax, drop the higher id of
    // any within-cell pair at round(cos,4) >= 0.999
    "q_semdedup" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         u0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
                FROM embeddings WHERE vec_id % 10 = 0),
         u AS (SELECT vec_id, ve FROM u0
               WHERE list_sum(list_transform(ve, x -> x * x)) > 0),
         sc AS (SELECT u.vec_id, c.cid,
                  round(list_cosine_similarity(u.ve, c.ce), 4) AS s
                FROM u CROSS JOIN c),
         assign AS (SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1),
         av AS (SELECT a.vec_id, a.cell, u.ve
                FROM assign a JOIN u ON u.vec_id = a.vec_id),
         dropped AS (SELECT DISTINCT r.vec_id
                     FROM av l JOIN av r
                       ON l.cell = r.cell AND l.vec_id < r.vec_id
                     WHERE round(list_cosine_similarity(l.ve, r.ve), 4) >= 0.999)
         SELECT av.vec_id, av.cell FROM av
         WHERE av.vec_id NOT IN (SELECT vec_id FROM dropped)
         ORDER BY av.vec_id""",
    // int8 quantization: scale/round are pure IEEE (no libm), so both
    // engines produce identical entries; the emitted reductions are
    // exact integer folds over them
    "q_embed_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings),
         s AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM s)
         SELECT vec_id, round(scale, 9) AS scale,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           list_max(qv) AS q_max, list_min(qv) AS q_min,
           CAST(len(list_filter(qv, x -> x != 0)) AS BIGINT) AS n_nonzero
         FROM q ORDER BY vec_id""",
    "q_knn_quantized" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings),
         s AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM s),
         qq AS (SELECT scale AS q_scale, qv AS q_qv FROM q WHERE vec_id = 0),
         sc AS (SELECT q.vec_id,
             round(q.scale * qq.q_scale *
               CAST(list_sum([q.qv[i] * qq.q_qv[i]
                              for i in range(1, len(q.qv) + 1)]) AS BIGINT),
               6) AS q_sim
           FROM q CROSS JOIN qq)
         SELECT vec_id, q_sim FROM sc
         ORDER BY q_sim DESC, vec_id LIMIT 10""",
    // quantized IVF: cells assigned on ORIGINAL floats (as q_ann_ivf),
    // probes from the query's float cell scores, scoring over the
    // quantized entries (as q_knn_quantized)
    "q_knn_quantized_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0
                    ORDER BY s DESC, cid LIMIT 2),
         sq AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM sq),
         qq AS (SELECT scale AS q_scale, qv AS q_qv FROM q WHERE vec_id = 0)
         SELECT q.vec_id,
           round(q.scale * qq.q_scale *
             CAST(list_sum([q.qv[i] * qq.q_qv[i]
                            for i in range(1, len(q.qv) + 1)]) AS BIGINT),
             6) AS q_sim
         FROM q JOIN assign a ON a.vec_id = q.vec_id CROSS JOIN qq
         WHERE a.cell IN (SELECT cid FROM probes)
         ORDER BY q_sim DESC, q.vec_id LIMIT 10""",
    // batched float serving: each of the 5 queries' pruned rankings
    // replayed per query — batched ≡ 5 single serves is the gate
    "q_knn_ivf_multi" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rn <= 2),
         q AS (SELECT vec_id AS query_id, ve AS qe FROM v
               WHERE vec_id IN (0, 1, 2, 3, 4))
         SELECT query_id, vec_id, cos_sim FROM (
           SELECT p.query_id, v.vec_id,
             round(list_cosine_similarity(v.ve, q.qe), 4) AS cos_sim,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                        v.vec_id) AS rn
           FROM v JOIN assign a ON a.vec_id = v.vec_id
           JOIN probes p ON p.cell = a.cell
           JOIN q ON q.query_id = p.query_id) WHERE rn <= 10
         ORDER BY query_id, cos_sim DESC, vec_id""",
    // batched int8 serving: the quantization replay + per-query
    // integer dots, ranked per query — batched ≡ singles
    "q_knn_quantized_multi" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rn <= 2),
         sq AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM sq),
         qq AS (SELECT vec_id AS query_id, scale AS q_scale, qv AS q_qv
                FROM q WHERE vec_id IN (0, 1, 2, 3, 4))
         SELECT query_id, vec_id, q_sim FROM (
           SELECT p.query_id, q2.vec_id,
             round(q2.scale * qq.q_scale *
               CAST(list_sum([q2.qv[i] * qq.q_qv[i]
                              for i in range(1, len(q2.qv) + 1)]) AS BIGINT),
               6) AS q_sim,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY round(q2.scale * qq.q_scale *
                 CAST(list_sum([q2.qv[i] * qq.q_qv[i]
                                for i in range(1, len(q2.qv) + 1)]) AS BIGINT),
                 6) DESC, q2.vec_id) AS rn
           FROM q q2 JOIN assign a ON a.vec_id = q2.vec_id
           JOIN probes p ON p.cell = a.cell
           JOIN qq ON qq.query_id = p.query_id) WHERE rn <= 10
         ORDER BY query_id, q_sim DESC, vec_id""",
    // the int8 operating point: quantization replay + float routing
    // + the int8 ADC rankings for 5 queries at nProbe=2, against the
    // exact float baseline — all corpus-derived, so fully static
    "q_int8_recall" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         qv AS (SELECT vec_id AS query_id, ve AS qe FROM v
                WHERE vec_id IN (0, 1, 2, 3, 4)),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         pr AS (SELECT vec_id AS query_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rn <= 2),
         sq AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         qz AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qvec
           FROM sq),
         approx AS (SELECT query_id, vec_id FROM (
             SELECT p.query_id, e.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(e.scale * qu.scale *
                   CAST(list_sum([e.qvec[i] * qu.qvec[i]
                                  for i in range(1, len(e.qvec) + 1)]) AS BIGINT),
                   6) DESC, e.vec_id) AS rnk
             FROM qz e JOIN assign a ON a.vec_id = e.vec_id
                       JOIN pr p ON p.cell = a.cell
                       JOIN qz qu ON qu.vec_id = p.query_id)
           WHERE rnk <= 10),
         exact AS (SELECT query_id, vec_id FROM (
             SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(v.ve, q.qe), 4) DESC,
                          v.vec_id) AS rn
             FROM v CROSS JOIN qv q) WHERE rn <= 10)
         SELECT e.query_id, count(*) AS n_exact,
           round(count(a.vec_id) * 1.0 / count(*), 4) AS recall
         FROM exact e
         LEFT JOIN approx a
           ON a.query_id = e.query_id AND a.vec_id = e.vec_id
         GROUP BY 1 ORDER BY 1""",
    // erasure replay for the int8 store: the quantized ranking on
    // the REMAINING vectors (frozen centroids + per-row quantization
    // mean removing a row cannot change any other entry)
    "q_knn_quantized_ivf_deleted" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0
                    ORDER BY s DESC, cid LIMIT 2),
         sq AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM sq),
         qq AS (SELECT scale AS q_scale, qv AS q_qv FROM q WHERE vec_id = 0)
         SELECT q.vec_id,
           round(q.scale * qq.q_scale *
             CAST(list_sum([q.qv[i] * qq.q_qv[i]
                            for i in range(1, len(q.qv) + 1)]) AS BIGINT),
             6) AS q_sim
         FROM q JOIN assign a ON a.vec_id = q.vec_id CROSS JOIN qq
         WHERE a.cell IN (SELECT cid FROM probes) AND q.vec_id % 7 <> 3
         ORDER BY q_sim DESC, q.vec_id LIMIT 10""",
    // the incrementally-assembled compressed index shares the
    // full-rebuild replay: append ≡ rebuild is the operator's claim
    "q_knn_quantized_ivf_incremental" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0
                    ORDER BY s DESC, cid LIMIT 2),
         sq AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM sq),
         qq AS (SELECT scale AS q_scale, qv AS q_qv FROM q WHERE vec_id = 0)
         SELECT q.vec_id,
           round(q.scale * qq.q_scale *
             CAST(list_sum([q.qv[i] * qq.q_qv[i]
                            for i in range(1, len(q.qv) + 1)]) AS BIGINT),
             6) AS q_sim
         FROM q JOIN assign a ON a.vec_id = q.vec_id CROSS JOIN qq
         WHERE a.cell IN (SELECT cid FROM probes)
         ORDER BY q_sim DESC, q.vec_id LIMIT 10""",
    // named-batch snapshot of the compressed batch-maintained index:
    // the int8 ranking over the base build only (the "inc1" append
    // holds ids ≡ 6 mod 8) — as-of-by-name ≡ rebuild-at-that-history
    "q_knn_quantized_ivf_asof" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                    FROM embeddings WHERE vec_id < 16),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         sc AS (SELECT v.vec_id, c.cid,
                  round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                FROM v CROSS JOIN c),
         assign AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
             FROM sc) WHERE rn = 1),
         probes AS (SELECT cid FROM sc WHERE vec_id = 0
                    ORDER BY s DESC, cid LIMIT 2),
         sq AS (SELECT vec_id, ve,
             coalesce(list_max(list_transform(ve, x -> abs(x))), 0.0) / 127.0
               AS scale
           FROM v),
         q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(ve, x -> 0)
                  ELSE list_transform(ve, x -> CAST(round(x / scale)
                                               AS INTEGER)) END AS qv
           FROM sq),
         qq AS (SELECT scale AS q_scale, qv AS q_qv FROM q WHERE vec_id = 0)
         SELECT q.vec_id,
           round(q.scale * qq.q_scale *
             CAST(list_sum([q.qv[i] * qq.q_qv[i]
                            for i in range(1, len(q.qv) + 1)]) AS BIGINT),
             6) AS q_sim
         FROM q JOIN assign a ON a.vec_id = q.vec_id CROSS JOIN qq
         WHERE a.cell IN (SELECT cid FROM probes) AND q.vec_id % 8 <> 6
         ORDER BY q_sim DESC, q.vec_id LIMIT 10""",
  )

  /** Build-once-serve-many IVF index for a corpus dir, shared by the
    * ANN probe and indexed SemDeDup. The directory key is a
    * collision-resistant digest of the FULL source path (a 32-bit
    * hashCode collision would silently serve the wrong corpus's
    * index) + the pid, so concurrent JVMs sharing a tmpdir never race
    * one JVM's overwrite against another's probe; the build output is
    * deterministic for a given source dir.
    */
  protected def builtIvfIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf", d) { p =>
      VectorStore.write(VectorCodec.Float,
        Tables.embeddings(s, d), seedCents16(s, d), p)
    }

  /** Build-once RECLUSTERED index: the seed-built index's live
    * entries re-assigned against the Lloyd-refined centroids into a
    * fresh directory ([[graft.similarity.VectorStore.recluster]]).
    */
  protected def builtIvfReclusteredIndex(s: SparkSession, d: String): String = {
    // resolve the source index and centroids BEFORE entering the
    // build-once mapping function: builtIvfIndex uses the SAME
    // ConcurrentHashMap, and a nested computeIfAbsent on one map is
    // outside the CHM contract (bin-collision deadlock / recursive-
    // update throw)
    val src = builtIvfIndex(s, d)
    val cents = kmeansCentroids(s, d)
    builtIndexDir("graft_ivf_rc", d) { p =>
      VectorStore.recluster(VectorCodec.Float, s, src, cents, p)
    }
  }

  /** Build-once INCREMENTALLY-assembled IVF index: the seven-eighths
    * base written, then the ids ≡ 3 mod 8 batch APPENDED against the
    * same frozen centroids. Probing it must equal probing a full
    * rebuild — q_ann_ivf_incremental shares q_ann_ivf_indexed's
    * full-corpus oracle SQL, so a divergence between append and
    * rebuild fails the hash gate itself.
    */
  protected def builtIvfIncIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf_inc", d) { p =>
      val emb = Tables.embeddings(s, d)
      VectorStore.write(VectorCodec.Float,
        emb.filter(col("vec_id") % 8 =!= 3), seedCents16(s, d), p)
      VectorStore.append(VectorCodec.Float,
        emb.filter(col("vec_id") % 8 === 3), seedCents16(s, d), p, "inc1")
      // the batch-keyed append is retry-idempotent BY LAYOUT: a
      // replay of the same key dynamic-overwrites its own
      // (cell, batch_id) partitions — q_ann_ivf_incremental's shared
      // full-rebuild oracle hashes the post-retry index, so a
      // double-insert would fail the gate itself
      VectorStore.append(VectorCodec.Float,
        emb.filter(col("vec_id") % 8 === 3), seedCents16(s, d), p, "inc1")
    }

  /** Build-once RETENTION-compacted IVF index: base (ids ∉ {1,6}
    * mod 8) + append "w1" (≡1) + append "w2" (≡6) + erasure (≡3
    * mod 7), then `compactIvfIndexKeeping(keep = Seq("w2"))` — the
    * w1 window folds into the base with tombstones applied
    * physically, w2 stays addressable. q_ann_ivf_retention shares
    * the erasure replay (serving is invariant under retention);
    * q_ann_ivf_retention_asof gates the fold.
    */
  protected def builtIvfRetentionIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf_ret", d) { p =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCents16(s, d)
      VectorStore.write(VectorCodec.Float,
        emb.filter(col("vec_id") % 8 =!= 1 && col("vec_id") % 8 =!= 6),
        cents, p)
      VectorStore.append(VectorCodec.Float,
        emb.filter(col("vec_id") % 8 === 1), cents, p, "w1")
      VectorStore.append(VectorCodec.Float,
        emb.filter(col("vec_id") % 8 === 6), cents, p, "w2")
      Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), p, "d1")
      Similarity.compactIvfIndexKeeping(s, p, Seq("w2"))
    }

  /** The compressed (int8) twin of [[builtIvfIndex]]: same build-once
    * keying, cell-partitioned quantized entries.
    */
  protected def builtQuantizedIvfIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_qivf", d) { p =>
      VectorStore.write(VectorCodec.Int8, Tables.embeddings(s, d),
        seedCents16(s, d), p)
    }

  /** Build-once RECLUSTERED compressed index: the int8 twin of
    * [[builtIvfReclusteredIndex]] — live entries re-quantized FROM
    * THE SOURCE TABLE (the compressed store carries no embeddings)
    * and re-assigned against the Lloyd-refined centroids into a
    * fresh directory.
    */
  protected def builtQivfReclusteredIndex(s: SparkSession, d: String): String = {
    val src = builtQuantizedIvfIndex(s, d)
    val cents = kmeansCentroids(s, d)
    builtIndexDir("graft_qivf_rc", d) { p =>
      VectorStore.recluster(VectorCodec.Int8,
        s, src, cents, p, Some(Tables.embeddings(s, d)))
    }
  }

  /** Build-once STREAM-BUILT compressed IVF index — the int8 twin of
    * [[builtIvfStreamedIndex]]: three checkpointed MemoryStream
    * micro-batches through the real vectorIndexSink against
    * frozen centroids; q_knn_quantized_ivf_streamed shares the
    * full-rebuild oracle.
    */
  protected def builtQivfStreamedIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_qivf_str", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = Tables.embeddings(s, d)
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("vec_id").join(emb, "vec_id")
      val q = graft.streaming.Pipelines.vectorIndexSink(
        src, VectorCodec.Int8, seedCents16(s, d), p + "/idx", p + "/ckpt")
      try {
        val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
        (0L until 3L).foreach { b =>
          mem.addData(ids.filter(_ % 3 == b).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** Incrementally-assembled compressed IVF index — the int8 twin of
    * [[builtIvfIncIndex]]: seven-eighths base write + the ids ≡ 6
    * mod 8 batch appended against the same frozen centroids;
    * q_knn_quantized_ivf_incremental shares the full-rebuild oracle.
    */
  protected def builtQuantIvfIncIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_qivf_inc", d) { p =>
      val emb = Tables.embeddings(s, d)
      VectorStore.write(VectorCodec.Int8,
        emb.filter(col("vec_id") % 8 =!= 6), seedCents16(s, d), p)
      VectorStore.append(VectorCodec.Int8,
        emb.filter(col("vec_id") % 8 === 6), seedCents16(s, d), p, "inc1")
      // retry replay — same key, own partitions overwritten, no
      // double-insert (gated by the shared full-rebuild oracle)
      VectorStore.append(VectorCodec.Int8,
        emb.filter(col("vec_id") % 8 === 6), seedCents16(s, d), p, "inc1")
    }

  /** Build-once SERVED CATALOG of the hot-tier streaming serve sink
    * (round-16 verdict #3): two checkpointed micro-batches of query
    * rows ({0,1,2} then {3,4}, id-joined to their embeddings) through
    * the real [[graft.streaming.Pipelines.vectorServingSink]]
    * against the build-once int8 index — the accumulated
    * batch-stamped output table q_knn_served_catalog reads.
    */
  protected def builtQuantServedCatalog(s: SparkSession, d: String): String = {
    val idx = builtQuantizedIvfIndex(s, d)
    builtIndexDir("graft_qserve", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = Tables.embeddings(s, d)
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("query_id")
        .join(emb, col("query_id") === col("vec_id"))
        .select(col("query_id"), col("embedding"))
      val q = graft.streaming.Pipelines.vectorServingSink(
        src, VectorCodec.Int8, seedCents16(s, d), idx, p + "/out", p + "/ckpt")
      try {
        mem.addData(Seq(0L, 1L, 2L))
        q.processAllAvailable()
        mem.addData(Seq(3L, 4L))
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  /** Build-once IVF index with the ids ≡ 3 mod 7 batch tombstoned. */
  protected def builtIvfDelIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf_del", d) { p =>
      VectorStore.write(VectorCodec.Float,
        Tables.embeddings(s, d), seedCents16(s, d), p)
      Similarity.deleteFromIvfIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
          .select(col("vec_id")), p, batchKey = "del1")
    }

  /** The float-IVF twin of [[builtBm25StrDelIndex]]: full index, the
    * ids ≡ 3 mod 7 batch tombstoned through two checkpointed
    * [[graft.streaming.Pipelines.ivfDeleteSink]] micro-batches.
    */
  protected def builtIvfStrDelIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf_sdel", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = Tables.embeddings(s, d)
      VectorStore.write(VectorCodec.Float, emb, seedCents16(s, d), p + "/idx")
      val mem = MemoryStream[Long]
      val q = graft.streaming.Pipelines.ivfDeleteSink(
        mem.toDS().toDF("vec_id"), p + "/idx", p + "/ckpt")
      try {
        val ids = emb.filter(col("vec_id") % 7 === 3)
          .select("vec_id").collect().map(_.getLong(0)).sorted
        Seq(3L, 10L).foreach { m =>
          mem.addData(ids.filter(_ % 14 == m).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** [[builtIvfDelIndex]] then COMPACTED — the float cells rewritten
    * without the tombstoned rows, tombstones dropped.
    */
  protected def builtIvfCmpIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf_cmp", d) { p =>
      VectorStore.write(VectorCodec.Float,
        Tables.embeddings(s, d), seedCents16(s, d), p)
      Similarity.deleteFromIvfIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
          .select(col("vec_id")), p, batchKey = "del1")
      Similarity.compactIvfIndex(s, p)
    }

  /** The compressed twin of [[builtIvfDelIndex]] — same tombstone
    * batch over the int8 store (the reader is layout-agnostic).
    */
  protected def builtQivfDelIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_qivf_del", d) { p =>
      VectorStore.write(VectorCodec.Int8, Tables.embeddings(s, d),
        seedCents16(s, d), p)
      Similarity.deleteFromIvfIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
          .select(col("vec_id")), p, batchKey = "del1")
    }

  /** [[builtQivfDelIndex]] then COMPACTED — the int8 cells rewritten
    * without the tombstoned rows, tombstones dropped.
    */
  protected def builtQivfCmpIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_qivf_cmp", d) { p =>
      VectorStore.write(VectorCodec.Int8, Tables.embeddings(s, d),
        seedCents16(s, d), p)
      Similarity.deleteFromIvfIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
          .select(col("vec_id")), p, batchKey = "del1")
      Similarity.compactIvfIndex(s, p)
    }

  /** Build-once STREAM-BUILT IVF index per corpus — the ANN twin of
    * [[builtBm25StreamedIndex]]: three MemoryStream batches through
    * [[graft.streaming.Pipelines.vectorIndexSink]] against the frozen
    * seed centroids; q_ann_ivf_streamed shares the full-rebuild
    * oracle.
    */
  protected def builtIvfStreamedIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_ivf_str", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val emb = Tables.embeddings(s, d)
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("vec_id").join(emb, "vec_id")
      val q = graft.streaming.Pipelines.vectorIndexSink(
        src, VectorCodec.Float, seedCents16(s, d), p + "/idx", p + "/ckpt")
      try {
        val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
        (0L until 3L).foreach { b =>
          mem.addData(ids.filter(_ % 3 == b).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** Lloyd-refined centroids per corpus dir. The k-means build runs
    * ONCE (build-once probe-many, like the written index); the cached
    * value then feeds BOTH the Spark probe and the generated oracle
    * below, so the hash compare can never race the (float-sum-order-
    * sensitive) mean computation across runs.
    */
  protected val ivfKmeansCents =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  /** The corpus dir the generated oracles describe: the LAST dir a
    * generated-oracle query ran against. `oracleSql` takes no corpus
    * argument (driver contract), and the Verify main runs every query
    * against ONE dir before dumping SQL — keying the generators on
    * the most recent run (instead of `cache.values.headOption`) keeps
    * a JVM that served two corpus dirs from emitting oracle literals
    * for the wrong one (ADVICE r5).
    */

  protected def kmeansCentroids(s: SparkSession, d: String): Seq[Seq[Double]] = {
    lastOracleDir = d
    ivfKmeansCents.computeIfAbsent(d, _ =>
      Similarity.ivfBuild(Tables.embeddings(s, d), 16, 2))
  }

  /** The DRIFTED corpus for the recluster-recall measurement
    * (round-11 verdict #8): the corpus plus a shifted-distribution
    * batch — every ≡0 mod 5 vector re-ingested NEGATED under
    * vec_id + 2e6. Negation is exact in float, flips the cosine
    * cone, and is trivially replayable in SQL — a deterministic
    * stand-in for "this quarter's embeddings came from a new model
    * revision".
    */
  protected def driftedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    emb.unionByName(
      emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
  }

  /** Lloyd-refined centroids of the DRIFTED corpus — the refresh the
    * recall measurement justifies. Same cache + oracle-literal
    * lifecycle as [[kmeansCentroids]].
    */
  protected val ivfDriftedCents =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  protected def driftedCentroids(s: SparkSession, d: String): Seq[Seq[Double]] = {
    lastOracleDir = d
    ivfDriftedCents.computeIfAbsent(d, _ => {
      // 12 original-cone seeds + 4 seeds drawn from the drift batch
      // (the negations of vectors 0/5/10/15): cosine-assignment
      // Lloyd cannot move a centroid into a cone no seed points at,
      // so a refresh seeded only from the original distribution
      // never allocates cells to the drifted one — this is the
      // refresh POLICY the recall table justifies, and it replays
      // exactly (the oracle sees only the final centroid literals)
      val s16 = seedCents16(s, d)
      val seeds = s16.take(12) ++
        Seq(0, 5, 10, 15).map(i => s16(i).map(x => -x))
      Similarity.refineCentroids(driftedEmbeddings(s, d), seeds, 2)
    })
  }

  /** Oracle for q_ann_ivf_kmeans, generated AFTER the query ran (the
    * Verify main runs every query before dumping oracle SQL): the
    * refined centroids print as full-precision double literals —
    * shortest-round-trip Double.toString, which DuckDB parses back to
    * the identical IEEE value — and the SQL replays assignment +
    * probe exactly like the (static) q_ann_ivf oracle. None until
    * the query has run in this JVM → driver records rows-only.
    */
  protected def ivfKmeansOracle: Option[(String, String)] = {
    Option(lastOracleDir).flatMap(d => Option(ivfKmeansCents.get(d))).map { cents =>
      val values = cents.zipWithIndex
        .map { case (c, i) => s"($i, [${c.mkString(",")}]::DOUBLE[])" }
        .mkString(", ")
      "q_ann_ivf_kmeans" ->
        s"""WITH c AS (SELECT cid, ce FROM (VALUES $values) t(cid, ce)),
           v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           sc AS (SELECT v.vec_id, c.cid,
                    round(list_cosine_similarity(v.ve, c.ce), 4) AS s
                  FROM v CROSS JOIN c),
           assign AS (
             SELECT vec_id, cid AS cell FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM sc) WHERE rn = 1),
           probes AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 2)
           SELECT e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS cos_sim
           FROM embeddings e
           JOIN assign a ON a.vec_id = e.vec_id
           WHERE a.cell IN (SELECT cid FROM probes)
           ORDER BY cos_sim DESC, e.vec_id LIMIT 10"""
    }
  }

  /** Oracle for q_ann_ivf_recluster, generated after the kmeans
    * centroids exist (same lifecycle as [[ivfKmeansOracle]], whose
    * literal-printing it shares): BOTH assignments replay — seed
    * centroids from the vec_id<16 rows, refined centroids as
    * full-precision double literals — and the movement matrix is
    * their join. None until the centroids were built in this JVM.
    */
  protected def ivfReclusterOracle: Seq[(String, String)] = {
    Option(lastOracleDir).flatMap(d => Option(ivfKmeansCents.get(d))).toSeq.flatMap { cents =>
      val values = cents.zipWithIndex
        .map { case (c, i) => s"($i, [${c.mkString(",")}]::DOUBLE[])" }
        .mkString(", ")
      val sql =
        s"""WITH co AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                        FROM embeddings WHERE vec_id < 16),
           cn AS (SELECT cid, ce FROM (VALUES $values) t(cid, ce)),
           v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
           so AS (SELECT v.vec_id, co.cid,
                    round(list_cosine_similarity(v.ve, co.ce), 4) AS s
                  FROM v CROSS JOIN co),
           ao AS (SELECT vec_id, cid AS cell_old FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM so) WHERE rn = 1),
           sn AS (SELECT v.vec_id, cn.cid,
                    round(list_cosine_similarity(v.ve, cn.ce), 4) AS s
                  FROM v CROSS JOIN cn),
           an AS (SELECT vec_id, cid AS cell_new FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM sn) WHERE rn = 1)
           SELECT ao.cell_old, an.cell_new, count(*) AS n_vectors
           FROM ao JOIN an USING (vec_id)
           GROUP BY 1, 2 ORDER BY 1, 2"""
      // the int8 AND PQ refreshes share the replay VERBATIM: per-row
      // quantization/encoding is index-independent and every family
      // assigns cells from the true embeddings, so each compressed
      // index's movement matrix must be identical — one SQL, three
      // hash gates
      Seq("q_ann_ivf_recluster" -> sql,
        "q_knn_quantized_ivf_recluster" -> sql,
        "q_knn_pq_ivf_recluster" -> sql)
    }
  }

  /** Oracle for q_ann_ivf_recluster_recall (same generated lifecycle):
    * the drifted corpus rebuilds in SQL (negated ≡0 mod 5 re-ingests
    * under vec_id + 2e6), the refreshed centroids print as
    * full-precision double literals, and BOTH probe rankings replay
    * against the shared exact baseline — seed-centroid recall and
    * refreshed-centroid recall are each hash-gated numbers.
    */
  protected def ivfReclusterRecallOracle: Option[(String, String)] = {
    Option(lastOracleDir).flatMap(d => Option(ivfDriftedCents.get(d))).map { cents =>
      val values = cents.zipWithIndex
        .map { case (c, i) => s"($i, [${c.mkString(",")}]::DOUBLE[])" }
        .mkString(", ")
      "q_ann_ivf_recluster_recall" ->
        s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                          FROM embeddings),
           v AS (SELECT vec_id, ve FROM base
                 UNION ALL
                 SELECT vec_id + 2000000, list_transform(ve, x -> -x)
                 FROM base WHERE vec_id % 5 = 0),
           cb AS (SELECT vec_id AS cid, ve AS ce FROM base WHERE vec_id < 16),
           ca AS (SELECT cid, ce FROM (VALUES $values) t(cid, ce)),
           q AS (SELECT vec_id AS query_id, ve FROM v
                 WHERE vec_id IN (2000000, 2000010, 2000020, 2000030, 2000040)),
           scb AS (SELECT v.vec_id, cb.cid,
                     round(list_cosine_similarity(v.ve, cb.ce), 4) AS s
                   FROM v CROSS JOIN cb),
           sca AS (SELECT v.vec_id, ca.cid,
                     round(list_cosine_similarity(v.ve, ca.ce), 4) AS s
                   FROM v CROSS JOIN ca),
           assignb AS (SELECT vec_id, cid AS cell FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM scb) WHERE rn = 1),
           assigna AS (SELECT vec_id, cid AS cell FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM sca) WHERE rn = 1),
           probesb AS (SELECT vec_id AS query_id, cid FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM scb WHERE vec_id IN (2000000, 2000010, 2000020, 2000030, 2000040))
             WHERE rn <= 2),
           probesa AS (SELECT vec_id AS query_id, cid FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
               FROM sca WHERE vec_id IN (2000000, 2000010, 2000020, 2000030, 2000040))
             WHERE rn <= 2),
           approxb AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.ve), 4) DESC,
                            v.vec_id) AS rn
               FROM v
               JOIN assignb a ON a.vec_id = v.vec_id
               JOIN probesb p ON p.cid = a.cell
               JOIN q ON q.query_id = p.query_id) WHERE rn <= 10),
           approxa AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.ve), 4) DESC,
                            v.vec_id) AS rn
               FROM v
               JOIN assigna a ON a.vec_id = v.vec_id
               JOIN probesa p ON p.cid = a.cell
               JOIN q ON q.query_id = p.query_id) WHERE rn <= 10),
           exact AS (SELECT query_id, vec_id FROM (
               SELECT q.query_id, v.vec_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(v.ve, q.ve), 4) DESC,
                            v.vec_id) AS rn
               FROM v CROSS JOIN q) WHERE rn <= 10)
           SELECT e.query_id, count(*) AS n_exact,
             round(count(ab.vec_id) * 1.0 / count(*), 4) AS recall_before,
             round(count(aa.vec_id) * 1.0 / count(*), 4) AS recall_after
           FROM exact e
           LEFT JOIN approxb ab
             ON ab.query_id = e.query_id AND ab.vec_id = e.vec_id
           LEFT JOIN approxa aa
             ON aa.query_id = e.query_id AND aa.vec_id = e.vec_id
           GROUP BY 1 ORDER BY 1"""
    }
  }
}
