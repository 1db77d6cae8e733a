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

/** Sampling, mixtures, shards, and the curation capstones — one module of the per-family SparkEntry split (round 14):
  * this family's `queries` entries and their static oracle SQL, plus
  * (after the helper migration) the builders and generated oracles
  * only this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait CurationEntries extends TextEntries with GraphEntries {

  protected def curationQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Training-data prep: narrow hash sample per language (no shuffle)
    "q_sample_hash" -> ((s, d) =>
      SampleOps.hashSample(Tables.documents(s, d), "doc_id", 0.2)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))),
    // Training-data prep: exact stratified sample by language
    "q_sample_stratified" -> ((s, d) =>
      SampleOps.stratifiedSample(Tables.documents(s, d), "lang", "doc_id", 0.1)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // Training-data prep: deterministic 80/10/10 train/val/test split
    "q_hash_split" -> ((s, d) =>
      SampleOps.hashSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"))),
    // Training-data prep: token-budget sequence packing (block stats)
    "q_pack_sequences" -> ((s, d) =>
      graft.textanalysis.TextAnalysis.packSequences(
        Tables.documents(s, d), "doc_id",
        graft.textanalysis.TextAnalysis.tokenCount(col("text")),
        budget = 512, nShards = 8)
        .groupBy(col("shard"), col("block"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("shard"), col("block"))),
    // Packing-efficiency rollup: per-shard block fill ratio — the
    // wasted-accelerator-time readout of the packing strategy
    "q_packing_efficiency" -> ((s, d) =>
      graft.textanalysis.TextAnalysis.packingEfficiency(
        Tables.documents(s, d), "doc_id",
        graft.textanalysis.TextAnalysis.tokenCount(col("text")),
        budget = 512, nShards = 8)),
    // Corpus mixing: exact per-source document quotas in md5 order
    "q_corpus_mix" -> ((s, d) =>
      SampleOps.quotaMix(Tables.documents(s, d), "source", "doc_id",
        Seq("src0" -> 15L, "src1" -> 10L, "src2" -> 5L))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))),
    // Quality-proportional deterministic sampling: keep probability
    // scales with document length (narrow md5 filter, zero shuffle)
    "q_sample_weighted" -> ((s, d) =>
      SampleOps.weightedSample(Tables.documents(s, d), "doc_id",
        col("n_chars") / lit(1000.0))
        .select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))),
    // The capstone composition: repetition gate → decontamination →
    // LM-quality gate → exact dedup, one call over the raw corpus
    "q_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.curation.Curation.curate(
        docs.filter(col("doc_id") % 101 =!= 7),
        docs.filter(col("doc_id") % 101 === 7))
        .orderBy(col("doc_id")) // presentation sort at the query edge
    }),
    // The graph-composed capstone: the SAME curate() output further
    // gated by a PageRank prior over a deterministic hub-link graph
    // on the corpus ids (the q_pagerank shape transplanted to
    // documents) — bottom-decile-rank docs drop. Reuses pageRank and
    // curate() unchanged; the (round(rank,10), node) cut edge is the
    // oracle-pinned 10-decimal boundary, so the gate is exact
    // cross-engine.
    // Curation × selection composition: the curated survivors become
    // the DSIR pool — quality gates first, then importance-resample
    // 50 target-like docs from what passed (both stages unchanged)
    "q_curation_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 101 =!= 7)
      val curated = graft.curation.Curation.curate(corpus,
        docs.filter(col("doc_id") % 101 === 7))
      val kept = corpus.join(curated.select("doc_id"), Seq("doc_id"),
        "left_semi")
      graft.selection.Dsir.dsirSelect(kept, dsirModelFor(s, d), 50)
        .orderBy(col("doc_id"))
    }),
    // Curation × learned-classifier composition: the curated
    // survivors further gated by the NB quality classifier (MAP
    // rule), carrying the decision score — quality RULES first, the
    // LEARNED gate second, both stages unchanged
    "q_curation_classified" -> ((s, d) => sharedCorpus(s, d) {
      (corpus, bench) =>
      // model train (one bounded aggregation) overlaps the capstone
      // scan on a second thread — the q_curation_ranked shape
      val modelF = concurrentBranch { nbModelFor(s, d) }
      val curated = graft.curation.Curation.curate(corpus, bench)
      val m = scala.concurrent.Await.result(modelF,
        scala.concurrent.duration.Duration.Inf)
      val kept = corpus.join(curated.select("doc_id"), Seq("doc_id"),
        "left_semi")
      val scored = graft.quality.NbClassifier.nbScore(kept, m)
        .filter(col("keep"))
        .select(col("doc_id"), col("nb_score"))
      curated.join(scored, Seq("doc_id")).orderBy(col("doc_id"))
    }),
    "q_curation_ranked" -> ((s, d) => sharedCorpus(s, d) {
      (corpus, bench) =>
      val e = corpus.select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 4).as("dst"))
        .unionByName(corpus.select(
          (col("doc_id") - col("doc_id") % 4).as("src"),
          (col("doc_id") - col("doc_id") % 16).as("dst")))
      // the rank prior and the capstone gates are INDEPENDENT until
      // the final anti-join, so the PageRank materialization (eager —
      // the fast path localCheckpoints inside the call) runs on a
      // second thread while curate() materializes its token artifact:
      // concurrent job submission on one session is the supported
      // Spark shape for independent DAG branches, and at cluster
      // scale it keeps both branches' stages in flight instead of
      // serializing two scans of the same corpus (~0.6 s at bench
      // scale, tools.ProfileRanked)
      val rankF = concurrentBranch {
        graft.graph.PageRank.pageRank(e, "src", "dst")
      }
      val curated = graft.curation.Curation.curate(corpus, bench)
      val ranks = scala.concurrent.Await.result(rankF,
        scala.concurrent.duration.Duration.Inf)
      graft.curation.Curation.dropBottomRanked(curated, ranks, "doc_id")
        .orderBy(col("doc_id"))
    }),
    // Curation × k-core composition: curated survivors that the link
    // graph reaches only through leaf chains (in-graph, outside the
    // 2-core) drop — the graph-prior analog of dropBottomRanked. The
    // doc link graph plants a triangle per 8-group, a 2-hop pendant
    // chain (ids ≡ 3,4 mod 8 — these peel in a 2-round cascade), and
    // 64-group star heads; the recorded round count generates an
    // exact per-round DuckDB replay (the q_kcore lifecycle)
    "q_curation_kcore" -> ((s, d) => {
      lastOracleDir = d
      sharedCorpus(s, d) { (corpus, bench) =>
        val e = docKcoreEdges(corpus)
        // peel and capstone are independent until the final anti-join —
        // overlap them (the q_curation_ranked shape)
        val coreF = concurrentBranch {
          graft.graph.KCore.kCore(e, "s", "t", 2)
        }
        val curated = graft.curation.Curation.curate(corpus, bench)
        val core = scala.concurrent.Await.result(coreF,
          scala.concurrent.duration.Duration.Inf)
        curationKcoreRounds.put(d, Integer.valueOf(core.rounds))
        graft.curation.Curation.dropOutsideCore(curated, e, "s", "t",
            "doc_id", core)
          .orderBy(col("doc_id"))
      }
    }),
    // Diversity cap composition: within each LPA community of the
    // doc link graph, keep the 2 lowest-id curation survivors —
    // template clusters collapse to bounded exemplars; graph-absent
    // docs untouched. LPA runs its in-task fast path concurrently
    // with the capstone (the q_curation_kcore overlap shape); the
    // fixed 4-round recurrence makes the oracle fully static
    "q_curation_communities" -> ((s, d) => sharedCorpus(s, d) {
      (corpus, bench) =>
      val e = docKcoreEdges(corpus)
      val labelsF = concurrentBranch {
        graft.graph.Communities.labelPropagation(e, "s", "t", rounds = 4)
      }
      val curated = graft.curation.Curation.curate(corpus, bench)
      val labels = scala.concurrent.Await.result(labelsF,
        scala.concurrent.duration.Duration.Inf)
      graft.curation.Curation.capPerCommunity(curated, labels, "doc_id", 2)
        .orderBy(col("doc_id"))
    }),
    // The dataset-card readout: per-source gate rejections, pass
    // count, and post-dedup kept count — |sources| rows from the same
    // two corpus scans as the capstone
    "q_curation_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.curation.Curation.curationReport(
        docs.filter(col("doc_id") % 101 =!= 7)
          .select(col("doc_id"), col("source"), col("text")),
        docs.filter(col("doc_id") % 101 === 7))
        .orderBy(col("source"))
    }),
    // The STREAMING curation sink's operational readout: the corpus
    // replays as three MemoryStream batches through the real
    // checkpointed sink (build-once), and the per-batch gate
    // telemetry table it persists is the result — each row the
    // (docs_in, dropped per gate, kept) readout of one micro-batch
    "q_curation_telemetry" -> ((s, d) =>
      s.read.parquet(builtCurationTelemetry(s, d) + "/tele")
        .select(col("batch_id").cast("long").as("batch_id"),
          col("docs_in"), col("dropped_repetitive"),
          col("dropped_contaminated"), col("dropped_unusual"), col("kept"))
        .orderBy(col("batch_id"))),
    // Fixed document budget: exactly-40 corpus cut in md5 order
    "q_sample_budget" -> ((s, d) =>
      SampleOps.takeExact(Tables.documents(s, d), "doc_id", 40)
        .select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))),
    // Exact-n per-stratum cut: exactly 30 docs per lang in
    // deterministic hash order — the count-denominated mixture form
    "q_sample_per_stratum" -> ((s, d) =>
      SampleOps.takeExactPerStratum(Tables.documents(s, d), "lang",
        "doc_id", 30)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // Token-budget mixture cut: every lang stratum keeps its
    // hash-order prefix while the running whitespace-token total
    // stays within 5000 — the token-denominated quota the doc-count
    // mixes approximate (stratified on lang, the skewed column)
    "q_mix_token_budget" -> ((s, d) =>
      SampleOps.tokenBudgetMix(Tables.documents(s, d), "lang", "doc_id",
        TextAnalysis.tokenCount(col("text")), 5000L)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // §2.5 windows: ntile quartiles + first/last_value extremes
    "q_balance_ranks" -> ((s, d) => SessionOps.customerBalanceRanks(Tables.customer(s, d))),
    // Deterministic global shuffle for training order: md5 shard
    // assignment + dense in-shard position
    "q_training_shards" -> ((s, d) =>
      SampleOps.trainingShards(
        Tables.documents(s, d).select("doc_id", "source"), "doc_id", 8)
        .orderBy(col("shard"), col("pos"))),
    // Temperature-based mixture design: per-language α=0.5 target
    // shares + downsample-only keep probabilities (lang is the
    // skewed stratum — en dominates, so en downsamples hardest)
    "q_mix_temperature" -> ((s, d) =>
      SampleOps.temperatureWeights(Tables.documents(s, d), "lang", 0.5)),
    // The mixture applied: deterministic md5-Bernoulli downsampling
    // at each language's temperature keep probability
    "q_mix_temperature_sample" -> ((s, d) =>
      SampleOps.temperatureSample(Tables.documents(s, d), "lang",
        "doc_id", 0.5)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
  )

  protected def curationStaticOracles: Map[String, String] = Map(
    "q_sample_hash" ->
      """SELECT lang, count(*) AS n_sampled FROM documents
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
         GROUP BY lang ORDER BY lang""",
    "q_sample_stratified" ->
      """WITH s AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT doc_id, lang FROM s WHERE rn <= ceil(0.1 * n)
         ORDER BY doc_id""",
    "q_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT shard, CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS block,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1, 2 ORDER BY shard, block""",
    "q_packing_efficiency" ->
      """WITH t AS (
           SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t),
         b AS (SELECT shard,
                 CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS block,
                 n_tokens
               FROM c)
         SELECT shard, count(*) AS docs,
           CAST(max(block) + 1 AS BIGINT) AS blocks,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           ((CAST(sum(n_tokens) AS BIGINT) * 20000 + (max(block) + 1) * 512)
            // (2 * (max(block) + 1) * 512)) / 10000.0 AS fill
         FROM b GROUP BY 1 ORDER BY shard""",
    "q_hash_split" ->
      """SELECT CASE
           WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
           WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
           ELSE 'test' END AS split,
         count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY split""",
    "q_sample_weighted" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           lpad(lower(to_hex(least(
             CAST(floor(least(greatest(n_chars / 1000.0, 0.0), 1.0)
                        * 4294967296.0) AS BIGINT),
             4294967295))), 8, '0')
         ORDER BY doc_id""",
    // capstone gates + doc-graph LPA (fixed 4 rounds -> fully static
    // replay) + the per-community cap: row_number over (community,
    // node) > 2 drops; graph-absent docs survive by construction
    "q_curation_communities" -> (curationGateCtes +
      s""", ke AS MATERIALIZED (
           SELECT doc_id AS s, doc_id + 1 AS t FROM corp0 WHERE doc_id % 8 <= 3
           UNION ALL
           SELECT doc_id, doc_id + 2 FROM corp0 WHERE doc_id % 8 = 0
           UNION ALL
           SELECT doc_id, doc_id - doc_id % 64 FROM corp0 WHERE doc_id % 8 = 0),
         kund AS MATERIALIZED (
           SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ke
           WHERE s IS NOT NULL AND t IS NOT NULL AND s <> t),
         ${lpaChainCtes(4, "kund")},
         capdrop AS (SELECT node FROM (
             SELECT node, row_number() OVER (PARTITION BY community
               ORDER BY node) AS rn FROM fin)
           WHERE rn > 2),
         gated AS (SELECT c.doc_id, c.source, c.text, lm.lm_nll
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id
           WHERE NOT rep.repetitive AND NOT con.contaminated
             AND NOT lm.lm_nll >= 10.0),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         SELECT g.doc_id, g.source, g.lm_nll FROM gated g
         JOIN keep k ON g.doc_id = k.doc_id
         WHERE NOT EXISTS (SELECT 1 FROM capdrop WHERE capdrop.node = g.doc_id)
         ORDER BY g.doc_id"""),
    // the curation capstone replays every gate CTE over the corpus
    // slice (benchmark = doc_id % 101 = 7 held out), then min-id
    // exact dedup on text — same sub-oracles as q_repetition /
    // q_decontaminate / q_lm_score, restricted to the corpus slice
    "q_curation_pipeline" -> (curationGateCtes +
      """, gated AS (SELECT c.doc_id, c.source, c.text, lm.lm_nll
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id
           WHERE NOT rep.repetitive AND NOT con.contaminated
             AND NOT lm.lm_nll >= 10.0),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         SELECT g.doc_id, g.source, g.lm_nll FROM gated g
         JOIN keep k ON g.doc_id = k.doc_id
         ORDER BY g.doc_id"""),
    // the capstone tail + the DSIR Gumbel top-50 restricted to the
    // kept ids (model counts from the FULL pool, matching the cached
    // dsirModelFor artifact; dsir CTEs x-prefixed to dodge the gate
    // CTE names)
    "q_curation_dsir" -> (curationGateCtes +
      s""", gated AS (SELECT c.doc_id, c.text
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id
           WHERE NOT rep.repetitive AND NOT con.contaminated
             AND NOT lm.lm_nll >= 10.0),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
         ${dsirCtes("x")},
         xs AS (SELECT xgb.doc_id, sum(xr.r6) AS s6
               FROM xgb JOIN xr ON xgb.b = xr.b
               WHERE xgb.doc_id IN (SELECT doc_id FROM keep)
               GROUP BY 1),
         xk AS (SELECT doc_id, s6 + ${gumbel6Sql("doc_id")} AS key6
               FROM xs)
         SELECT doc_id,
           ${micro4Sql("key6")} AS dsir_key
         FROM (SELECT * FROM xk ORDER BY key6 DESC, doc_id LIMIT 50)
         ORDER BY doc_id"""),
    // the capstone tail + the NB-classifier MAP gate over the kept
    // ids (model replay = the q_quality_classifier CTEs, trained on
    // the FULL ¾ split exactly like the cached nbModelFor artifact)
    "q_curation_classified" -> (curationGateCtes +
      s""", gated AS (SELECT c.doc_id, c.source, c.text, lm.lm_nll
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id
           WHERE NOT rep.repetitive AND NOT con.contaminated
             AND NOT lm.lm_nll >= 10.0),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
         $nbCtes,
         kh AS (SELECT dd.doc_id, string_split(dd.text, ' ') AS ws
                FROM documents dd JOIN keep k ON dd.doc_id = k.doc_id),
         khg AS (SELECT doc_id, unnest(list_concat(ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE CAST([] AS VARCHAR[]) END)) AS g FROM kh),
         khb AS (SELECT doc_id,
                  CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)
                    % 1024 AS b
                FROM khg),
         khs AS (SELECT khb.doc_id, sum(qw.w6) AS s6
                 FROM khb JOIN qw ON khb.b = qw.b GROUP BY 1),
         khd AS (SELECT khs.doc_id, khs.s6 + qbias.w6 AS d6
                 FROM khs CROSS JOIN qbias)
         SELECT g.doc_id, g.source, g.lm_nll,
           ${micro4Sql("khd.d6")} AS nb_score
         FROM gated g
         JOIN keep k ON g.doc_id = k.doc_id
         JOIN khd ON khd.doc_id = g.doc_id
         WHERE khd.d6 > 0
         ORDER BY g.doc_id"""),
    // the capstone tail + the PageRank bottom-decile prior over the
    // doc-id hub graph (rank replay = the q_pagerank CTE chain over
    // corp0's edges; the cut orders by the oracle-pinned
    // round(rank, 10) with node tiebreak, ⌈n/10⌉ rows drop)
    "q_curation_ranked" -> (curationGateCtes +
      s""", e0 AS MATERIALIZED (
           SELECT doc_id AS a, doc_id - doc_id % 4 AS b FROM corp0
           UNION
           SELECT doc_id - doc_id % 4 AS a,
                  doc_id - doc_id % 16 AS b FROM corp0),
         ${pageRankRoundCtes(8)},
         low AS (SELECT node FROM (
             SELECT node, row_number()
                 OVER (ORDER BY round(rank, 10), node) AS rn,
               count(*) OVER () AS cnt
             FROM r8) WHERE rn <= (cnt + 9) // 10),
         gated AS (SELECT c.doc_id, c.source, c.text, lm.lm_nll
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id
           WHERE NOT rep.repetitive AND NOT con.contaminated
             AND NOT lm.lm_nll >= 10.0),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         SELECT g.doc_id, g.source, g.lm_nll FROM gated g
         JOIN keep k ON g.doc_id = k.doc_id
         WHERE NOT EXISTS (SELECT 1 FROM low WHERE low.node = g.doc_id)
         ORDER BY g.doc_id"""),
    // per-source gate rollup + dedup-winner kept counts; count(*)
    // FILTER keeps every column BIGINT
    "q_curation_report" -> (curationGateCtes +
      """, flags AS (SELECT c.doc_id, c.source, c.text,
             rep.repetitive, con.contaminated, (lm.lm_nll >= 10.0) AS unusual
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id),
         gates AS (SELECT source, count(*) AS docs_in,
             count(*) FILTER (WHERE repetitive) AS n_repetitive,
             count(*) FILTER (WHERE contaminated) AS n_contaminated,
             count(*) FILTER (WHERE unusual) AS n_unusual,
             count(*) FILTER (WHERE NOT repetitive AND NOT contaminated
                                AND NOT unusual) AS n_passed
           FROM flags GROUP BY 1),
         surv AS (SELECT * FROM flags
                  WHERE NOT repetitive AND NOT contaminated AND NOT unusual),
         win AS (SELECT source FROM (
             SELECT source, row_number() OVER (PARTITION BY text
                                               ORDER BY doc_id) AS rn
             FROM surv) WHERE rn = 1),
         kept AS (SELECT source, count(*) AS n_kept FROM win GROUP BY 1)
         SELECT g.source, g.docs_in, g.n_repetitive, g.n_contaminated,
           g.n_unusual, g.n_passed, coalesce(k.n_kept, 0) AS n_kept
         FROM gates g LEFT JOIN kept k ON g.source = k.source
         ORDER BY g.source"""),
    // the streaming sink's telemetry: same gate flags per doc, rolled
    // up per batch (batch = doc_id % 3); kept = first-arrival dedup
    // winners — min (batch, doc_id) per surviving text — counted in
    // their batch. count(*) FILTER keeps every column BIGINT.
    "q_curation_telemetry" -> (curationGateCtes +
      """, flags AS (SELECT c.doc_id, c.doc_id % 3 AS batch_id, c.text,
             rep.repetitive, con.contaminated, (lm.lm_nll >= 10.0) AS unusual
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id),
         surv AS (SELECT * FROM flags
                  WHERE NOT repetitive AND NOT contaminated AND NOT unusual),
         win AS (SELECT batch_id FROM (
             SELECT batch_id,
               row_number() OVER (PARTITION BY text
                                  ORDER BY batch_id, doc_id) AS rn
             FROM surv) WHERE rn = 1),
         kept AS (SELECT batch_id, count(*) AS kept FROM win GROUP BY 1),
         agg AS (SELECT batch_id, count(*) AS docs_in,
             count(*) FILTER (WHERE repetitive) AS dropped_repetitive,
             count(*) FILTER (WHERE contaminated) AS dropped_contaminated,
             count(*) FILTER (WHERE unusual) AS dropped_unusual
           FROM flags GROUP BY 1)
         SELECT a.batch_id, a.docs_in, a.dropped_repetitive,
           a.dropped_contaminated, a.dropped_unusual,
           coalesce(k.kept, 0) AS kept
         FROM agg a LEFT JOIN kept k ON k.batch_id = a.batch_id
         ORDER BY a.batch_id"""),
    "q_sample_budget" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars FROM documents
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 40)
         ORDER BY doc_id""",
    "q_sample_per_stratum" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 30 ORDER BY doc_id""",
    "q_mix_token_budget" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             sum(len(string_split(text, ' '))) OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM documents)
         WHERE cum <= 5000 ORDER BY doc_id""",
    "q_corpus_mix" ->
      """WITH r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents WHERE source IN ('src0', 'src1', 'src2'))
         SELECT doc_id, source FROM r
         WHERE rn <= CASE source WHEN 'src0' THEN 15
                                 WHEN 'src1' THEN 10 ELSE 5 END
         ORDER BY doc_id""",
    "q_training_shards" ->
      """WITH h AS (SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         s AS (SELECT doc_id, source, h,
             CAST(CAST(concat('0x', substring(h, 1, 8)) AS BIGINT) % 8
               AS INTEGER) AS shard
           FROM h)
         SELECT doc_id, source, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
             AS BIGINT) - 1 AS pos
         FROM s ORDER BY shard, pos""",
    // pow terms round to integer nano-weights before the (exact long)
    // sum — order-independent like the LM micro-nat contract; keep
    // probabilities round to 6 (pow ulp contract, as ln elsewhere)
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT sum(n_docs) AS n, min(n_docs) AS n_min,
             sum(CAST(round(pow(n_docs, 0.5) * 1e9) AS BIGINT)) AS t_sum
           FROM c)
         SELECT lang, n_docs,
           round(n_docs * 1.0 / n, 6) AS share,
           round(CAST(round(pow(n_docs, 0.5) * 1e9) AS BIGINT) * 1.0 / t_sum, 6)
             AS target_share,
           round(pow(n_min * 1.0 / n_docs, 0.5), 6) AS keep_prob
         FROM c CROSS JOIN t ORDER BY lang""",
    "q_mix_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT min(n_docs) AS n_min FROM c),
         k AS (SELECT lang,
             round(pow(n_min * 1.0 / n_docs, 0.5), 6) AS keep_prob
           FROM c CROSS JOIN t)
         SELECT d.doc_id, d.lang FROM documents d JOIN k USING (lang)
         WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
           lpad(lower(to_hex(least(
             CAST(floor(least(greatest(keep_prob, 0.0), 1.0)
                        * 4294967296.0) AS BIGINT),
             4294967295))), 8, '0')
         ORDER BY d.doc_id""",
    "q_balance_ranks" ->
      """SELECT c_custkey, c_nationkey,
         CAST(ntile(4) OVER w AS INT) AS balance_quartile,
         first_value(c_custkey) OVER wf AS richest_in_nation,
         last_value(c_custkey) OVER wf AS poorest_in_nation
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
                wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY c_custkey""",
  )

  /** Build-once streaming-curation replay per corpus: the corpus
    * slice (doc_id % 101 ≠ 7) arrives as THREE MemoryStream batches
    * (doc_id % 3 = 0, 1, 2 in order) through the real
    * [[graft.streaming.Pipelines.curationSink]] — frozen corpus-
    * trained LM, digest-index first-arrival dedup, checkpointed
    * foreachBatch — leaving the per-batch gate-telemetry table at
    * `<dir>/tele` for q_curation_telemetry to read.
    *
    * The MemoryStream carries doc_id ONLY (a streaming source is
    * driver-fed by definition — the ids are the batch membership);
    * text/source join in from the static documents table on the
    * executors, so payloads never collect to the driver.
    */
  protected def builtCurationTelemetry(s: SparkSession, d: String): String =
    builtIndexDir("graft_curtel", d) { p =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 101 =!= 7)
        .select("doc_id", "text", "source")
      val benchmark = docs.filter(col("doc_id") % 101 === 7)
        .select("doc_id", "text", "source")
      // the frozen model = the same corpus-trained bigram LM the
      // one-shot capstone derives internally (identical counts), so
      // the stream's scores replay q_curation_pipeline's exactly
      graft.textanalysis.TextAnalysis.writeLmModel(
        graft.textanalysis.TextAnalysis.lmTrain(corpus), p + "/model")
      val mem = MemoryStream[Long]
      val src = mem.toDS().toDF("doc_id").join(corpus, "doc_id")
      val q = graft.streaming.Pipelines.curationSink(src, benchmark,
        p + "/model", p + "/idx", p + "/out", p + "/tele", p + "/ckpt")
      try {
        val ids = corpus.select("doc_id").collect().map(_.getLong(0)).sorted
        (0L until 3L).foreach { b =>
          mem.addData(ids.filter(_ % 3 == b).toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** The doc-id link graph for the k-core curation gate: a triangle
    * per 8-group (ids ≡ 0,1,2), a pendant 2-chain off each triangle
    * (ids ≡ 3,4 — the peel cascade), and 64-group star heads. Each
    * edge derives from ONE document row, so the DuckDB replay states
    * the identical derivation over corp0.
    */
  /** One PERSISTED capstone corpus per composition query: the
    * curation compositions read the corpus from several independent
    * branches (the capstone's two full-text passes, the link-graph
    * edge build, the classifier scoring pass), each of which would
    * otherwise re-scan documents.parquet — the dominant cost at 10×
    * corpus (round-9 verdict #6: q_curation_kcore 8.3 s,
    * q_curation_classified 9.9 s). The cache releases after the
    * query's first action (Managed.autoReleased — Bench/Verify run
    * exactly one); narrowed to the three columns every consumer
    * shares so the cached batches stay minimal and the columnar IMR
    * scan prunes further for doc_id-only branches.
    */
  protected def sharedCorpus(s: SparkSession, d: String)(
      build: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = new graft.Artifacts
    val corpus = a.persist(docs.filter(col("doc_id") % 101 =!= 7)
      .select(col("doc_id"), col("source"), col("text")))
    val bench = docs.filter(col("doc_id") % 101 === 7)
    new graft.Managed(build(corpus, bench), a).autoReleased()
  }

  protected def docKcoreEdges(corpus: DataFrame): DataFrame = {
    val id = col("doc_id")
    corpus.filter(id % 8 <= 3)
      .select(id.as("s"), (id + 1).as("t"))
      .unionByName(corpus.filter(id % 8 === 0)
        .select(id.as("s"), (id + 2).as("t")))
      .unionByName(corpus.filter(id % 8 === 0)
        .select(id.as("s"), (id - id % 64).as("t")))
  }

  // recorded peel rounds of the curation-gate graph per sfDir (its
  // cascade depth differs from q_kcore's graph)
  protected val curationKcoreRounds =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Generated q_curation_kcore oracle: the capstone gate CTEs + the
    * doc-graph peel chain (one MATERIALIZED CTE per recorded round,
    * the kcoreOracle discipline) + the outside-core anti-join. Empty
    * until the query has run in this JVM → rows-only.
    */
  protected def curationKcoreOracle: Option[(String, String)] =
    Option(lastOracleDir)
      .flatMap(d => Option(curationKcoreRounds.get(d))).map { rr =>
      val r = rr.intValue
      val rounds = (1 to r).map { i =>
        s""",
         ka$i AS MATERIALIZED (
           SELECT u AS node FROM (
             SELECT ksym.u, count(*) AS dd FROM ksym
             JOIN ka${i - 1} x ON ksym.u = x.node
             JOIN ka${i - 1} y ON ksym.v = y.node
             GROUP BY ksym.u)
           WHERE dd >= 2)"""
      }.mkString
      "q_curation_kcore" -> (curationGateCtes +
        s""", ke AS MATERIALIZED (
           SELECT doc_id AS s, doc_id + 1 AS t FROM corp0 WHERE doc_id % 8 <= 3
           UNION ALL
           SELECT doc_id, doc_id + 2 FROM corp0 WHERE doc_id % 8 = 0
           UNION ALL
           SELECT doc_id, doc_id - doc_id % 64 FROM corp0 WHERE doc_id % 8 = 0),
         kund AS MATERIALIZED (
           SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ke
           WHERE s IS NOT NULL AND t IS NOT NULL AND s <> t),
         ksym AS MATERIALIZED (
           SELECT u, v FROM kund UNION ALL SELECT v, u FROM kund),
         ka0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM ksym)$rounds,
         kdrop AS (SELECT node FROM ka0
                   EXCEPT SELECT node FROM ka$r),
         gated AS (SELECT c.doc_id, c.source, c.text, lm.lm_nll
           FROM corp0 c
           JOIN rep ON rep.doc_id = c.doc_id
           JOIN con ON con.doc_id = c.doc_id
           JOIN lm ON lm.doc_id = c.doc_id
           WHERE NOT rep.repetitive AND NOT con.contaminated
             AND NOT lm.lm_nll >= 10.0),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         SELECT g.doc_id, g.source, g.lm_nll FROM gated g
         JOIN keep k ON g.doc_id = k.doc_id
         WHERE NOT EXISTS (SELECT 1 FROM kdrop WHERE kdrop.node = g.doc_id)
         ORDER BY g.doc_id""")
    }

  /** The shared curation-gate CTE prefix (corpus slice, Gopher
    * repetition rubric, benchmark contamination, corpus-trained
    * bigram-LM scoring) — q_curation_pipeline appends the dedup +
    * survivor tail, q_curation_telemetry the per-batch gate rollup.
    * One text, two oracles: the streaming telemetry is DEFINED as the
    * same gates the one-shot capstone applies.
    */
  protected val curationGateCtes: String =
    """WITH corp0 AS (SELECT * FROM documents WHERE doc_id % 101 <> 7),
         t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corp0),
         gg AS (SELECT doc_id, ws,
           CASE WHEN len(ws) >= 2
                THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                ELSE CAST([] AS VARCHAR[]) END AS bg,
           CASE WHEN len(ws) >= 3
                THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in range(1, len(ws) - 1)]
                ELSE CAST([] AS VARCHAR[]) END AS tg
           FROM t),
         rep AS (SELECT doc_id,
           (CAST(len(ws) AS BIGINT) >= 20 AND
            (CASE WHEN len(bg) > 0
                  THEN round(list_max([len(list_filter(bg, y -> y = x)) for x in bg])
                             * 1.0 / len(bg), 4)
                  ELSE 0.0 END >= 0.08 OR
             CASE WHEN len(tg) > 0
                  THEN round(1 - len(list_distinct(tg)) * 1.0 / len(tg), 4)
                  ELSE 0.0 END >= 0.05)) AS repetitive
           FROM gg),
         dg AS (SELECT doc_id,
             CASE WHEN len(ws) >= 2
                  THEN list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
                  ELSE CAST([] AS VARCHAR[]) END AS grams
           FROM t),
         bset AS (SELECT DISTINCT unnest(
             CASE WHEN len(string_split(text, ' ')) >= 2
                  THEN [string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                        for i in range(1, len(string_split(text, ' ')))]
                  ELSE CAST([] AS VARCHAR[]) END) AS gr
           FROM documents WHERE doc_id % 101 = 7),
         cg AS (SELECT doc_id, unnest(grams) AS gr FROM dg),
         hits AS (SELECT cg.doc_id, count(*) AS n_grams, count(bset.gr) AS n_hits
                  FROM cg LEFT JOIN bset ON cg.gr = bset.gr GROUP BY 1),
         con AS (SELECT dg.doc_id,
           (CASE WHEN coalesce(n_grams, 0) > 0
                 THEN round(n_hits * 1.0 / n_grams, 4) ELSE 0.0 END >= 0.4)
             AS contaminated
           FROM dg LEFT JOIN hits ON dg.doc_id = hits.doc_id),
         b AS (SELECT doc_id, unnest(
             CASE WHEN len(ws) >= 2
                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                  ELSE CAST([NULL] AS VARCHAR[]) END) AS bg FROM t),
         m AS (SELECT bg, count(*) AS c12 FROM b WHERE bg IS NOT NULL GROUP BY 1),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
                 FROM m GROUP BY 1),
         v AS (SELECT count(DISTINCT term) AS v
               FROM (SELECT unnest(ws) AS term FROM t)),
         sl AS (SELECT b.doc_id, b.bg,
                 CASE WHEN b.bg IS NOT NULL
                      THEN CAST(round(ln((ctx.c1 + v.v) * 1.0 / (m.c12 + 1.0))
                                      * 1000000.0) AS BIGINT)
                 END AS nll6
               FROM b LEFT JOIN m ON b.bg = m.bg
               LEFT JOIN ctx ON split_part(b.bg, ' ', 1) = ctx.w1
               CROSS JOIN v),
         lm AS (SELECT doc_id,
           CASE WHEN count(bg) > 0
                THEN round(sum(nll6) * 1.0 / (count(bg) * 1000000.0), 4)
                ELSE 0.0 END AS lm_nll
           FROM sl GROUP BY 1)"""

}
