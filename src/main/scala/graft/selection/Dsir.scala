package graft.selection

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words
import graft.plans.{GraftFunctions, TextHashFunctions}
import graft.textanalysis.TextAnalysis.ngrams

/** DSIR-style data selection: importance resampling over hashed
  * n-gram features (Xie et al., "Data Selection for Language Models
  * via Importance Resampling", NeurIPS 2023). Given a small TARGET
  * corpus (the domain you want more of) and the RAW pool, fit two
  * bag-of-hashed-ngrams models, score every raw document by its
  * importance log-weight log p_target(x) − log p_raw(x), and keep a
  * Gumbel-perturbed top-n — equivalent to sampling without
  * replacement proportionally to the importance weights, but fully
  * deterministic (the noise derives from md5(doc_id), the repo's
  * seedless-sampling convention — see [[graft.ops.SampleOps]]).
  *
  * Reference analog: the pipeline's quality gates decide KEEP/DROP
  * per document in isolation (`services/data-quality`); DSIR is the
  * corpus-level complement — select the subset that best matches a
  * target distribution. Implemented Spark-first, no translation.
  *
  * Scale shape (the reason this works at 100 TB):
  *  - TRAIN is two aggregations into a BOUNDED bucket domain
  *    (`buckets` ≤ 65536): partial aggregation combines map-side, so
  *    the exchange carries at most `buckets` rows per task, however
  *    large the corpus. The model itself is `buckets` longs.
  *  - SCORE is a ZERO-SHUFFLE narrow pass: the log-ratio table rides
  *    along as one array literal (the PQ-codebook / frozen-LM
  *    serving pattern) and each gram costs one md5 + one O(1) array
  *    index inside a single `aggregate` fold — no per-gram explode,
  *    no join, no state.
  *  - SELECT is a global top-n: Spark plans `orderBy(...).limit(n)`
  *    as TakeOrderedAndProject — per-partition heaps, no full sort
  *    shuffle.
  *
  * Exactness contract: per-bucket log-ratios are rounded to integer
  * MICRO-nats (the [[graft.textanalysis.TextAnalysis.lmScoreWith]]
  * ulp contract), so a document's log-weight is an exact long sum —
  * order-independent, and replayable relationally in DuckDB.
  */
object Dsir {

  /** Unigrams + bigrams WITH multiplicity — DSIR features are counts,
    * not sets.
    */
  def featureGrams(ws: Column): Column = concat(ws, ngrams(ws, 2))

  /** Hashed feature bucket in [0, buckets): the first 15 md5 hex
    * digits as a 60-bit integer, mod the bucket count. Identical in
    * DuckDB as `CAST(concat('0x', substring(md5(g),1,15)) AS BIGINT)
    * % buckets` (the [[graft.dedup.Dedup]] md5-mode idiom).
    */
  def bucketOf(g: Column, buckets: Int): Column =
    pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** The per-gram bucket-id ARRAY of a token array — the train-side
    * gram walk every counting trainer explodes — as the native fused
    * expression (one md5 per gram off the token bytes, inside
    * WholeStageCodegen — the [[graft.plans.DsirBuckets]] / DsirScore6
    * pattern, round-17). Element-identical to the composed per-gram
    * `transform(featureGrams(ws), bucketOf)` by the DsirBucketsSpec
    * parity pin; training only COUNTS the elements, so the counts
    * (and the models built from them) are unchanged — the
    * full-retrain oracle replays unchanged.
    */
  def bucketsFor(df: DataFrame)(ws: Column, buckets: Int): Column =
    GraftFunctions.call(df)(TextHashFunctions.DsirBucketsName, ws, lit(buckets))

  /** Per-bucket feature counts of a corpus — at most `buckets` rows.
    * Missing buckets are absent (the trainer zero-fills).
    */
  def bucketCounts(docs: DataFrame, buckets: Int,
      textCol: String = "text"): DataFrame =
    docs
      .select(explode(bucketsFor(docs)(words(col(textCol)), buckets))
        .as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c"))

  /** A frozen DSIR model: per-bucket importance log-ratios in integer
    * micro-nats, dense over the full bucket domain. Bounded by
    * construction (`buckets` ≤ 65536 enforced at train time), so it
    * travels as a literal — the serving-split artifact.
    */
  final case class DsirModel(ratios6: IndexedSeq[Long]) {
    def buckets: Int = ratios6.length
  }

  val MaxBuckets = 65536

  /** Fit the two hashed-ngram models and return the per-bucket
    * log-ratio table. Add-1 smoothing over the bucket domain on both
    * sides, so buckets unseen in either corpus score finitely:
    *
    *   r[b] = ln( ((c_t[b]+1) · (N_r+B)) / ((c_r[b]+1) · (N_t+B)) )
    *
    * Every factor is an exact integer below 2^53, so both engines
    * evaluate identical IEEE doubles before the micro-nat rounding.
    * The two ≤B-row count frames collect to the driver — bounded by
    * the `buckets` cap, not by data size (the codebook precedent).
    */
  def dsirTrain(raw: DataFrame, target: DataFrame, buckets: Int = 1024,
      textCol: String = "text"): DsirModel = {
    require(buckets > 0 && buckets <= MaxBuckets,
      s"buckets must be in (0, $MaxBuckets]: $buckets")
    def counts(df: DataFrame): Map[Long, Long] =
      bucketCounts(df, buckets, textCol).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    buildModel(counts(target), counts(raw), buckets)
  }

  /** Single-scan trainer for the common case where the target is a
    * PREDICATE over the pool (a language, a source, a label): one
    * corpus pass aggregates raw and target counts together —
    * `count(*)` and `count(when(pred))` per bucket — instead of
    * [[dsirTrain]]'s two scans. Identical model by construction
    * (spec-pinned).
    */
  def dsirTrainWith(pool: DataFrame, targetPred: Column,
      buckets: Int = 1024, textCol: String = "text"): DsirModel = {
    require(buckets > 0 && buckets <= MaxBuckets,
      s"buckets must be in (0, $MaxBuckets]: $buckets")
    val rows = pool
      .select(targetPred.as("__t"),
        explode(bucketsFor(pool)(words(col(textCol)), buckets)).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        count(when(col("__t"), lit(1))).as("ct"))
      .collect()
    val rc = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    buildModel(tc, rc, buckets)
  }

  /** Half AWAY from zero — what both DuckDB's round() and Spark's
    * Column round apply; `math.round` alone rounds half toward +∞,
    * which diverges on negative ….5 boundaries (driver-side code
    * must match the engines it is oracled against).
    */
  private def roundHalfAway(x: Double): Long =
    if (x < 0) -math.round(-x) else math.round(x)

  private def buildModel(tc: Map[Long, Long], rc: Map[Long, Long],
      buckets: Int): DsirModel = {
    val nt = tc.valuesIterator.sum
    val nr = rc.valuesIterator.sum
    val ratios = (0 until buckets).map { b =>
      val num = (tc.getOrElse(b.toLong, 0L) + 1.0) * (nr + buckets)
      val den = (rc.getOrElse(b.toLong, 0L) + 1.0) * (nt + buckets)
      roundHalfAway(math.log(num / den) * 1e6)
    }
    DsirModel(ratios)
  }

  /** A DSIR model in COUNT form: per-bucket raw and target counts.
    * Counts are the mergeable representation — log-ratios are not
    * (ln doesn't distribute over addition) — so this is what an
    * incremental pipeline persists: a new batch's counts ADD, and
    * the refreshed ratio table is exactly the full-retrain one
    * (count additivity; spec-pinned). Dense over the bucket domain.
    */
  final case class DsirCounts(raw: IndexedSeq[Long],
      target: IndexedSeq[Long]) {
    def buckets: Int = raw.length
    require(target.length == raw.length,
      s"count vectors disagree: ${raw.length} vs ${target.length}")

    def toModel: DsirModel = {
      val rc = raw.zipWithIndex.map { case (c, b) => b.toLong -> c }.toMap
      val tc = target.zipWithIndex.map { case (c, b) => b.toLong -> c }.toMap
      buildModel(tc, rc, buckets)
    }

    /** Exact merge: counts add. */
    def merge(other: DsirCounts): DsirCounts = {
      require(other.buckets == buckets,
        s"bucket domains disagree: $buckets vs ${other.buckets}")
      DsirCounts(
        raw.zip(other.raw).map { case (a, b) => a + b },
        target.zip(other.target).map { case (a, b) => a + b })
    }
  }

  /** Count-form trainer: the same single scan as [[dsirTrainWith]],
    * kept as counts for later incremental merges.
    */
  def dsirCountsOf(pool: DataFrame, targetPred: Column,
      buckets: Int = 1024, textCol: String = "text"): DsirCounts = {
    require(buckets > 0 && buckets <= MaxBuckets,
      s"buckets must be in (0, $MaxBuckets]: $buckets")
    val rows = pool
      .select(targetPred.as("__t"),
        explode(bucketsFor(pool)(words(col(textCol)), buckets)).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        count(when(col("__t"), lit(1))).as("ct"))
      .collect()
    val rc = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    DsirCounts(
      (0 until buckets).map(b => rc.getOrElse(b.toLong, 0L)),
      (0 until buckets).map(b => tc.getOrElse(b.toLong, 0L)))
  }

  /** TWO count-form models from ONE corpus scan, split by
    * `splitPred`: returns (counts over rows where the predicate
    * holds, counts over the rest). Bucket counts are plain integer
    * counts grouped by (bucket, split), so each side is EXACTLY what
    * [[dsirCountsOf]] computes over the corresponding filter — the
    * incremental-refresh demo (base counts + batch counts →
    * merge → toModel) keeps its semantics while paying one
    * tokenization pass instead of two (round-16, guide §1.2: don't
    * compute things twice).
    */
  def dsirCountsSplit(pool: DataFrame, splitPred: Column,
      targetPred: Column, buckets: Int = 1024,
      textCol: String = "text"): (DsirCounts, DsirCounts) = {
    require(buckets > 0 && buckets <= MaxBuckets,
      s"buckets must be in (0, $MaxBuckets]: $buckets")
    val rows = pool
      .select(splitPred.as("__p"), targetPred.as("__t"),
        explode(bucketsFor(pool)(words(col(textCol)), buckets)).as("b"))
      .groupBy(col("b"), col("__p"))
      .agg(count(lit(1)).as("cr"),
        count(when(col("__t"), lit(1))).as("ct"))
      .collect()
    // NULL-predicate contract (pinned in DsirSpec): rows whose
    // splitPred evaluates NULL are excluded from BOTH sides — exactly
    // the two-filter behavior this single grouped pass replaced
    // (filter(p) and filter(!p) both drop NULLs).
    def side(p: Boolean): DsirCounts = {
      val sel = rows.filter(r => !r.isNullAt(1) && r.getBoolean(1) == p)
      val rc = sel.map(r => r.getLong(0) -> r.getLong(2)).toMap
      val tc = sel.map(r => r.getLong(0) -> r.getLong(3)).toMap
      DsirCounts(
        (0 until buckets).map(b => rc.getOrElse(b.toLong, 0L)),
        (0 until buckets).map(b => tc.getOrElse(b.toLong, 0L)))
    }
    (side(true), side(false))
  }

  /** Persist the count-form model — (b, cr, ct) parquet, the artifact
    * an incremental refresh reads, merges, and rewrites.
    */
  def writeDsirCounts(spark: SparkSession, counts: DsirCounts,
      dir: String): Unit = {
    import spark.implicits._
    (0 until counts.buckets)
      .map(b => (b.toLong, counts.raw(b), counts.target(b)))
      .toDF("b", "cr", "ct")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  def readDsirCounts(spark: SparkSession, dir: String): DsirCounts = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = rows.size
    require(b > 0 && b <= MaxBuckets &&
      (0 until b).forall(i => rows.contains(i.toLong)),
      s"$dir does not hold a dense bucket domain (${rows.size} rows)")
    DsirCounts(
      (0 until b).map(i => rows(i.toLong)._1),
      (0 until b).map(i => rows(i.toLong)._2))
  }

  /** Persist the ratio table as parquet — train once on the reference
    * corpora, score any later batch or stream against the artifact
    * (the writeLmModel / VectorStore.write lifecycle).
    */
  def writeDsirModel(spark: SparkSession, model: DsirModel,
      dir: String): Unit = {
    import spark.implicits._
    model.ratios6.zipWithIndex
      .map { case (r6, b) => (b.toLong, r6) }
      .toDF("b", "r6")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  def readDsirModel(spark: SparkSession, dir: String): DsirModel = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = rows.size
    require(b > 0 && b <= MaxBuckets && (0 until b).forall(i => rows.contains(i.toLong)),
      s"$dir does not hold a dense bucket domain (${rows.size} rows)")
    DsirModel((0 until b).map(i => rows(i.toLong)))
  }

  /** Exact 4-decimal readout of an integer micro-nat value: half
    * away from zero on the TRUE rational (|c6|+50) div 100, entirely
    * in integer space — immune to the double-rounding knife edge
    * where `round(x/1e6, 4)` on a binary double disagrees between
    * engines when x sits on a …50 boundary (observed at sf0.01).
    * The double division (|c6|+50)/100.0 never rounds across an
    * integer because the numerator is an integer, so floor of it IS
    * integer division for every |c6| < 2^46.
    */
  private[graft] def micro4(c6: Column): Column =
    (when(c6 < 0, -floor((-c6 + lit(50L)) / lit(100.0)))
      .otherwise(floor((c6 + lit(50L)) / lit(100.0))) / lit(10000.0))

  /** Importance log-weight of each document under a frozen model:
    * Σ over feature grams of the bucket's micro-nat log-ratio, as an
    * exact long, reported in nats at the repo's 4-decimal readout.
    * Narrow and zero-shuffle: the fold runs inside the row.
    */
  def dsirScore(docs: DataFrame, model: DsirModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    // |grams| = |ws| + |bigrams| = 2·|ws|−1 for |ws|≥2 — pure
    // arithmetic; size(featureGrams(ws)) would BUILD the bigram
    // string array per row just to count it (measured 1.4 s of the
    // 1.6 s materialized pass at sf0.1)
    val nGrams = when(size(ws) >= 2, size(ws) * 2 - 1)
      .otherwise(size(ws))
    docs
      .select(col(idCol),
        nGrams.cast("long").as("n_grams"),
        score6For(docs, model)(ws).as("__s6"))
      .select(col(idCol), col("n_grams"),
        micro4(col("__s6")).as("dsir_logw"))
  }

  /** Row-local micro-nat score column over a pre-split token array —
    * the serving form: a document stream scored against the frozen
    * ratio literal needs no state and no shuffle. Bit-equal to the
    * `__s6` [[dsirScore]] computes, by construction (shared by both).
    */
  def score6Local(model: DsirModel)(ws: Column): Column = {
    val arr = typedlit(model.ratios6)
    aggregate(featureGrams(ws), lit(0L), (acc, g) =>
      acc + element_at(arr, bucketOf(g, model.buckets).cast("int") + 1))
  }

  /** [[score6Local]] through the native fused expression (one md5 per
    * gram straight off the token bytes, inside WholeStageCodegen) —
    * bit-equal to the composed fold by the DsirScore6 contract
    * (spec-pinned, and re-proven by the hash gate every round).
    */
  def score6For(df: DataFrame, model: DsirModel)(ws: Column): Column =
    GraftFunctions.call(df)(TextHashFunctions.DsirScore6Name, ws,
      typedlit(model.ratios6))

  /** Deterministic Gumbel key in integer micro-nats: g = −ln(−ln(u))
    * with u = (h + 0.5) / 2^60 derived from md5(id) — u ∈ (0,1)
    * strictly, identical in DuckDB, and adding it to the micro-nat
    * log-weight implements weighted sampling WITHOUT replacement
    * (Gumbel top-k) with zero RNG state.
    */
  private def gumbel6(id: Column): Column = {
    val h = conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(1.152921504606846976e18)
    round(-log(-log(u)) * 1e6).cast("long")
  }

  /** Select `n` documents from the pool, weighted by importance:
    * top-n of (log-weight + Gumbel noise), ties broken by id.
    * Plans as TakeOrderedAndProject — no full-sort shuffle.
    */
  def dsirSelect(docs: DataFrame, model: DsirModel, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    docs
      .select(col(idCol),
        score6For(docs, model)(words(col(textCol))).as("__s6"))
      .select(col(idCol),
        (col("__s6") + gumbel6(col(idCol))).as("__key6"))
      .orderBy(col("__key6").desc, col(idCol))
      .limit(n)
      .select(col(idCol), micro4(col("__key6")).as("dsir_key"))
  }
}
