package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document quality scoring — the engine's hermetic stand-in for the
  * reference's LLM scorer (interface
  * services/data-quality/app/llm/LLMInterface.py:3-9, OpenAI impl
  * OpenAIProvider.py:19-176, weights :154-160, threshold
  * config.py:22). The reference delegates the rubric to an external
  * model; our ground truth is a deterministic rule-based rubric so
  * the DuckDB oracle can replay it bit-for-bit (SURVEY §7.5.6).
  *
  * All four sub-scores are integers 0..100 computed with integer
  * arithmetic (floor divisions) — no float-order hazards. The
  * weighted combine (0.3/0.3/0.2/0.2, as in the reference) is done
  * as (3a+3b+2c+2d)/10 in double: a single exact-int division, so
  * both engines produce the identical double.
  *
  * Scale: pure narrow transformations — no shuffle, stays inside one
  * WholeStageCodegen span; at 100 TB this runs at scan speed.
  */
trait QualityScorer {
  /** Appends quality_* columns to a frame with a text column. */
  def score(df: DataFrame, textCol: String): DataFrame
}

object RuleBasedScorer extends QualityScorer {

  val Stopwords = Seq("the", "a")
  val MinQualityScore = 50.0 // reference config.py:22 default

  /** completeness: content volume, 5 chars per point, capped at 100
    * (reference scores empty/short content low —
    * data-quality/app/main.py:176-204 zeroes on no content).
    */
  def completeness(text: Column): Column =
    least(lit(100), floor(length(text) / 5)).cast("long")

  /** consistency: vocabulary diversity — distinct/total word ratio.
    * Degenerate content (<3 words) scores 0, mirroring the
    * reference's zeroed error result for missing content
    * (data-quality/app/main.py:176-204).
    */
  def consistency(text: Column): Column =
    consistencyFromTokens(words(text))

  /** Token-array form — callers on the hot path materialize `ws`
    * once and feed it here and to `languageQualityFromTokens`, so the
    * text splits a single time per row instead of ~5 (the same
    * one-ws-column discipline textStats uses).
    */
  def consistencyFromTokens(ws: Column): Column =
    when(size(ws) < 3, lit(0L))
      .otherwise(floor(size(array_distinct(ws)) * 100 / size(ws)))
      .cast("long")

  /** pii_detection: binary — 100 when clean, 0 when PII present
    * (reference treats detected PII as a scored violation,
    * OpenAIProvider.py:65-77).
    */
  def piiScore(text: Column): Column =
    when(hasPii(text), lit(0L)).otherwise(lit(100L))

  /** language_quality: function-word (stopword) density, 10 points
    * per percent, capped — a crude but deterministic fluency proxy.
    */
  def languageQualityFromTokens(ws: Column): Column =
    least(lit(100), floor(
      size(filter(ws, w => w.isin(Stopwords.map(lit): _*))) * 1000 / size(ws)))
      .cast("long")

  /** A4: weighted overall + threshold validity (OpenAIProvider.py:154-165). */
  def overall(comp: Column, cons: Column, pii: Column, lang: Column): Column =
    (comp * 3 + cons * 3 + pii * 2 + lang * 2) / lit(10.0)

  def score(df: DataFrame, textCol: String): DataFrame = {
    val t = truncateContent(col(textCol)) // F2: reference caps scorer input at 1024
    // collision-free temp name: a caller column literally named "__ws"
    // must survive scoring untouched
    val wsCol = Iterator.from(0).map(i => if (i == 0) "__ws" else s"__ws$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(wsCol, words(t)) // tokenize ONCE; both word scores read it
      .withColumn("completeness", completeness(t))
      .withColumn("consistency", consistencyFromTokens(col(wsCol)))
      .withColumn("pii_detection", piiScore(t))
      .withColumn("language_quality", languageQualityFromTokens(col(wsCol)))
      .drop(wsCol)
      .withColumn("quality_score",
        overall(col("completeness"), col("consistency"),
          col("pii_detection"), col("language_quality")))
      .withColumn("quality_is_valid", col("quality_score") >= MinQualityScore)
      .withColumn("has_pii", col("pii_detection") === 0)
  }

  /** F15 + UDTF-style explode: one row per quality issue (the
    * reference concatenates per-check issue lists,
    * llm/schemas.py:42-50; array-of-struct per main.py:142-150).
    */
  def issues(scored: DataFrame, idCol: String): DataFrame = {
    def issue(cond: Column, typ: String, severity: String, field: String) =
      when(cond, struct(
        lit(typ).as("issue_type"), lit(severity).as("severity"),
        lit(field).as("field"))).otherwise(lit(null))
    scored
      .withColumn("issue", explode(filter(array(
        issue(col("completeness") < 50, "completeness", "medium", "content"),
        issue(col("consistency") < 40, "consistency", "low", "content"),
        issue(col("has_pii"), "pii", "high", "content"),
        issue(col("language_quality") < 30, "language_quality", "low", "content")
      ), c => c.isNotNull)))
      .select(col(idCol), col("issue.issue_type").as("issue_type"),
        col("issue.severity").as("severity"), col("issue.field").as("field"))
      .orderBy(col(idCol), col("issue_type"))
  }

  /** P7: BLOCK_LOW_QUALITY gate (data-quality/app/main.py:118-124). */
  def qualityGate(scored: DataFrame, block: Boolean): DataFrame =
    if (block) scored.filter(col("quality_is_valid")) else scored
}

/** U2: the provider-factory seam (reference
  * llm/LLMProviderFactory.py:11-22 creates scorers by name). The
  * trait keeps scoring backends swappable without touching the
  * pipeline; an unknown name fails fast like the reference's
  * ValueError.
  */
object QualityScorerFactory {
  def create(name: String): QualityScorer = name match {
    case "rule-based" => RuleBasedScorer
    case "length-only" => LengthOnlyScorer
    case other => throw new IllegalArgumentException(
      s"unknown quality provider: $other")
  }
}

/** Minimal alternative provider proving the seam: every sub-score
  * derives from content volume alone.
  */
object LengthOnlyScorer extends QualityScorer {
  def score(df: DataFrame, textCol: String): DataFrame = {
    val s = least(lit(100), floor(length(col(textCol)) / 5)).cast("long")
    df.withColumn("completeness", s)
      .withColumn("consistency", s)
      .withColumn("pii_detection", lit(100L))
      .withColumn("language_quality", s)
      .withColumn("quality_score",
        RuleBasedScorer.overall(col("completeness"), col("consistency"),
          col("pii_detection"), col("language_quality")))
      .withColumn("quality_is_valid",
        col("quality_score") >= RuleBasedScorer.MinQualityScore)
      .withColumn("has_pii", lit(false))
  }
}
