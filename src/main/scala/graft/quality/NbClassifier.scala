package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words
import graft.selection.Dsir

/** Learned quality-classifier gate: a fastText-style LINEAR text
  * classifier (Joulin et al., "Bag of Tricks for Efficient Text
  * Classification", 2017) over hashed uni+bigram bucket features,
  * trained in closed form as binary multinomial Naive Bayes — the
  * CCNet/RefinedWeb companion to [[graft.selection.Dsir]]'s
  * importance selector: DSIR asks "does this document look like the
  * target DISTRIBUTION", the classifier asks "which of two learned
  * CLASSES does it look like" and gates on the decision score.
  *
  * Reference analog: the scorer behind the provider seam
  * (`services/data-quality/app/llm/providers/OpenAIProvider.py` +
  * `app/llm/LLMInterface.py` — the repo's
  * [[QualityScorer]]) decides per document; this is
  * the LEARNED replacement a production pipeline trains on labeled
  * examples. Implemented Spark-first, no translation.
  *
  * Why Naive Bayes and not SGD logistic: the NB decision function is
  * the SAME linear form w·x + b the logistic model serves, but the
  * weights have a closed form in per-class count aggregates — so
  * training is ONE distributed aggregation into the bounded bucket
  * domain (the [[Dsir.dsirTrainWith]] shape), deterministic, and
  * exactly replayable relationally. An SGD loop would add per-epoch
  * passes and float-order nondeterminism for no capability the gate
  * needs. (NB-weighted linear classifiers are the strong-baseline
  * form of Wang & Manning '12's NBSVM.)
  *
  * Scale shape (identical to DSIR's, and for the same reasons):
  *  - TRAIN: one corpus scan, partial aggregation into ≤`buckets`
  *    rows (map-side combine bounds the exchange), plus one 2-long
  *    doc-count aggregate for the prior. The model is `buckets`+1
  *    longs — a driver artifact by construction.
  *  - SCORE: zero-shuffle narrow pass — the weight table rides as an
  *    array literal through the SAME fused native expression DSIR
  *    serves with ([[graft.plans]] DsirScore6: one md5 per gram
  *    inside WholeStageCodegen), plus one literal bias add.
  *  - GATE: a row-local filter on the score — streamable exactly like
  *    [[graft.curation.Serving.dsirLogwLocal]].
  *
  * Exactness contract: per-bucket weights are integer MICRO-nats
  * (the repo's ln ulp contract — one ln per bucket at train time,
  * every per-document score an exact long sum), so DuckDB replays
  * train AND serve bit-for-bit.
  */
object NbClassifier {

  /** A frozen binary classifier: per-bucket weights w6[b] =
    * ln-likelihood-ratio in integer micro-nats, plus the class-prior
    * bias in the same units. decision6(x) = bias6 + Σ_g w6[bucket(g)];
    * positive ⇔ decision6 > 0 (maximum-a-posteriori).
    */
  final case class NbModel(weights6: IndexedSeq[Long], bias6: Long) {
    def buckets: Int = weights6.length
  }

  /** Half away from zero — what both engines' round() applies (the
    * [[Dsir]] driver-side rounding contract).
    */
  private def roundHalfAway(x: Double): Long =
    if (x < 0) -math.round(-x) else math.round(x)

  /** Train on `pool` with `labelPred` as the positive class — ONE
    * corpus scan: per-bucket gram counts of both classes aggregate
    * together (`count(when)` twice per bucket), and the doc-count
    * prior rides a second tiny aggregate. Add-1 smoothing over the
    * bucket domain on both sides:
    *
    *   w6[b] = round(1e6 · ln( ((cp[b]+1) · (Nn+B))
    *                         / ((cn[b]+1) · (Np+B)) ))
    *   bias6 = round(1e6 · ln(dp / dn))
    *
    * with cp/cn per-bucket gram counts, Np/Nn total gram counts,
    * dp/dn document counts of the two classes. Every factor is an
    * exact integer, so both engines evaluate identical IEEE doubles
    * before the micro-nat rounding. Both classes must be non-empty
    * (a one-class "classifier" is a constant — refused loudly).
    */
  def nbTrain(pool: DataFrame, labelPred: Column, buckets: Int = 1024,
      textCol: String = "text"): NbModel = {
    require(buckets > 0 && buckets <= Dsir.MaxBuckets,
      s"buckets must be in (0, ${Dsir.MaxBuckets}]: $buckets")
    val pos = coalesce(labelPred, lit(false))
    // gram walk through the native fused bucket generator when
    // registered (one md5 per gram off the token bytes — the
    // Dsir.bucketsFor dispatch); counts are identical by the
    // DsirBuckets parity pin, so the trained weights don't move
    val rows = pool
      .select(pos.as("__p"),
        explode(Dsir.bucketsFor(pool)(words(col(textCol)), buckets))
          .as("b"))
      .groupBy(col("b"))
      .agg(count(when(col("__p"), lit(1))).as("cp"),
        count(when(!col("__p"), lit(1))).as("cn"))
      .collect()
    val docRow = pool
      .agg(count(when(pos, lit(1))).as("dp"),
        count(when(!pos, lit(1))).as("dn"))
      .head()
    val (dp, dn) = (docRow.getLong(0), docRow.getLong(1))
    require(dp > 0 && dn > 0,
      s"both classes must be non-empty: positive=$dp negative=$dn docs")
    val pc = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nc = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val np = pc.valuesIterator.sum
    val nn = nc.valuesIterator.sum
    val weights = (0 until buckets).map { b =>
      val num = (pc.getOrElse(b.toLong, 0L) + 1.0) * (nn + buckets)
      val den = (nc.getOrElse(b.toLong, 0L) + 1.0) * (np + buckets)
      roundHalfAway(math.log(num / den) * 1e6)
    }
    NbModel(weights, roundHalfAway(math.log(dp.toDouble / dn) * 1e6))
  }

  /** The frozen model as a frame — (b, w6) over the dense bucket
    * domain plus the bias as the b = −1 row (the written-artifact
    * encoding; −1 can never collide with a bucket). This is what
    * `q_quality_classifier` oracles: the TRAINING itself replays
    * relationally.
    */
  def modelFrame(spark: SparkSession, model: NbModel): DataFrame = {
    import spark.implicits._
    ((-1L, model.bias6) +:
      model.weights6.zipWithIndex.map { case (w, b) => (b.toLong, w) })
      .toDF("b", "w6")
  }

  /** Persist the classifier — same parquet shape as [[modelFrame]]
    * (the writeDsirModel lifecycle).
    */
  def writeNbModel(spark: SparkSession, model: NbModel,
      dir: String): Unit =
    modelFrame(spark, model).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  def readNbModel(spark: SparkSession, dir: String): NbModel = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = rows.size - 1
    require(b > 0 && b <= Dsir.MaxBuckets && rows.contains(-1L) &&
      (0 until b).forall(i => rows.contains(i.toLong)),
      s"$dir does not hold a dense bucket domain + bias row " +
        s"(${rows.size} rows)")
    NbModel((0 until b).map(i => rows(i.toLong)), rows(-1L))
  }

  /** Row-local decision score in integer micro-nats over a pre-split
    * token array — the serving form, and the composed twin of
    * [[scoreCol]]'s native fused expression. Bit-equal to the
    * relational replay by the shared-expression construction.
    */
  def decision6Local(model: NbModel)(ws: Column): Column =
    Dsir.score6Local(Dsir.DsirModel(model.weights6))(ws) +
      lit(model.bias6)

  /** The decision score column for `df` — native fused scorer when
    * the session registers graft's functions, composed fold
    * otherwise (the [[Dsir.score6For]] dispatch, shared weights
    * array shape).
    */
  def decision6For(df: DataFrame, model: NbModel)(ws: Column): Column =
    Dsir.score6For(df, Dsir.DsirModel(model.weights6))(ws) +
      lit(model.bias6)

  /** Score every document: (id, nb_score in nats at the exact
    * 4-decimal readout, keep = MAP-positive). Zero-shuffle narrow
    * pass.
    */
  def nbScore(docs: DataFrame, model: NbModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        decision6For(docs, model)(words(col(textCol))).as("__d6"))
      .select(col(idCol),
        Dsir.micro4(col("__d6")).as("nb_score"),
        (col("__d6") > 0).as("keep"))

  /** The gate itself: the rows the classifier keeps (decision6 >
    * `threshold6` micro-nats — 0 is the MAP rule; a caller trading
    * recall for precision raises it). Row payloads pass through
    * untouched; the score column is not materialized in the output.
    */
  def nbGate(docs: DataFrame, model: NbModel, threshold6: Long = 0L,
      textCol: String = "text"): DataFrame =
    docs.filter(
      decision6For(docs, model)(words(col(textCol))) > lit(threshold6))

  /** Precision/recall operating points of the gate over LABELED
    * documents, one row per candidate threshold (micro-nats) — the
    * calibration readout a pipeline owner uses to pick the
    * precision/recall trade before deploying the gate (the
    * annRecall-style eval companion).
    *
    * Exactness: TP/FP/FN are integer counts and precision/recall use
    * the exact long-division 4-decimal readout (the tokenFertility
    * contract — no binary double before the final /10⁴); an
    * undefined ratio (empty denominator) reads NULL.
    *
    * Scale shape: one narrow scoring pass; each row then fans out to
    * |thresholds| (bounded, a literal) and ONE aggregation with
    * map-side combine rolls everything to |thresholds| rows.
    */
  def prCurve(docs: DataFrame, model: NbModel, labelPred: Column,
      thresholds6: Seq[Long], textCol: String = "text"): DataFrame = {
    require(thresholds6.nonEmpty, "prCurve needs at least one threshold")
    docs
      .select(coalesce(labelPred, lit(false)).as("__pos"),
        decision6For(docs, model)(words(col(textCol))).as("__d6"))
      .select(col("__pos"), col("__d6"),
        explode(typedlit(thresholds6)).as("t6"))
      .groupBy(col("t6"))
      .agg(
        count(when(col("__pos") && col("__d6") > col("t6"), 1)).as("tp"),
        count(when(!col("__pos") && col("__d6") > col("t6"), 1)).as("fp"),
        count(when(col("__pos") && col("__d6") <= col("t6"), 1)).as("fn"))
      .select(col("t6"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("(tp * 20000 + (tp + fp)) div (2 * (tp + fp))") /
            lit(10000.0)).as("precision"),
        when(col("tp") + col("fn") > 0,
          expr("(tp * 20000 + (tp + fn)) div (2 * (tp + fn))") /
            lit(10000.0)).as("recall"))
      .orderBy(col("t6"))
  }
}
