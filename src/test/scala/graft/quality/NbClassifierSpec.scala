package graft.quality

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Learned quality-classifier contract: closed-form NB training
  * pinned against an exact Scala reference (local md5 → bucket →
  * per-class add-1 ln-ratio micro-nats + prior bias), serving
  * parity (local column ≡ scorer path ≡ written artifact), the MAP
  * gate, and the semantic sanity that the learned gate actually
  * separates the classes it was trained on.
  */
class NbClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val B = 32

  // long docs (positive: >= 6 words) repeat a distinct vocabulary
  // from the short ones so the classes are separable
  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again", true),
    (2L, "a long winded sentence keeps going with many many words", true),
    (3L, "substantial prose continues across several varied tokens here", true),
    (4L, "another lengthy document with plenty of descriptive words inside", true),
    (5L, "short note", false),
    (6L, "tiny text", false),
    (7L, "brief memo", false),
    (8L, "ok", false),
    (9L, "", false),
    (10L, "the quick brown fox returns with many varied words today", true))

  private def df = docs.map { case (id, t, p) => (id, t, p) }
    .toDF("doc_id", "text", "pos")

  private def md5hex(s: String) =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bucket(g: String): Long =
    java.lang.Long.parseLong(md5hex(g).take(15), 16) % B

  private def gramsOf(text: String): Seq[String] = {
    val ws = text.split(" ", -1).toSeq
    ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  private def roundHalfAway(x: Double): Long =
    if (x < 0) -math.round(-x) else math.round(x)

  // exact local reference of nbTrain over the full fixture
  private lazy val refModel: NbClassifier.NbModel = {
    val pGrams = docs.filter(_._3).flatMap(d => gramsOf(d._2))
    val nGrams = docs.filterNot(_._3).flatMap(d => gramsOf(d._2))
    val pc = pGrams.groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val nc = nGrams.groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val np = pGrams.size.toLong
    val nn = nGrams.size.toLong
    val w = (0 until B).map { b =>
      val num = (pc.getOrElse(b.toLong, 0L) + 1.0) * (nn + B)
      val den = (nc.getOrElse(b.toLong, 0L) + 1.0) * (np + B)
      roundHalfAway(math.log(num / den) * 1e6)
    }
    val dp = docs.count(_._3).toLong
    val dn = docs.count(!_._3).toLong
    NbClassifier.NbModel(w, roundHalfAway(math.log(dp.toDouble / dn) * 1e6))
  }

  private def refDecision6(text: String): Long =
    refModel.bias6 + gramsOf(text).map(g =>
      refModel.weights6(bucket(g).toInt)).sum

  test("nbTrain matches the exact local reference, weights and bias") {
    val m = NbClassifier.nbTrain(df, col("pos"), B)
    assert(m.weights6 === refModel.weights6)
    assert(m.bias6 === refModel.bias6)
  }

  test("nbScore decision equals the per-doc exact long replay, " +
      "and keep is the MAP bit") {
    val m = NbClassifier.nbTrain(df, col("pos"), B)
    val got = NbClassifier.nbScore(df, m)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .sortBy(_._1)
    got.foreach { case (id, score, keep) =>
      val d6 = refDecision6(docs.find(_._1 == id).get._2)
      val want = (if (d6 < 0) -math.floor((-d6 + 50) / 100.0)
        else math.floor((d6 + 50) / 100.0)) / 10000.0
      assert(score === want, s"doc $id")
      assert(keep === (d6 > 0), s"doc $id")
    }
  }

  test("the learned gate separates the classes it trained on") {
    val m = NbClassifier.nbTrain(df, col("pos"), B)
    val kept = NbClassifier.nbGate(df, m)
      .select(col("doc_id")).as[Long].collect().toSet
    // NB on its own training data: every substantial doc kept, every
    // short doc dropped (the vocabularies are disjoint by fixture)
    assert(kept === docs.filter(_._3).map(_._1).toSet)
  }

  test("decision6Local over pre-split tokens ≡ the scorer path " +
      "(serving form)") {
    val m = NbClassifier.nbTrain(df, col("pos"), B)
    val viaLocal = df
      .select(col("doc_id"),
        NbClassifier.decision6Local(m)(
          graft.functions.TextFunctions.words(col("text"))).as("d6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFor = df
      .select(col("doc_id"),
        NbClassifier.decision6For(df, m)(
          graft.functions.TextFunctions.words(col("text"))).as("d6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLocal === viaFor)
    viaLocal.foreach { case (id, d6) =>
      assert(d6 === refDecision6(docs.find(_._1 == id).get._2), s"doc $id")
    }
  }

  test("write/read round-trips the artifact and serves identically") {
    val m = NbClassifier.nbTrain(df, col("pos"), B)
    val dir = tempDir("nb-model")
    NbClassifier.writeNbModel(spark, m, dir)
    val back = NbClassifier.readNbModel(spark, dir)
    assert(back === m)
    val a = NbClassifier.nbScore(df, m).collect().map(_.toSeq).toSeq
    val b = NbClassifier.nbScore(df, back).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("modelFrame carries the bias as the b = -1 row") {
    val m = NbClassifier.nbTrain(df, col("pos"), B)
    val rows = NbClassifier.modelFrame(spark, m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(-1L) === m.bias6)
    assert((0 until B).forall(b => rows(b.toLong) === m.weights6(b)))
  }

  test("a one-class corpus is refused loudly") {
    val ex = intercept[IllegalArgumentException] {
      NbClassifier.nbTrain(df, lit(true), B)
    }
    assert(ex.getMessage.contains("non-empty"))
  }

  test("null label predicate rows count as negative (coalesce contract)") {
    val withNull = Seq((1L, "many varied words in this longer text", Some(true)),
      (2L, "short", Some(false)), (3L, "unknown label text", None))
      .toDF("doc_id", "text", "pos")
    val m = NbClassifier.nbTrain(withNull, col("pos"), B)
    // doc 3's grams land in the NEGATIVE class counts
    val neg = gramsOf("unknown label text").map(bucket).toSet
    assert(neg.exists(b => m.weights6(b.toInt) < 0))
  }
}
