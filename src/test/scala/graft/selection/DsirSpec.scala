package graft.selection

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** DSIR importance-resampling contract, pinned against an exact
  * Scala reference (local md5 → bucket → add-1 log-ratio micro-nats
  * → long sums), plus the model write/read lifecycle and the
  * semantic sanity that target-like documents outscore the rest.
  */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val B = 32

  private val docs = Seq(
    (1L, "the cat sat on the mat", "en"),
    (2L, "the dog ran to the park", "en"),
    (3L, "a cat and a dog", "en"),
    (4L, "der hund lief zum park", "de"),
    (5L, "die katze sass auf der matte", "de"),
    (6L, "el gato y el perro", "es"),
    (7L, "the cat and the dog sat", "en"),
    (8L, "un chat et un chien", "fr"),
    (9L, "", "en"),
    (10L, "park", "de"))

  private def df = docs.toDF("doc_id", "text", "lang")

  private def md5hex(s: String) =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  private def bucket(g: String): Long = h60(g) % B

  private def gramsOf(text: String): Seq[String] = {
    val ws = text.split(" ", -1).toSeq
    ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  // exact local reference of dsirTrain on (raw = all, target = en)
  private lazy val refRatios: IndexedSeq[Long] = {
    val tGrams = docs.filter(_._3 == "en").flatMap(d => gramsOf(d._2))
    val rGrams = docs.flatMap(d => gramsOf(d._2))
    val tc = tGrams.groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val rc = rGrams.groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val nt = tGrams.size.toLong
    val nr = rGrams.size.toLong
    (0 until B).map { b =>
      val num = (tc.getOrElse(b.toLong, 0L) + 1.0) * (nr + B)
      val den = (rc.getOrElse(b.toLong, 0L) + 1.0) * (nt + B)
      // half AWAY from zero — the engines' round(), not math.round
      val x = math.log(num / den) * 1e6
      if (x < 0) -math.round(-x) else math.round(x)
    }
  }

  private def refScore6(text: String): Long =
    gramsOf(text).map(g => refRatios(bucket(g).toInt)).sum

  private def gumbel6(id: Long): Long = {
    val u = (h60(id.toString) + 0.5) / 1.152921504606846976e18
    math.round(-math.log(-math.log(u)) * 1e6)
  }

  test("dsirTrain matches the exact local reference") {
    val m = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    assert(m.ratios6 == refRatios)
  }

  test("dsirScore matches exact per-doc micro-nat sums") {
    val m = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    val got = Dsir.dsirScore(df, m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def micro4(c6: Long): Double = {
      val m = (math.abs(c6) + 50) / 100
      (if (c6 < 0) -m else m) / 10000.0
    }
    val want = docs.map { case (id, text, _) =>
      val g = gramsOf(text)
      (id, g.size.toLong, micro4(refScore6(text)))
    }.toSet
    assert(got == want)
  }

  test("dsirSelect is the Gumbel top-n with id tie-break") {
    val m = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    val n = 4
    val got = Dsir.dsirSelect(df, m, n).collect()
      .map(r => r.getLong(0)).toSet
    val want = docs.map { case (id, text, _) =>
      (id, refScore6(text) + gumbel6(id))
    }.sortBy { case (id, key) => (-key, id) }.take(n).map(_._1).toSet
    assert(got == want)
  }

  test("model write/read round-trips and scores identically") {
    val m = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    val dir = tempDir("dsir-model")
    Dsir.writeDsirModel(spark, m, dir)
    val back = Dsir.readDsirModel(spark, dir)
    assert(back.ratios6 == m.ratios6)
  }

  test("target-like documents outscore off-target ones on average") {
    val m = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    val scored = Dsir.dsirScore(df.filter(length(col("text")) > 0), m)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val byLang = docs.filter(_._2.nonEmpty)
      .groupBy(_._3).map { case (l, ds) =>
        l -> ds.map(d => scored(d._1) / gramsOf(d._2).size).sum / ds.size
      }
    assert(byLang("en") > byLang("de"))
    assert(byLang("en") > byLang("es"))
  }

  test("single-scan dsirTrainWith equals the two-frame dsirTrain") {
    val two = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    val one = Dsir.dsirTrainWith(df, col("lang") === "en", B)
    assert(one.ratios6 == two.ratios6)
  }

  test("native DsirScore6 ≡ composed HOF fold (nulls, empties, unicode)") {
    val m = Dsir.dsirTrain(df, df.filter(col("lang") === "en"), B)
    val edge = Seq(
      (100L, Some("the cat sat")),
      (101L, Some("")),
      (102L, Some("word")),
      (103L, None),
      (104L, Some("naïve café 模型 тест")),
      (105L, Some("a  b")) // empty token from the double space
    ).toDF("doc_id", "text")
    val ws = graft.functions.TextFunctions.words(col("text"))
    val got = edge.select(col("doc_id"),
        Dsir.score6For(edge, m)(ws).as("native"),
        Dsir.score6Local(m)(ws).as("composed"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    assert(graft.plans.GraftFunctions.isRegistered(spark))
    got.foreach { case (id, n, c) => assert(n == c, s"doc $id: $n != $c") }
    assert(got.find(_._1 == 103L).get._2 == null)
  }

  test("native DsirBuckets ≡ composed featureGrams→bucketOf, element for element") {
    assert(graft.plans.GraftFunctions.isRegistered(spark))
    val edge = Seq(
      (100L, Some("the cat sat on the mat")),
      (101L, Some("")),
      (102L, Some("word")),
      (103L, None),
      (104L, Some("naïve café 模型 тест")),
      (105L, Some("a  b")), // empty token from the double space
      (106L, Some("x y z x y"))
    ).toDF("doc_id", "text")
    for (b <- Seq(7, B, 1024)) {
      val ws = graft.functions.TextFunctions.words(col("text"))
      val native = call_function(
        graft.plans.TextHashFunctions.DsirBucketsName, ws, lit(b))
      val composed = transform(Dsir.featureGrams(ws),
        g => Dsir.bucketOf(g, b))
      val rows = edge.select(col("doc_id"), native.as("n"),
          composed.as("c")).collect()
      rows.foreach { r =>
        val n = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        val c = if (r.isNullAt(2)) null else r.getSeq[Long](2)
        assert(n == c, s"doc ${r.getLong(0)} buckets=$b: $n != $c")
      }
      assert(rows.find(_.getLong(0) == 103L).get.isNullAt(1))
    }
  }

  test("dsirCountsSplit drops NULL-predicate rows from both sides") {
    // the single grouped pass must match the two-filter form it
    // replaced: filter(p) and filter(!p) both exclude NULLs (verdict
    // r16 #6 — pin the contract so a future edit can't silently
    // change the equivalence)
    val withNull = df.withColumn("flag",
      when(col("doc_id") === 1L, lit(null).cast("boolean"))
        .otherwise(col("doc_id") % 2 === 0))
    val (yes, no) = Dsir.dsirCountsSplit(withNull, col("flag"),
      col("lang") === "en", B)
    val yesRef = Dsir.dsirCountsOf(withNull.filter(col("flag")),
      col("lang") === "en", B)
    val noRef = Dsir.dsirCountsOf(withNull.filter(!col("flag")),
      col("lang") === "en", B)
    assert(yes.raw == yesRef.raw && yes.target == yesRef.target)
    assert(no.raw == noRef.raw && no.target == noRef.target)
  }

  test("count model merges exactly: base + increment ≡ full retrain") {
    val full = Dsir.dsirTrainWith(df, col("lang") === "en", B)
    val base = Dsir.dsirCountsOf(df.filter(col("doc_id") <= 5),
      col("lang") === "en", B)
    val inc = Dsir.dsirCountsOf(df.filter(col("doc_id") > 5),
      col("lang") === "en", B)
    val merged = base.merge(inc)
    assert(merged.toModel.ratios6 == full.ratios6)
    // counts persist and reload bit-for-bit
    val dir = tempDir("dsir-counts")
    Dsir.writeDsirCounts(spark, merged, dir)
    val back = Dsir.readDsirCounts(spark, dir)
    assert(back.raw == merged.raw && back.target == merged.target)
    // mismatched bucket domains refuse to merge
    intercept[IllegalArgumentException] {
      base.merge(Dsir.dsirCountsOf(df, col("lang") === "en", B / 2))
    }
  }

  test("buckets cap is enforced") {
    intercept[IllegalArgumentException] {
      Dsir.dsirTrain(df, df, Dsir.MaxBuckets + 1)
    }
  }
}
