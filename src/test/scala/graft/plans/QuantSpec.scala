package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.similarity.Similarity

/** Parity of the native quantization kernels (QuantExprs) against
  * the composed higher-order-function forms they replace — fuzzed on
  * adversarial vectors: negatives, exact rounding-boundary halves,
  * NaN/±Inf degrade, empty arrays, null arrays, null elements, float
  * and double element types.
  */
class QuantSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260814)

  private def randVec(): Seq[Option[Float]] = {
    val n = rnd.nextInt(12)
    Seq.fill(n)(rnd.nextInt(20) match {
      case 0 => None // null element
      case 1 => Some(0.0f)
      case _ => Some((rnd.nextFloat() - 0.5f) * rnd.nextInt(1000))
    })
  }

  private val fuzz: Seq[Option[Seq[Option[Float]]]] =
    Seq(
      None,                                     // null vector
      Some(Seq.empty),                          // empty
      Some(Seq(Some(Float.NaN), Some(1.0f))),   // NaN degrade
      Some(Seq(Some(Float.PositiveInfinity))),  // +Inf degrade
      Some(Seq(Some(Float.NegativeInfinity))),  // -Inf degrade
      Some(Seq(None, None)),                    // all-null elements
      Some(Seq(Some(127.0f), Some(0.5f), Some(-0.5f), Some(1.5f))), // halves
      Some(Seq(Some(-3.0f), Some(2.0f), None, Some(1.0f)))          // mixed
    ) ++ Seq.fill(60)(Some(randVec()))

  private lazy val df = fuzz.zipWithIndex
    .map { case (v, i) => (i.toLong, v) }
    .toDF("id", "v")
    .select(col("id"), col("v").cast("array<float>").as("v"))

  private def composedStats(vd: org.apache.spark.sql.Column) = {
    val scale = graft.Composed.quantScale(vd)
    val qvec = graft.Composed.quantizeVec(vd)
    struct(scale.as("scale"),
      aggregate(qvec, lit(0L), (a, x) => a + abs(x)).as("q_l1"),
      array_max(qvec).as("q_max"),
      array_min(qvec).as("q_min"),
      size(filter(qvec, x => x =!= 0)).as("n_nonzero"))
  }

  test("native quant stats ≡ composed, field by field") {
    Seq(col("v"), col("v").cast("array<double>")).foreach { vcol =>
      val rows = df.select(col("id"),
        composedStats(vcol).as("c"),
        call_function(TextHashFunctions.QuantStatsName, vcol).as("n"))
        .select(col("id"), col("c.*"),
          col("n.scale").as("n_scale"), col("n.q_l1").as("n_q_l1"),
          col("n.q_max").as("n_q_max"), col("n.q_min").as("n_q_min"),
          col("n.n_nonzero").as("n_n_nonzero"))
        .collect()
      rows.foreach { r =>
        def cmp[T](a: Int, b: Int): Unit =
          assert((if (r.isNullAt(a)) null else r.get(a)) ===
            (if (r.isNullAt(b)) null else r.get(b)),
            s"id=${r.getLong(0)} field $a vs $b: $r")
        cmp(1, 6); cmp(2, 7); cmp(3, 8); cmp(4, 9); cmp(5, 10)
      }
    }
  }

  test("native quantize vec ≡ composed (scale + every entry)") {
    val rows = df.select(col("id"),
      graft.Composed.quantScale(col("v")).as("cs"),
      graft.Composed.quantizeVec(col("v")).as("cq"),
      call_function(TextHashFunctions.QuantizeVecName, col("v")).as("n"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getStruct(3).getDouble(0),
        s"scale id=${r.getLong(0)}")
      val cq = if (r.isNullAt(2)) null else r.getSeq[Any](2)
      val nq = if (r.getStruct(3).isNullAt(1)) null
        else r.getStruct(3).getSeq[Any](1)
      assert(cq === nq, s"qvec id=${r.getLong(0)}")
    }
  }

  test("native qdot ≡ composed: values, null elements, length mismatch") {
    val pairs = Seq(
      (Seq(Some(1), Some(-2), Some(3)), Seq(Some(4), Some(5), Some(-6))),
      (Seq(Some(127), Some(127)), Seq(Some(127), Some(127))),
      (Seq(Some(1), None), Seq(Some(1), Some(1))),    // null element
      (Seq(Some(1), Some(2)), Seq(Some(1))),          // length mismatch
      (Seq.empty[Option[Int]], Seq.empty[Option[Int]]))
      .zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("id", "a", "b")
    val rows = pairs.select(col("id"),
      graft.Composed.qdot(col("a"), col("b")).as("c"),
      call_function(TextHashFunctions.QdotName, col("a"), col("b")).as("n"))
      .collect()
    rows.foreach { r =>
      val c = if (r.isNullAt(1)) null else r.getLong(1)
      val n = if (r.isNullAt(2)) null else r.getLong(2)
      assert(c === n, s"id=${r.getInt(0)}")
    }
    // null ARRAY input → null on both paths
    val nullRow = Seq((Option.empty[Seq[Int]], Option(Seq(1, 2))))
      .toDF("a", "b")
      .select(graft.Composed.qdot(col("a"), col("b")).as("c"),
        call_function(TextHashFunctions.QdotName, col("a"), col("b")).as("n"))
      .head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
  }

  test("native token entropy ≡ composed fold bitwise, corpus + edges") {
    import graft.textanalysis.TextAnalysis
    import graft.functions.TextFunctions.words
    val docs = graft.Tables.documents(spark, sfDir).limit(60)
      .select(words(col("text")).as("ws"))
      // adversarial: single token, all-same, null elements,
      // interleaved runs, unicode ordering (the n = 0 empty array is
      // pinned separately below — the SHARED readout division throws
      // under ANSI on both paths)
      .unionByName(Seq(
        Seq("only"),
        Seq("x", "x", "x", "x"),
        Seq("b", "a", "b", "a", "b"),
        Seq("é", "e", "z", "é"),
        Seq("", "", "a")).toDF("ws"))
      .unionByName(Seq(
        (Seq(Option("a"), None, Option("a"), None)),
        (Seq(Option.empty[String])))
        .toDF("ws"))
    val rows = docs.select(
      graft.Composed.entropyNats(col("ws")).as("c"),
      TextAnalysis.entropyNatsFor(docs)(col("ws")).as("n"))
      .collect()
    rows.foreach { r =>
      val c = if (r.isNullAt(0)) null else r.get(0)
      val n = if (r.isNullAt(1)) null else r.get(1)
      assert((c == null && n == null) ||
        (c != null && n != null &&
          (c.asInstanceOf[Double].isNaN && n.asInstanceOf[Double].isNaN ||
           c == n)), s"composed=$c native=$n")
    }
    // n = 0: the shared ÷(n·10⁶) readout throws ANSI divide-by-zero
    // on BOTH paths — same contract, pinned
    val empty = Seq(Seq[String]()).toDF("ws")
    Seq(graft.Composed.entropyNats(col("ws")),
        TextAnalysis.entropyNatsFor(empty)(col("ws"))).foreach { e =>
      val thrown = intercept[Exception] { empty.select(e).collect() }
      assert(thrown.getMessage.contains("DIVIDE_BY_ZERO"),
        thrown.getMessage.take(120))
    }
  }

  test("native BPE encode ≡ composed replace chain, corpus + edges") {
    import graft.textanalysis.TextAnalysis
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(40)
      .unionByName(Seq(
        (9001L, ""),                      // empty text
        (9002L, "a"),                     // single char
        (9003L, "aaaa aaa aa"),           // run-heavy (overlap rules)
        (9004L, "x<y z>w u_v"),           // all words illegal → ""
        (9005L, "ééé abc ééé"))           // unicode
        .toDF("doc_id", "text"))
    val merges = TextAnalysis.bpeMerges(docs, 8)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // composed reference: a registration-free session would take the
    // transform path — emulate it by calling the private chain via a
    // session WITHOUT the native function. Simpler: compare against
    // the bracket-encode/replace pipeline inlined here.
    import org.apache.spark.sql.Column
    def encoded(w: Column): Column =
      concat(lit("<"), array_join(split(w, ""), "><"), lit("><_>"))
    def applyMerges(s: Column): Column =
      merges.foldLeft(s) { case (c, (a, b)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(s"<$a><$b>"),
          java.util.regex.Matcher.quoteReplacement(s"<$a$b>"))
      }
    def tokensOf(w: Column): Column = {
      val t = org.apache.spark.sql.functions.replace(
        applyMerges(encoded(w)), lit("><"), lit(" "))
      t.substr(lit(2), length(t) - 2)
    }
    val legal = filter(graft.functions.TextFunctions.words(col("text")),
      w => w =!= "" && !w.contains("<") && !w.contains(">") &&
        !w.contains("_"))
    val rows = docs.select(
      array_join(transform(legal, w => tokensOf(w)), " ").as("c"),
      array_join(call_function(TextHashFunctions.BpeEncodeName, legal,
        typedlit(merges.flatMap(m => Seq(m._1, m._2)).toVector)), " ")
        .as("n"))
      .collect()
    rows.foreach(r => assert(r.getString(0) === r.getString(1)))
    // and end-to-end: bpeEncode (native path — the test session is
    // registered) against the oracle-shaped outer columns
    val enc = TextAnalysis.bpeEncode(docs, merges).collect()
    assert(enc.length === docs.count())
  }

  test("quantizeEmbeddings native path ≡ composed projection") {
    val composed = df.select(col("id").as("vec_id"),
      graft.Composed.quantScale(col("v")).as("scale"),
      graft.Composed.quantizeVec(col("v")).as("qvec"))
    val native = Similarity.quantizeEmbeddings(df, "id", "v")
      .withColumnRenamed("id", "vec_id")
    val c = composed.orderBy("vec_id").collect()
    val n = native.orderBy("vec_id").collect()
    assert(c.length === n.length)
    c.zip(n).foreach { case (a, b) => assert(a === b) }
  }
}
