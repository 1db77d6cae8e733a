package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path: a session built with
  * spark.sql.extensions=graft.plans.GraftExtensions gets every
  * native function in SQL with no imperative register call, and the
  * library (SparkEntry queries) runs unmodified on it.
  */
class GraftExtensionsSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  // separate session on purpose: proves injection, not register().
  // getOrCreate() would hand back the suite-shared session (configs
  // silently ignored), so the default is cleared first and restored
  // after — the underlying SparkContext is reused either way.
  private var saved: Option[SparkSession] = None

  lazy val spark: SparkSession = {
    saved = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // spark.sql.extensions is STATIC — ignored when another suite's
    // SparkContext already exists — but withExtensions applies at
    // session construction unconditionally
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    saved match {
      case Some(prev) =>
        SparkSession.setDefaultSession(prev)
        SparkSession.setActiveSession(prev)
      case None =>
        // this suite ran first: don't leak the extensions session as
        // the JVM-wide default into later suites
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
    }
    super.afterAll()
  }

  test("injected functions are callable from plain SQL") {
    val r = spark.sql(
      """SELECT
         graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
         graft_minhash(array('a','b','c'), 2, 4) AS mh,
         graft_simhash(array('x','y')) AS sh,
         graft_srp_bucket(array(0.5d, -0.5d), 4) AS b""").head
    assert(r.getDouble(0) === 1.0)
    assert(r.getSeq[Long](1).length === 4)
    assert(r.getSeq[Long](2).length === 4)
    assert(r.getLong(3) >= 0L && r.getLong(3) <= 15L)
  }

  test("md5-mode functions are injected too (the cross-engine family)") {
    val r = spark.sql(
      """SELECT
         graft_minhash_md5(array('a','b','c'), 2, 4) AS mh,
         graft_simhash_md5(array('abc')) AS sh,
         graft_srp_bucket_md5(array(0.5d, -0.5d), 4) AS b""").head
    val mh = r.getSeq[String](0)
    assert(mh.length === 4 && mh.forall(_.matches("[0-9a-f]{32}")))
    // md5("abc") = 900150983cd24fb0… — bands are its 16-bit chunks
    assert(r.getSeq[Long](1) === Seq(0x9001L, 0x5098L, 0x3cd2L, 0x4fb0L))
    assert(r.getLong(2) >= 0L && r.getLong(2) <= 15L)
  }

  test("library queries run on an extensions-built session") {
    val df = graft.SparkEntry.queries("q_minhash_neardup")(
      spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
  }

  test("optimizer rule rewrites composed jaccard to the native expression") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("the quick brown fox", "the quick brown dog"),
      ("alpha beta", "gamma delta")
    ).toDF("a", "b")
    val composed = df.select(graft.dedup.Dedup.jaccard(
      graft.dedup.Dedup.shingles($"a", 1),
      graft.dedup.Dedup.shingles($"b", 1)).as("j"))
    // literal input constant-folds to a LocalRelation, so assert the
    // rewrite on a parquet-backed plan where folding can't pre-empt it
    val onTable = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(graft.dedup.Dedup.jaccard(
        graft.dedup.Dedup.shingles(col("text"), 2),
        graft.dedup.Dedup.shingles(col("lang"), 1)).as("j"))
    assert(onTable.queryExecution.optimizedPlan.toString
      .contains("jaccardsimilarity"),
      onTable.queryExecution.optimizedPlan.toString)
    // values match the hand-computed set jaccard (folded or not)
    val vals = composed.collect().map(_.getDouble(0))
    assert(vals(0) === 3.0 / 5.0)
    assert(vals(1) === 0.0)
  }

  test("optimizer rule rewrites composed cosine to the native expression") {
    import org.apache.spark.sql.functions._
    // parquet-backed plan so constant folding can't pre-empt the rule
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val df = emb.crossJoin(broadcast(q)).select(
      graft.Composed.cosine(col("embedding"), col("q_emb")).as("c"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("cosinesimilarity"), opt)
    // rewritten values are bit-equal to the independently re-derived
    // composed form (shape broken so the rule can't touch it)
    def dotPlus(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x) + lit(0.0)
    val both = emb.crossJoin(broadcast(q)).select(
      graft.Composed.cosine(col("embedding"), col("q_emb")).as("rw"),
      (dotPlus(col("embedding"), col("q_emb")) /
        (sqrt(dotPlus(col("embedding"), col("embedding"))) *
         sqrt(dotPlus(col("q_emb"), col("q_emb"))))).as("manual"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) === 0)
    }
  }

  test("try_divide-spelled cosine is NOT rewritten: null on zero norm even under ANSI") {
    import org.apache.spark.sql.functions._
    // ansi default is on in this session; try_divide must keep its
    // null-on-zero contract, so the rule has to leave it alone
    val zero = spark.range(1).select(
      expr("array(0.0d, 0.0d)").as("a"), expr("array(1.0d, 2.0d)").as("b"))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, p) => acc + p)
    val tried = zero.select(try_divide(dot(col("a"), col("b")),
      sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("b"), col("b")))).as("c"))
    assert(!tried.queryExecution.optimizedPlan.toString.contains("cosinesimilarity"))
    assert(tried.head.isNullAt(0)) // try semantics preserved, no throw
  }

  test("rewritten cosine: mismatched lengths and null elements → null (like zip_with)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // non-literal plan via range so folding doesn't bypass the rule
    val base = spark.range(1)
    val mismatch = base.select(
      expr("array(1.0d, 2.0d)").as("a"), expr("array(1.0d)").as("b"))
    val withNull = base.select(
      expr("array(1.0d, cast(null as double))").as("a"),
      expr("array(1.0d, 2.0d)").as("b"))
    def cos = graft.Composed.cosine(col("a"), col("b"))
    assert(mismatch.select(cos.as("c")).head.isNullAt(0))
    assert(withNull.select(cos.as("c")).head.isNullAt(0))
  }

  test("native jaccard ≡ composed jaccard on real shingle sets") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val a = docs.select(col("doc_id").as("ia"), col("text").as("ta"))
    val b = docs.select(col("doc_id").as("ib"), col("text").as("tb"))
    val pairs = a.join(b, col("ib") === col("ia") + 1)
    val sh1 = graft.dedup.Dedup.shingles(col("ta"), 2)
    val sh2 = graft.dedup.Dedup.shingles(col("tb"), 2)
    val both = pairs.select(
      graft.dedup.Dedup.jaccard(sh1, sh2).as("rewritten"), // rule fires
      // +0.0 breaks the Divide(Size,Size) shape, so these two stay
      // composed even under the rule — the independent re-derivation
      (size(array_intersect(sh1, sh2)) + lit(0.0)).as("inter"),
      (size(array_union(sh1, sh2)) + lit(0.0)).as("union"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // bitwise compare (also NaN-safe, unlike ===)
      assert(java.lang.Double.compare(
        r.getDouble(0), r.getDouble(1) / r.getDouble(2)) === 0)
    }
  }

  test("empty-union semantics match the replaced Divide in both ANSI modes") {
    import org.apache.spark.sql.functions._
    // non-literal frame so constant folding can't bypass the rule
    val one = spark.range(1).select(
      split(lit(""), ",", -1).as("a"), split(lit(""), ",", -1).as("b"))
    // split("") gives [""], so force genuinely empty arrays:
    val empty = one.select(
      expr("filter(a, x -> false)").as("a"), expr("filter(b, x -> false)").as("b"))
    def jq = graft.dedup.Dedup.jaccard(col("a"), col("b"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(empty.select(jq.as("j")).head.isNullAt(0)) // NULL, like Divide
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    val e = intercept[Exception] { empty.select(jq.as("j")).collect() }
    def chain = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("DIVIDE_BY_ZERO"), chain)
  }
}
