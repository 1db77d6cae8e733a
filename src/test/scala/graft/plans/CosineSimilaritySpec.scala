package graft.plans

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.similarity.Similarity

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir)

  test("native expression is registered in the session") {
    assert(GraftFunctions.isRegistered(spark))
  }

  test("native cosine ≡ composed cosine bitwise on real embeddings") {
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val both = emb.crossJoin(broadcast(q)).select(
      $"vec_id",
      graft.Composed.cosine($"embedding", $"q_emb").as("composed"),
      call_function(GraftFunctions.CosineName,
        $"embedding".cast("array<double>"), $"q_emb".cast("array<double>"))
        .as("native"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("native expression participates in whole-stage codegen") {
    // AQE's unfinalized wrapper reports no codegen subtrees; disable
    // it for the plan inspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
      val df = emb.crossJoin(broadcast(q)).select(
        call_function(GraftFunctions.CosineName,
          $"embedding".cast("array<double>"), $"q_emb".cast("array<double>")))
      // CodegenMode actually generates the java source — a fallback
      // expression would produce zero codegen'd subtrees here
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      assert(p.contains("WholeStageCodegen"), p.take(500))
      assert(p.contains("cosinesimilarity"), p.take(800))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("known values: orthogonal=0, identical=1, opposite=-1") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(-1.0, 0.0))
    ).toDF("a", "b")
    val r = df.select(call_function(GraftFunctions.CosineName, $"a", $"b"))
      .collect().map(_.getDouble(0))
    assert(r(0) === 0.0)
    assert(math.abs(r(1) - 1.0) < 1e-15)
    assert(r(2) === -1.0)
  }

  test("zero-norm vector matches the composed Divide in both ANSI modes") {
    // ansi is captured at analysis time, so each frame is built AFTER
    // flipping the conf
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val rows = Seq(
        (Array(0.0, 0.0), Array(1.0, 2.0)),  // zero left norm
        (Array.empty[Double], Array(1.0, 2.0)),  // length mismatch → null
        (Array.empty[Double], Array.empty[Double]),  // empty↔empty → zero denom
        (Array(1.0, 1.0), Array(1.0, 2.0))   // control: defined
      ).toDF("a", "b").select(
        call_function(GraftFunctions.CosineName, $"a", $"b").as("native"),
        graft.Composed.cosine($"a", $"b").as("composed")).collect()
      assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
      assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
      assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
      assert(!rows(3).isNullAt(0) &&
        java.lang.Double.doubleToLongBits(rows(3).getDouble(0)) ===
          java.lang.Double.doubleToLongBits(rows(3).getDouble(1)))

      spark.conf.set("spark.sql.ansi.enabled", "true")
      val zero = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
      val eNative = intercept[Exception] {
        zero.select(call_function(GraftFunctions.CosineName, $"a", $"b")).collect()
      }
      assert(eNative.getMessage.contains("DIVIDE_BY_ZERO"), eNative.getMessage)
      val eComposed = intercept[Exception] {
        zero.select(graft.Composed.cosine($"a", $"b")).collect()
      }
      assert(eComposed.getMessage.contains("DIVIDE_BY_ZERO"), eComposed.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("type check rejects non-double arrays") {
    val df = Seq((Array("x"), Array("y"))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(call_function(GraftFunctions.CosineName, $"a", $"b")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<double>") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
