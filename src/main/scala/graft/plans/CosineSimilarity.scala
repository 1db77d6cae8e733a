package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two double
  * arrays in ONE fused loop with full codegen.
  *
  * The composed form (`aggregate(zip_with(a,b,*), ..)/sqrt(..)`)
  * walks both arrays four times and materializes an intermediate
  * product array per row; this walks them once, allocates nothing,
  * and inlines into WholeStageCodegen. Accumulation order is
  * ascending-index for all three sums — the same order the composed
  * form uses — so scores are bit-identical and the DuckDB oracle
  * comparison is unaffected.
  *
  * This is the (b) tier of the custom-operator ladder (compose
  * built-ins < custom Expression < custom SparkPlan): semantics fit
  * a scalar expression, so no LogicalPlan/Strategy machinery is
  * warranted.
  */
case class CosineSimilarity(left: Expression, right: Expression,
    ansi: Boolean) extends BinaryExpression {

  // Null contract matches the composed form exactly (required for
  // RewriteCosine to be a sound substitution):
  //  - mismatched lengths → null (zip_with pads with null, nullifying
  //    the whole sum) in BOTH modes;
  //  - any null element in either array → null, same reason;
  //  - zero norm → null non-ANSI, DIVIDE_BY_ZERO under ANSI.
  override def nullable: Boolean = true

  // AbstractDataType (and so ImplicitCastInputTypes) is private[sql];
  // callers cast to array<double> and this validates explicitly.
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(DoubleType) ||
        left.dataType == ArrayType(DoubleType, containsNull = false))
      if (right.dataType == ArrayType(DoubleType) ||
          right.dataType == ArrayType(DoubleType, containsNull = false))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"right argument must be array<double>, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckFailure(
      s"left argument must be array<double>, got ${left.dataType.sql}")

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) {
      if (ansi) throw JaccardUtil.divideByZeroError(origin.context)
      else null
    } else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val errCtx = ctx.addReferenceObj("errCtx", origin.context,
      classOf[org.apache.spark.QueryContext].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      val bad = ctx.freshName("bad")
      val onZero =
        if (ansi)
          s"throw graft.plans.JaccardUtil.divideByZeroError($errCtx);"
        else s"${ev.isNull} = true;"
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else {
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { $onZero }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: the composed cosine spelling
  *
  *   aggregate(zip_with(a,b,(x,y)=>x*y),0d,(s,x)=>s+x)
  *     / (sqrt(aggregate(zip_with(a,a,…)…)) * sqrt(aggregate(zip_with(b,b,…)…)))
  *
  * → CosineSimilarity(a,b) when all three dot products reference the
  * same (a,b) pair of double arrays. Injected via GraftExtensions;
  * applies to any query spelled the composed way, including raw SQL.
  * Sound because the native expression reproduces the composed null
  * contract exactly: mismatched lengths and null elements → null,
  * zero norm → null/DIVIDE_BY_ZERO per ANSI mode, and identical
  * ascending-index accumulation order (bit-equal scores, see spec).
  */
object RewriteCosine
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Divide, EvalMode, LambdaFunction, Literal, Multiply, NamedLambdaVariable, Sqrt, ZipWith}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** (x, y) => x * y over exactly the two lambda-bound variables. */
  private object MulLambda {
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
          Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
        l.exprId == x.exprId && r.exprId == y.exprId
      case _ => false
    }
  }

  /** (acc, x) => acc + x over exactly the two lambda-bound variables. */
  private object AddLambda {
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
          Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
        l.exprId == x.exprId && r.exprId == y.exprId
      case _ => false
    }
  }

  /** finish = identity (the default functions.aggregate emits). */
  private object IdLambda {
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(v: NamedLambdaVariable, Seq(x: NamedLambdaVariable), _) =>
        v.exprId == x.exprId
      case _ => false
    }
  }

  private object DotOf {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(ZipWith(a, b, mul), Literal(0.0, DoubleType), add, fin)
          if MulLambda.unapply(mul) && AddLambda.unapply(add) && IdLambda.unapply(fin) =>
        Some((a, b))
      case _ => None
    }
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // ansi comes from the MATCHED Divide's evalMode — the mode the
      // analyzer captured when the query was built — never from the
      // conf at optimization time (lazy optimization can run after a
      // conf flip). TRY-mode divides are left alone: try_divide
      // returns NULL on zero norms where the native ANSI path throws.
      // Nondeterministic inputs are left alone too: the composed form
      // re-evaluates them per dot product, the fused form once —
      // rewriting would change observable results.
      // NOTE: Divide's third ctor param is a NumericEvalContext in
      // Spark 4 — the mode must come from the node's evalMode accessor
      case d @ Divide(DotOf(a, b),
          Multiply(Sqrt(DotOf(a2, a3)), Sqrt(DotOf(b2, b3)), _), _)
          if d.evalMode != EvalMode.TRY &&
            a.deterministic && b.deterministic &&
            a.semanticEquals(a2) && a.semanticEquals(a3) &&
            b.semanticEquals(b2) && b.semanticEquals(b3) &&
            isDoubleArray(a) && isDoubleArray(b) =>
        CosineSimilarity(a, b, d.evalMode == EvalMode.ANSI)
    }
}

object GraftFunctions {
  val CosineName = "graft_cosine"
  val CollectTopKName = "graft_collect_top_k"

  private def arity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${exprs.length}")
      b(exprs)
    }

  /** Single source of truth for every native function: consumed by
    * register() (imperative) AND GraftExtensions (injection) so the
    * two paths can never drift.
    */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    (CosineName,
      "cosine similarity of two array<double> in one fused pass",
      // ansi is captured at analysis time from the active session conf,
      // mirroring what the Divide in the composed form would have done
      arity(CosineName, 2)(e => CosineSimilarity(e(0), e(1),
        org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))),
    (TextHashFunctions.MinHashName,
      "MinHash signature over word n-grams: (words, n, k) -> array<long>",
      arity(TextHashFunctions.MinHashName, 3)(e => ShingleMinHash(e(0),
        TextHashFunctions.intLitValue(e(1)),
        TextHashFunctions.intLitValue(e(2))))),
    (TextHashFunctions.Md5MinHashName,
      "md5-mode MinHash signature (cross-engine hex): (words, n, k) -> array<string>",
      arity(TextHashFunctions.Md5MinHashName, 3)(e => ShingleMinHashMd5(e(0),
        TextHashFunctions.intLitValue(e(1)),
        TextHashFunctions.intLitValue(e(2))))),
    (TextHashFunctions.SimHashName,
      "64-bit SimHash as four 16-bit bands: (words) -> array<long>",
      arity(TextHashFunctions.SimHashName, 1)(e => SimHashBands64(e(0)))),
    (TextHashFunctions.Md5SimHashName,
      "md5-mode SimHash bands (cross-engine): (words) -> array<long>",
      arity(TextHashFunctions.Md5SimHashName, 1)(e => SimHashBandsMd5(e(0)))),
    (TextHashFunctions.SrpBucketName,
      "sign-random-projection LSH bucket: (array<double>, planes) -> long",
      arity(TextHashFunctions.SrpBucketName, 2)(e => SrpBucket(e(0),
        TextHashFunctions.intLitValue(e(1))))),
    (TextHashFunctions.Md5SrpBucketName,
      "md5-mode SRP-LSH bucket (cross-engine): (array<double>, planes) -> long",
      arity(TextHashFunctions.Md5SrpBucketName, 2)(e => SrpBucketMd5(e(0),
        TextHashFunctions.intLitValue(e(1))))),
    (TextHashFunctions.JlProjectName,
      "JL random projection onto md5 hyperplanes: (array<double>, " +
        "out-dim) -> array<double>",
      arity(TextHashFunctions.JlProjectName, 2)(e => JlProjectMd5(e(0),
        TextHashFunctions.intLitValue(e(1))))),
    (TextHashFunctions.RollingHashName,
      "Karp-Rabin rolling hash of a string in one pass: (string) -> long",
      arity(TextHashFunctions.RollingHashName, 1)(e => RollingHash(e(0)))),
    (TextHashFunctions.WordNgramsName,
      "word n-gram list in one pass: (array<string>, n) -> array<string>",
      arity(TextHashFunctions.WordNgramsName, 2)(e => WordNgrams(e(0),
        TextHashFunctions.intLitValue(e(1))))),
    (TextHashFunctions.MatVecName,
      "rotated projection: (array<double> vec, array<array<double>> " +
        "rows literal) -> array<double> of row dot products",
      arity(TextHashFunctions.MatVecName, 2)(e => MatVecProject(e(0), e(1)))),
    (TextHashFunctions.WordSegmentsName,
      "strided word segments in one pass: (array<string>, w) -> array<string>",
      arity(TextHashFunctions.WordSegmentsName, 2)(e => WordSegments(e(0),
        TextHashFunctions.intLitValue(e(1))))),
    (TextHashFunctions.SortedIntersectSizeName,
      "|A∩B| of two sorted distinct array<string> by linear merge",
      arity(TextHashFunctions.SortedIntersectSizeName, 2)(e =>
        SortedIntersectSize(e(0), e(1)))),
    (TextHashFunctions.DeflateRatioName,
      "zlib compressibility: deflated size / raw UTF-8 size of a string",
      arity(TextHashFunctions.DeflateRatioName, 1)(e => DeflateRatio(e(0)))),
    (TextHashFunctions.DsirScore6Name,
      "DSIR micro-nat score: (tokens, ratio-table literal) -> bigint",
      arity(TextHashFunctions.DsirScore6Name, 2)(e =>
        DsirScore6(e(0), e(1)))),
    (TextHashFunctions.DsirBucketsName,
      "DSIR feature-gram bucket ids: (tokens, buckets) -> array<bigint>",
      arity(TextHashFunctions.DsirBucketsName, 2)(e =>
        DsirBuckets(e(0), TextHashFunctions.intLitValue(e(1))))),
    (TextHashFunctions.QuantStatsName,
      "int8 quantization readout: (array<float|double>) -> " +
        "struct(scale, q_l1, q_max, q_min, n_nonzero)",
      arity(TextHashFunctions.QuantStatsName, 1)(e => QuantStats(e(0)))),
    (TextHashFunctions.QuantizeVecName,
      "int8 quantization: (array<float|double>) -> struct(scale, qvec)",
      arity(TextHashFunctions.QuantizeVecName, 1)(e => QuantizeVec(e(0)))),
    (TextHashFunctions.QdotName,
      "exact integer dot product of two array<int>",
      arity(TextHashFunctions.QdotName, 2)(e => QdotLong(e(0), e(1)))),
    (TextHashFunctions.TokenEntropy6Name,
      "micro-nat token-entropy sum of array<string> in one pass",
      arity(TextHashFunctions.TokenEntropy6Name, 1)(e =>
        TokenEntropy6(e(0)))),
    (TextHashFunctions.BpeEncodeName,
      "BPE-tokenize a word array: (words, merge-table literal) -> " +
        "array<string>",
      arity(TextHashFunctions.BpeEncodeName, 2)(e =>
        BpeEncodeWords(e(0), e(1)))),
    (CollectTopKName,
      "bounded top-k aggregate: (value, k, reverse) -> array of the k " +
        "largest values (the k smallest when reverse), one bounded " +
        "priority queue per partition",
      arity(CollectTopKName, 3)(e => new CollectTopK(e(0), e(1), e(2)))))

  /** Register graft's native expressions in a session (idempotent).
    * Library code never needs this: [[call]] registers on first use.
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }

  def isRegistered(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier(CosineName))

  /** The one way library code invokes a native expression: registers
    * the [[all]] table into `df`'s session when it is missing (a
    * [[GraftExtensions]] session already carries it), then resolves
    * `name` there. The session comes from the frame, not from
    * `SparkSession.active`, because plans are also built on pool
    * threads that have no active session.
    */
  def call(df: DataFrame)(name: String, args: Column*): Column = {
    if (!isRegistered(df.sparkSession)) register(df.sparkSession)
    call_function(name, args: _*)
  }
}
