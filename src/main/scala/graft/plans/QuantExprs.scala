package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Native int8 quantization kernels — the fused forms of the
  * composed quantScale / quantizeVec / qdot / readout-stats
  * expressions (the spec-side `graft.Composed` parity oracles).
  *
  * Why native: the composed forms are built from higher-order array
  * functions (transform / aggregate / zip_with / filter), which Spark
  * evaluates INTERPRETED — a lambda-variable bind and a boxed eval
  * per element, outside whole-stage codegen. count()-mode benching
  * hid that cost (the readout projection is exactly what count()
  * prunes); the round-9 honest-mode bench measured q_embed_quantize
  * at 3.3 s vs 0.09 s count-mode at sf0.1. These walk each vector
  * once in primitive code and inline into WholeStageCodegen — the
  * WordNgrams treatment (round-9 BUILD_NOTES) applied to the
  * embedding-compression family.
  *
  * Semantics are BIT-IDENTICAL to the composed forms (QuantSpec
  * fuzzes parity element-by-element, and the oracled queries gate the
  * readouts end-to-end):
  *  - scale = max(abs(x)) / 127 over non-null elements, double
  *    arithmetic; any NaN or ±Inf element → scale 0 (the composed
  *    isnan/infinite degrade); empty / all-null → 0 (coalesce).
  *  - q_i = round(x_i / scale) half-away-from-zero via
  *    BigDecimal.valueOf(d).setScale(0, HALF_UP) — exactly Spark's
  *    Round on DoubleType — cast to int; null element → null entry;
  *    scale 0 → EVERY position quantizes to literal 0 (the composed
  *    transform ignores its argument in that branch).
  *  - stats: q_l1 = aggregate(qvec, 0L, acc+abs) (null once any
  *    element is null), q_max/q_min = array_max/min (skip nulls, null
  *    when nothing to compare), n_nonzero = size(filter(q != 0))
  *    (null predicate rows drop).
  *  - NULL input array: the composed readout yields scale 0.0 with
  *    every other field null (coalesce makes scale non-null), so the
  *    struct expressions here are NON-nullable and reproduce that row
  *    shape on null input.
  */
object QuantUtil {

  val statsType: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q_l1", LongType, nullable = true),
    StructField("q_max", IntegerType, nullable = true),
    StructField("q_min", IntegerType, nullable = true),
    StructField("n_nonzero", IntegerType, nullable = true)))

  val quantizeType: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("qvec", ArrayType(IntegerType, containsNull = true),
      nullable = true)))

  private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** The composed quantScale: max |x| over non-null elements with
    * Spark's NaN-greatest array_max ordering, /127, with the
    * non-finite and empty branches collapsing to 0.
    */
  def scaleOf(v: ArrayData, isFloat: Boolean): Double = {
    val n = v.numElements()
    var m = -1.0 // |x| >= 0, so -1 marks "no non-null element yet"
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = Math.abs(elem(v, i, isFloat))
        // NaN is the greatest value in Spark's ordering: one NaN
        // element forces m = NaN, which the composed form degrades
        // to scale 0 — short-circuit to the same answer
        if (java.lang.Double.isNaN(a)) return 0.0
        if (a > m) m = a
      }
      i += 1
    }
    if (m < 0 || m == java.lang.Double.POSITIVE_INFINITY) 0.0
    else m / 127.0
  }

  /** round(x/s, 0) half-away-from-zero exactly as Spark's Round on
    * DoubleType computes it, then the double→int cast (exact — the
    * quotient is bounded near ±127 by construction).
    */
  def quantElem(x: Double, s: Double): Int =
    java.math.BigDecimal.valueOf(x / s)
      .setScale(0, java.math.RoundingMode.HALF_UP).intValue()

  def stats(v: ArrayData, isFloat: Boolean): InternalRow = {
    if (v == null)
      return new GenericInternalRow(Array[Any](0.0, null, null, null, null))
    val n = v.numElements()
    val s = scaleOf(v, isFloat)
    if (s == 0.0) {
      // every position (null ones included) quantizes to literal 0
      val zero: Any =
        if (n > 0) java.lang.Integer.valueOf(0) else null
      return new GenericInternalRow(Array[Any](
        0.0, java.lang.Long.valueOf(0L), zero, zero,
        java.lang.Integer.valueOf(0)))
    }
    var sum = 0L
    var sawNull = false
    var seen = false
    var mx = Int.MinValue
    var mn = Int.MaxValue
    var nz = 0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) sawNull = true
      else {
        val q = quantElem(elem(v, i, isFloat), s)
        sum += Math.abs(q.toLong)
        if (q > mx) mx = q
        if (q < mn) mn = q
        if (q != 0) nz += 1
        seen = true
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      s,
      if (sawNull) null else java.lang.Long.valueOf(sum),
      if (seen) java.lang.Integer.valueOf(mx) else null,
      if (seen) java.lang.Integer.valueOf(mn) else null,
      java.lang.Integer.valueOf(nz)))
  }

  def quantize(v: ArrayData, isFloat: Boolean): InternalRow = {
    if (v == null) return new GenericInternalRow(Array[Any](0.0, null))
    val n = v.numElements()
    val s = scaleOf(v, isFloat)
    val out = new Array[Any](n)
    var i = 0
    if (s == 0.0) {
      while (i < n) { out(i) = java.lang.Integer.valueOf(0); i += 1 }
    } else {
      while (i < n) {
        out(i) =
          if (v.isNullAt(i)) null
          else java.lang.Integer.valueOf(quantElem(elem(v, i, isFloat), s))
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](s, new GenericArrayData(out)))
  }

  /** The composed qdot: Σ (long)(aᵢ·bᵢ). zip_with pads the shorter
    * side with null and a null product nullifies the aggregate, so a
    * length mismatch or any null element → null. Arithmetic is exact
    * (the int8 domain bounds every product at 127²·dim ≪ 2⁶³).
    */
  def qdot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na != nb) return null
    var sum = 0L
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum += a.getInt(i).toLong * b.getInt(i).toLong
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }
}

private[plans] trait QuantVecInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<float> or array<double>, got ${t.sql}")
  }
  protected def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** (scale, q_l1, q_max, q_min, n_nonzero) of a vector's int8
  * quantization in one primitive pass — NON-nullable (null input →
  * the composed readout's (0.0, null, null, null, null) row).
  */
case class QuantStats(child: Expression) extends QuantVecInput {
  override def nullable: Boolean = false
  override def dataType: DataType = QuantUtil.statsType
  override def eval(input: InternalRow): Any =
    QuantUtil.stats(child.eval(input).asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code +
      code"""
         |InternalRow ${ev.value} = graft.plans.QuantUtil.stats(
         |  ${c.isNull} ? null : ${c.value}, $isFloat);
       """.stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** (scale, qvec) — the compressed-store build in one primitive pass;
  * NON-nullable (null input → (0.0, null), the composed coalesce
  * shape).
  */
case class QuantizeVec(child: Expression) extends QuantVecInput {
  override def nullable: Boolean = false
  override def dataType: DataType = QuantUtil.quantizeType
  override def eval(input: InternalRow): Any =
    QuantUtil.quantize(child.eval(input).asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code +
      code"""
         |InternalRow ${ev.value} = graft.plans.QuantUtil.quantize(
         |  ${c.isNull} ? null : ${c.value}, $isFloat);
       """.stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Micro-nat token-entropy sum — the native form of the composed
  * entropyNats fold (the spec-side Composed form): sort the
  * token array (Spark array_sort ordering — binary string compare,
  * nulls last), then per run of equal tokens accumulate
  * `run · round(ln(n/run)·10⁶)` as an exact long. The composed form
  * is a higher-order `aggregate` over `array_sort` with a 3-field
  * struct state re-built per element, interpreted — the round-10
  * honest bench measured q_token_entropy at 33× its count-mode time
  * on exactly this projection. The ÷(n·10⁶) + round(4) readout stays
  * composed on top, so every downstream contract (empty-array NaN,
  * ANSI) is inherited unchanged. EntropySpec pins bit parity.
  */
object TokenEntropyUtil {
  private def term(run: Long, n: Long): Long =
    run * java.math.BigDecimal.valueOf(Math.log(n.toDouble / run) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  def entropy6(v: ArrayData): Long = {
    val n = v.numElements()
    if (n == 0) return 0L
    val arr = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var nulls = 0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) nulls += 1
      else arr(i - nulls) = v.getUTF8String(i)
      i += 1
    }
    val m = n - nulls
    java.util.Arrays.sort(arr, 0, m,
      (a: org.apache.spark.unsafe.types.UTF8String,
       b: org.apache.spark.unsafe.types.UTF8String) => a.compareTo(b))
    var acc = 0L
    var run = 0L
    i = 0
    var prev: org.apache.spark.unsafe.types.UTF8String = null
    while (i < m) {
      val w = arr(i)
      if (i > 0 && prev.equals(w)) run += 1
      else { if (run > 0) acc += term(run, n); run = 1 }
      prev = w
      i += 1
    }
    if (run > 0) acc += term(run, n)
    // the trailing null run (array_sort puts nulls last; the composed
    // fold's null-safe <=> groups them into one run)
    if (nulls > 0) acc += term(nulls.toLong, n)
    acc
  }
}

case class TokenEntropy6(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<string>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    TokenEntropyUtil.entropy6(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TokenEntropyUtil.entropy6($c);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Native BPE tokenization of a word array against a bounded merge
  * table — the fused form of
  * [[graft.textanalysis.TextAnalysis.bpeEncode]]'s per-word
  * bracket-encode → literal-replace chain → strip pipeline, which
  * runs INSIDE a `transform` lambda and is therefore interpreted per
  * word (the round-10 honest bench measured q_bpe_encode at 2.9× its
  * count-mode cost on exactly that projection). One primitive pass:
  * per word, split to characters + the end-of-word marker, apply
  * each merge in rank order as a greedy leftmost non-overlapping
  * scan (applyMergeLocal — the same recurrence the literal replace
  * on the bracket encoding computes; BpeVocabSpec pins that
  * equivalence), emit the symbol stream. BpeSpec in QuantSpec pins
  * output parity word-for-word against the composed chain.
  */
object BpeEncodeUtil {
  import org.apache.spark.unsafe.types.UTF8String

  def encode(ws: ArrayData, as: Array[String],
      bs: Array[String]): ArrayData = {
    val nw = ws.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](nw * 2)
    var i = 0
    while (i < nw) {
      if (ws.isNullAt(i)) {
        // the composed transform maps a null word to a null token
        // entry (concat of null → null)
        out += null
      } else {
        val w = ws.getUTF8String(i).toString
        // Java split("") = between code points, surrogate pairs kept
        // — identical to Spark's split(w, "")
        var syms: Array[String] = (w.split("") :+ "_")
        var m = 0
        while (m < as.length) {
          val a = as(m); val b = bs(m)
          // greedy leftmost non-overlapping merge pass
          var j = 0
          var changed = false
          val nb = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              nb += (a + b); j += 2; changed = true
            } else { nb += syms(j); j += 1 }
          }
          if (changed) syms = nb.toArray
          m += 1
        }
        var k = 0
        while (k < syms.length) {
          out += UTF8String.fromString(syms(k)); k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

case class BpeEncodeWords(words: Expression, merges: Expression)
    extends BinaryExpression {
  override def left: Expression = words
  override def right: Expression = merges
  override def nullable: Boolean = true
  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult =
    if (words.dataType != ArrayType(StringType) &&
        words.dataType != ArrayType(StringType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        s"words must be array<string>, got ${words.dataType.sql}")
    else if (merges.dataType != ArrayType(StringType) &&
        merges.dataType != ArrayType(StringType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        s"merges must be array<string>, got ${merges.dataType.sql}")
    else if (!merges.foldable)
      TypeCheckResult.TypeCheckFailure(
        "merges must be a foldable literal (the frozen merge table, " +
          "alternating [a1, b1, a2, b2, ...])")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val table: (Array[String], Array[String]) = {
    val ad = merges.eval(null).asInstanceOf[ArrayData]
    require(ad != null && ad.numElements() % 2 == 0,
      "merge literal must alternate [a1, b1, a2, b2, ...]")
    val n = ad.numElements() / 2
    (Array.tabulate(n)(i => ad.getUTF8String(2 * i).toString),
      Array.tabulate(n)(i => ad.getUTF8String(2 * i + 1).toString))
  }

  override def nullSafeEval(w: Any, m: Any): Any =
    BpeEncodeUtil.encode(w.asInstanceOf[ArrayData], table._1, table._2)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("bpeA", table._1, "java.lang.String[]")
    val bRef = ctx.addReferenceObj("bpeB", table._2, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"${ev.value} = graft.plans.BpeEncodeUtil.encode($w, $aRef, $bRef);")
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(words = l, merges = r)
}

/** Exact integer dot product of two array<int> quantized vectors. */
case class QdotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"arguments must be array<int>, got ${l.sql} / ${r.sql}")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    QuantUtil.qdot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("qdot")
      s"""
         |java.lang.Long $boxed = graft.plans.QuantUtil.qdot($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}
