package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native hot loops for MinHash and SimHash.
  *
  * Spark's higher-order array functions (transform/filter/aggregate)
  * evaluate their lambdas interpreted — the composed MinHash spends
  * its time boxing per-element hash calls (~30M per bench run).
  * These expressions do the same math in tight primitive loops and
  * produce BYTE-IDENTICAL results to the composed forms (same XXH64
  * seeds and iteration order — asserted by spec), so they're a
  * drop-in physical optimization, not a semantic fork.
  */
object TextHashUtil {

  private val SEED = 42L // XxHash64 expression default seed

  /** MinHash signature straight from the token array: for each of
    * the k permutations, min over word n-grams of
    * hashLong(hashUnsafeBytes(ngram_bytes), hashInt(i)) — exactly
    * xxhash64(i, xxhash64(ngram_string)). N-gram bytes are built in
    * a reusable buffer (words joined by 0x20), no String churn.
    * Duplicates don't affect a min, so no distinct step is needed.
    * N-grams containing a null element are skipped (the registered SQL
    * function accepts array<string> with nullable elements; a null
    * token carries no shingle content).
    */
  def shingleMinHash(words: ArrayData, n: Int, k: Int): ArrayData = {
    val nWords = words.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val permSeeds = new Array[Long](k)
    var p = 0
    while (p < k) { permSeeds(p) = XXH64.hashInt(p, SEED); p += 1 }
    var buf = new Array[Byte](64)
    var i = 0
    val last = nWords - n
    while (i <= last) {
      // build the n-gram bytes: words[i..i+n-1] joined with ' '
      var len = 0
      var j = 0
      var hasNull = false
      while (j < n && !hasNull) {
        if (words.isNullAt(i + j)) hasNull = true
        else {
          val w = words.getUTF8String(i + j)
          val wb = w.numBytes()
          if (len + wb + 1 > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + wb + 1))
          }
          if (j > 0) { buf(len) = ' '.toByte; len += 1 }
          w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += wb
        }
        j += 1
      }
      if (!hasNull) {
        val base = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, SEED)
        p = 0
        while (p < k) {
          val h = XXH64.hashLong(base, permSeeds(p))
          if (h < mins(p)) mins(p) = h
          p += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** md5-mode MinHash signature: for each permutation p, the
    * LEXICOGRAPHIC min over word n-grams of md5hex(p + "|" + gram) —
    * byte-identical to the composed transform/md5/array_min form in
    * Composed.minhashSignatureMd5 (asserted by spec). Unsigned
    * digest-byte order IS hex-string order, so candidates compare as
    * raw 16-byte digests and only the k winners pay hex encoding.
    * Fewer than n words → zero grams → k nulls, matching
    * array_min(empty) = null.
    */
  def shingleMinHashMd5(words: ArrayData, n: Int, k: Int): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val nWords = words.numElements()
    val last = nWords - n
    val mins = new Array[Array[Byte]](k)
    val prefixes = new Array[Array[Byte]](k)
    val scratch = new Array[Byte](16)
    var p = 0
    while (p < k) { prefixes(p) = (p.toString + "|").getBytes("UTF-8"); p += 1 }
    var buf = new Array[Byte](64)
    var i = 0
    while (i <= last) {
      var len = 0
      var j = 0
      var hasNull = false
      while (j < n && !hasNull) {
        if (words.isNullAt(i + j)) hasNull = true
        else {
          val w = words.getUTF8String(i + j)
          val wb = w.numBytes()
          if (len + wb + 1 > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + wb + 1))
          }
          if (j > 0) { buf(len) = ' '.toByte; len += 1 }
          w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += wb
        }
        j += 1
      }
      if (!hasNull) {
        p = 0
        while (p < k) {
          md.reset()
          md.update(prefixes(p))
          md.update(buf, 0, len)
          md.digest(scratch, 0, 16) // reuse: only new minima allocate
          if (mins(p) == null || compareUnsigned(scratch, mins(p)) < 0)
            mins(p) = java.util.Arrays.copyOf(scratch, 16)
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[AnyRef](k)
    p = 0
    while (p < k) {
      if (mins(p) != null) out(p) = hex32(mins(p))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  private val HexChars = "0123456789abcdef".getBytes("US-ASCII")

  private def hex32(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** md5-mode SimHash: token band value b is md5 hex chars
    * [4b+1, 4b+4] parsed as a 16-bit int (= md5 digest bytes 2b,
    * 2b+1 big-endian), majority vote per bit within each band —
    * byte-identical to the composed conv/substring form in
    * Composed.simhashBandsMd5FromWords AND to DuckDB's
    * CAST(concat('0x', substring(md5(w), b*4+1, 4)) AS INTEGER),
    * which is what puts the SimHash family under the cross-engine
    * oracle gate. Null tokens are skipped (and excluded from the
    * denominator); zero countable tokens → null, like the xx path.
    */
  def simHashBandsMd5(words: ArrayData): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val nWords = words.numElements()
    val ones = new Array[Int](64) // [band*16 + j]
    var counted = 0
    var i = 0
    while (i < nWords) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        md.reset()
        val d = md.digest(w.getBytes)
        var b = 0
        while (b < 4) {
          val v = ((d(2 * b) & 0xff) << 8) | (d(2 * b + 1) & 0xff)
          var j = 0
          while (j < 16) {
            ones(b * 16 + j) += (v >> j) & 1
            j += 1
          }
          b += 1
        }
        counted += 1
      }
      i += 1
    }
    if (counted == 0) return null
    val bands = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) {
        if (ones(b * 16 + j) * 2 >= counted) v += (1L << j)
        j += 1
      }
      bands(b) = v
      b += 1
    }
    ArrayData.toArrayData(bands)
  }

  /** 64-bit SimHash as four 16-bit bands in one pass: per-token
    * xxhash64, majority vote per bit — identical to the composed
    * Composed.simhashBands (same hash, same ones*2 >= total rule).
    */
  def simHashBands(words: ArrayData): ArrayData = {
    val nWords = words.numElements()
    val ones = new Array[Int](64)
    var i = 0
    var counted = 0
    while (i < nWords) {
      // null tokens carry no hash content — skip them (and exclude
      // them from the majority-vote denominator)
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes(), SEED)
        var j = 0
        while (j < 64) {
          ones(j) += ((h >>> j) & 1L).toInt
          j += 1
        }
        counted += 1
      }
      i += 1
    }
    // no countable tokens (empty array / all-null elements): with a
    // zero denominator every bit's majority vote is vacuously true and
    // all such docs would share one all-ones fingerprint — i.e. become
    // mutual "duplicates" at Hamming 0. No content → no fingerprint.
    if (counted == 0) return null
    val bands = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) {
        if (ones(b * 16 + j) * 2 >= counted) v += (1L << j)
        j += 1
      }
      bands(b) = v
      b += 1
    }
    ArrayData.toArrayData(bands)
  }
}

object RollingHashUtil {

  val FpMod = 1000000007L

  /** Karp-Rabin polynomial hash over the text's code points in one
    * pass — bit-identical to the composed fold
    * `aggregate(transform(split(text,''), ascii), 0, (acc,x) ->
    * pmod(acc*31+x, p))`: Java's split("") yields per-code-point
    * strings and ascii() their code point, so the iteration values
    * and fold order are the same. acc stays < p, so acc*31+cp never
    * overflows a long and floorMod equals pmod.
    */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = java.lang.Math.floorMod(acc * 31L + cp, FpMod)
      i += Character.charCount(cp)
    }
    acc
  }
}

object VectorHashUtil {

  /** SRP-LSH bucket id in one pass: bit p of the bucket = sign of
    * <v, plane_p> where plane_p[j] = (xxhash64(p, j) mod 1000)/1000
    * - 0.5 — identical to the spec-side Composed.srpBucket
    * (xxhash64(p: int, j: int) = hashInt(j, hashInt(p, 42)), pmod).
    */
  def srpBucket(v: ArrayData, nPlanes: Int): Long = {
    val dims = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val pSeed = XXH64.hashInt(p, 42L)
      var d = 0.0
      var j = 0
      while (j < dims) {
        val h = XXH64.hashInt(j, pSeed)
        val m = h % 1000L
        val comp = (if (m < 0) m + 1000L else m).toDouble / 1000.0 - 0.5
        d += v.getDouble(j) * comp
        j += 1
      }
      if (d >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }
}

object Md5VectorHashUtil {

  /** Plane components depend only on (plane, dim): memoize the whole
    * matrix per (nPlanes, dims) so the per-row loop is pure
    * multiply-add. Component = (int(md5hex("p|j")[1..8], 16) % 1000)
    * / 1000 − 0.5 — the first 8 hex chars are digest bytes 0-3
    * big-endian, reproducible in any engine with md5 (DuckDB:
    * CAST(concat('0x', substring(md5(p || '|' || j), 1, 8)) AS
    * BIGINT)).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def md5Planes(nPlanes: Int, dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dims), { case (np, nd) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(np) { p =>
        Array.tabulate(nd) { j =>
          md.reset()
          val d = md.digest(s"$p|$j".getBytes("UTF-8"))
          val m = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          (m % 1000L).toDouble / 1000.0 - 0.5
        }
      }
    })

  /** md5-mode SRP bucket — same shape as VectorHashUtil.srpBucket
    * with md5-derived hyperplanes; dot accumulates in index order so
    * the float sum is bit-identical to the composed fold and to a
    * sequential list_reduce in the oracle engine.
    */
  def srpBucketMd5(v: ArrayData, nPlanes: Int): Long = {
    val dims = v.numElements()
    val planes = md5Planes(nPlanes, dims)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val pl = planes(p)
      var d = 0.0
      var j = 0
      while (j < dims) { d += v.getDouble(j) * pl(j); j += 1 }
      if (d >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Johnson–Lindenstrauss projection onto `outDim` md5 hyperplanes —
    * the md5 SRP bucket WITHOUT the sign quantization: component p is
    * the index-ordered dot <v, plane_p> itself, so the projected
    * doubles (not just their signs) are bit-identical to the composed
    * fold and to a sequential list_reduce in the oracle engine. One
    * primitive multiply-add pass per row over the memoized plane
    * matrix.
    */
  def jlProject(v: ArrayData, outDim: Int): ArrayData = {
    val dims = v.numElements()
    val planes = md5Planes(outDim, dims)
    val out = new Array[Any](outDim)
    var p = 0
    while (p < outDim) {
      val pl = planes(p)
      var d = 0.0
      var j = 0
      while (j < dims) { d += v.getDouble(j) * pl(j); j += 1 }
      out(p) = d
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class SrpBucketMd5(child: Expression, nPlanes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<double>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    Md5VectorHashUtil.srpBucketMd5(v.asInstanceOf[ArrayData], nPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Md5VectorHashUtil.srpBucketMd5($c, $nPlanes);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** JL random projection to `outDim` md5-plane components — the
  * dimensionality-reduction stage ahead of a 100 TB ANN scan (8
  * doubles ranked instead of 64 floats ≈ 8× less scan volume per
  * candidate); the composed `transform(sequence, p -> aggregate(...))`
  * form evaluates an interpreted lambda per (plane, element) — the
  * WordNgrams-class hazard this expression exists to avoid.
  */
case class JlProjectMd5(child: Expression, outDim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<double>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    Md5VectorHashUtil.jlProject(v.asInstanceOf[ArrayData], outDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Md5VectorHashUtil.jlProject($c, $outDim);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SrpBucket(child: Expression, nPlanes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<double>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    VectorHashUtil.srpBucket(v.asInstanceOf[ArrayData], nPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.VectorHashUtil.srpBucket($c, $nPlanes);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NgramUtil {
  /** Word n-gram list, byte-identical to the composed
    * `transform(sequence(0, size-n), i -> concat_ws(" ", slice(ws,
    * i+1, n)))` form (TextAnalysis.ngrams): every window of n
    * adjacent elements joined by a single space, null elements
    * skipped by the join (concat_ws semantics), fewer than n elements
    * → empty array. One tight loop per row instead of an interpreted
    * lambda per window position (slice allocates a fresh array and
    * concat_ws re-walks it — O(n·k) interpreted; this is the same
    * O(n·k) in primitive code with no per-window Column evaluation).
    */
  private val Space = UTF8String.fromString(" ")

  def wordNgrams(words: ArrayData, n: Int): ArrayData = {
    val sz = words.numElements()
    if (sz < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](sz - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) {
        window(j) =
          if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        j += 1
      }
      // UTF8String.concatWs skips null inputs — concat_ws parity
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Strided (non-overlapping) word segments, byte-identical to the
    * composed `when(size(ws) < 1, array()).otherwise(transform(
    * sequence(0, ceil(size/w) - 1), i -> concat_ws(" ", slice(ws,
    * i*w + 1, w))))` form (Composed.segments): ceil(sz/w) windows of w
    * adjacent elements (the last one shorter when w does not divide
    * sz) joined by a single space, null elements skipped by the join
    * (concat_ws semantics), empty array → empty array. Same
    * tight-loop rationale as [[wordNgrams]] — the composed form pays
    * an interpreted slice+concat_ws lambda per window.
    */
  def wordSegments(words: ArrayData, w: Int): ArrayData = {
    val sz = words.numElements()
    if (sz < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val count = (sz + w - 1) / w
    val out = new Array[Any](count)
    var k = 0
    while (k < count) {
      val from = k * w
      val len = math.min(w, sz - from)
      val window = new Array[UTF8String](len)
      var j = 0
      while (j < len) {
        window(j) =
          if (words.isNullAt(from + j)) null
          else words.getUTF8String(from + j)
        j += 1
      }
      out(k) = UTF8String.concatWs(Space, window: _*)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class WordSegments(child: Expression, segWords: Int)
    extends UnaryExpression {
  require(segWords > 0, s"segment width must be positive: $segWords")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<string>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    NgramUtil.wordSegments(v.asInstanceOf[ArrayData], segWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.NgramUtil.wordSegments($c, $segWords);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<string>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    NgramUtil.wordNgrams(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.NgramUtil.wordNgrams($c, $n);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be string, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    RollingHashUtil.rollingHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.RollingHashUtil.rollingHash($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

abstract class TextHashExpression extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<string>, got ${t.sql}")
  }
}

case class ShingleMinHash(child: Expression, n: Int, k: Int)
    extends TextHashExpression {
  override def nullSafeEval(v: Any): Any =
    TextHashUtil.shingleMinHash(v.asInstanceOf[ArrayData], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHashUtil.shingleMinHash($c, $n, $k);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ShingleMinHashMd5(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  // elements are null only for sub-n-word inputs (array_min(empty))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be array<string>, got ${t.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    TextHashUtil.shingleMinHashMd5(v.asInstanceOf[ArrayData], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHashUtil.shingleMinHashMd5($c, $n, $k);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHashBands64(child: Expression) extends TextHashExpression {
  // null even for a non-null child: a token array with no countable
  // tokens has no fingerprint (see TextHashUtil.simHashBands)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TextHashUtil.simHashBands(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.TextHashUtil.simHashBands($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHashBandsMd5(child: Expression) extends TextHashExpression {
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TextHashUtil.simHashBandsMd5(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.TextHashUtil.simHashBandsMd5($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextHashFunctions {
  val MinHashName = "graft_minhash"
  val Md5MinHashName = "graft_minhash_md5"
  val Md5SimHashName = "graft_simhash_md5"
  val Md5SrpBucketName = "graft_srp_bucket_md5"
  val JlProjectName = "graft_jl_project"
  val SimHashName = "graft_simhash"
  val SrpBucketName = "graft_srp_bucket"
  val RollingHashName = "graft_rolling_hash"
  val WordNgramsName = "graft_word_ngrams"
  val WordSegmentsName = "graft_word_segments"
  val MatVecName = "graft_matvec"
  val SortedIntersectSizeName = "graft_sorted_intersect_size"
  val DeflateRatioName = "graft_deflate_ratio"
  val DsirScore6Name = "graft_dsir_score6"
  val DsirBucketsName = "graft_dsir_buckets"
  val QuantStatsName = "graft_quant_stats"
  val QuantizeVecName = "graft_quantize_vec"
  val QdotName = "graft_qdot"
  val TokenEntropy6Name = "graft_token_entropy6"
  val BpeEncodeName = "graft_bpe_encode"

  private[plans] def intLitValue(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }
}
