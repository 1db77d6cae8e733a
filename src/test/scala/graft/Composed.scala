package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words

/** The composed `functions._` forms of graft's native expressions.
  * Main runs only the native forms (through `GraftFunctions.call`);
  * these are the parity oracles the specs hold each native path to,
  * bit for bit.
  */
object Composed {
  private def asDouble(v: Column): Column = v.cast("array<double>")

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine as dot/norm folds — also the shape the RewriteCosine rule
    * matches.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact integer dot product of two quantized vectors. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Deterministic hyperplane component: xxhash64(plane, dim) mapped
    * to [-0.5, 0.5). Fixed given (plane, dim) — no RNG state.
    */
  private def planeComponent(plane: Column, dim: Column): Column =
    (pmod(xxhash64(plane, dim), lit(1000)).cast("double") / 1000.0) - 0.5

  private def planeComponentMd5(plane: Column, dim: Column): Column =
    ((conv(md5(concat(plane.cast("string"), lit("|"), dim.cast("string")))
        .substr(lit(1), lit(8)), 16, 10).cast("long") % 1000)
      .cast("double") / 1000.0) - 0.5

  private def srpBucketWith(comp: (Column, Column) => Column)(
      v: Column, nPlanes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val d = aggregate(
          zip_with(asDouble(v), sequence(lit(0), size(v) - 1),
            (x, j) => x * comp(p, j)),
          lit(0.0), (acc, x) => acc + x)
        when(d >= 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, b) => acc + b)

  /** Sign-random-projection bucket id: bit p = sign of <v, plane_p>. */
  def srpBucket(v: Column, nPlanes: Int): Column =
    srpBucketWith(planeComponent)(v, nPlanes)

  /** md5-plane SRP bucket (the cross-engine-oracle variant). */
  def srpBucketMd5(v: Column, nPlanes: Int): Column =
    srpBucketWith(planeComponentMd5)(v, nPlanes)

  /** JL projection over the md5 hyperplane family. */
  def jlProjectMd5(v: Column, outDim: Int): Column =
    // the outer transform runs over a literal sequence, so a null
    // vector must be peeled explicitly to keep the native
    // expression's null-in/null-out contract (not an array of nulls)
    when(v.isNotNull,
      transform(sequence(lit(0), lit(outDim - 1)), p =>
        aggregate(zip_with(asDouble(v), sequence(lit(0), size(v) - 1),
          (x, j) => x * planeComponentMd5(p, j)),
          lit(0.0), (acc, x) => acc + x)))

  /** Non-overlapping word segments of `segWords` words each. Null text
    * yields null (ANSI size semantics) or an empty list (legacy
    * size(null) = -1). The size guard matters: unguarded, legacy -1
    * would make sequence(0, …) count DOWNWARD and fabricate phantom
    * "" segments.
    */
  def segments(text: Column, segWords: Int): Column = {
    require(segWords > 0, s"segment width must be positive: $segWords")
    val ws = words(text)
    when(size(ws) < 1, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(size(ws) / lit(segWords.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(ws, i * segWords + lit(1), lit(segWords)))))
  }

  /** k-permutation MinHash signature over a shingle set: element i is
    * min over shingles of xxhash64(i, xxhash64(shingle)). Shingle
    * STRINGS hash once; the k permutations re-hash the 8-byte longs.
    */
  def minhashSignature(shingleSet: Column, k: Int): Column = {
    val baseHashes = transform(shingleSet, s => xxhash64(s))
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(baseHashes, h => xxhash64(i, h))))
  }

  /** md5-hex MinHash signature: element i is the LEXICOGRAPHIC min
    * over shingles of md5(i || '|' || shingle).
    */
  def minhashSignatureMd5(shingleSet: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleSet,
        s => md5(concat(i.cast("string"), lit("|"), s)))))

  /** 64-bit SimHash as four 16-bit band values (bands low→high):
    * majority vote per bit over xxhash64(token). Shift amounts are
    * lambda-bound columns, so this goes through call_function to reach
    * the Catalyst ShiftRight/ShiftLeft that accept them.
    */
  def simhashBands(text: Column): Column =
    simhashBandsFromHashes(transform(words(text), w => xxhash64(w)))

  /** [[simhashBands]] from pre-computed token hashes. */
  def simhashBandsFromHashes(hs: Column): Column = {
    // denominator = countable (non-null) hashes, matching the numerator
    // filter below; zero countable tokens → null fingerprint
    val valid = filter(hs, h => h.isNotNull)
    val total = size(valid)
    val bands = transform(sequence(lit(0), lit(3)), band =>
      aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, j) => {
        val bitIdx = (band * 16 + j).cast("int")
        val ones = size(filter(valid, h =>
          call_function("shiftright", h, bitIdx)
            .bitwiseAND(lit(1L)) === lit(1L)))
        val bit = when(ones * 2 >= total, lit(1L)).otherwise(lit(0L))
        acc + bit * call_function("shiftleft", lit(1L), j)
      }))
    when(total === 0, lit(null)).otherwise(bands)
  }

  /** md5-mode SimHash bands: token band value b = md5 hex chars
    * [4b+1, 4b+4] parsed base-16 (16 bits), majority vote per bit.
    * Null tokens skipped; zero countable tokens → null fingerprint.
    */
  def simhashBandsMd5FromWords(ws: Column): Column = {
    val hs = filter(transform(ws, w => md5(w)), h => h.isNotNull)
    val total = size(hs)
    val bands = transform(sequence(lit(0), lit(3)), band =>
      aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, j) => {
        val ones = size(filter(hs, h => {
          val bandVal = conv(h.substr(band * lit(4) + lit(1), lit(4)), 16, 10)
            .cast("long")
          call_function("shiftright", bandVal, j.cast("int"))
            .bitwiseAND(lit(1L)) === lit(1L)
        }))
        val bit = when(ones * 2 >= total, lit(1L)).otherwise(lit(0L))
        acc + bit * call_function("shiftleft", lit(1L), j)
      }))
    when(total === 0, lit(null)).otherwise(bands)
  }

  val FpMod = 1000000007L

  /** Karp-Rabin rolling polynomial hash of the whole document, mod
    * [[FpMod]]: three interpreted lambdas per character.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(filter(split(text, ""), c => c =!= ""),
        c => ascii(c).cast("long")),
      lit(0L), (acc, x) => pmod(acc * 31 + x, lit(FpMod)))

  /** Row-local token entropy in nats, rounded to 4: one run-length
    * fold over the sorted tokens accumulating Σ c·round(ln(n/c)·1e6)
    * in exact integer micro-nats.
    */
  def entropyNats(ws: Column): Column = {
    val n = size(ws).cast("long")
    def term(c: Column): Column =
      c * round(log(n.cast("double") / c) * 1e6).cast("long")
    val st0 = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("acc"))
    val ent6 = aggregate(array_sort(ws), st0,
      (st, w) => when(st.getField("prev") <=> w,
          struct(w.as("prev"), (st.getField("run") + 1L).as("run"),
            st.getField("acc").as("acc")))
        .otherwise(struct(w.as("prev"), lit(1L).as("run"),
          (st.getField("acc") + when(st.getField("run") > 0,
            term(st.getField("run"))).otherwise(lit(0L))).as("acc"))),
      st => when(st.getField("run") > 0,
        st.getField("acc") + term(st.getField("run"))).otherwise(lit(0L)))
    round(ent6 / (n * lit(1e6)), 4)
  }

  /** Per-vector symmetric int8 scale: max|x| / 127, 0.0 for all-zero,
    * empty or non-finite vectors.
    */
  def quantScale(v: Column): Column = {
    val m = coalesce(array_max(transform(asDouble(v), x => abs(x))), lit(0.0))
    // NaN compares greater than everything in Spark's ordering, so a
    // single NaN entry surfaces as m = NaN; |x| ≥ 0 rules out -Inf
    when(isnan(m) || m === Double.PositiveInfinity, lit(0.0))
      .otherwise(m / lit(127.0))
  }

  /** Symmetric int8 quantization: round(x_i / scale), all zeros when
    * the scale is 0.
    */
  def quantizeVec(v: Column): Column = {
    val vd = asDouble(v)
    val s = quantScale(v)
    when(s === 0.0, transform(vd, _ => lit(0)))
      .otherwise(transform(vd, x => round(x / s, 0).cast("int")))
  }
}
