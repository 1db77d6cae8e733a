package graft.plans

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.dedup.Dedup
import graft.functions.TextFunctions.words

class TextHashSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfDir).limit(50)

  test("native minhash ≡ composed minhash bitwise") {
    val both = docs.select(
      graft.Composed.minhashSignature(Dedup.shingles($"text", 3), 16).as("composed"),
      call_function(TextHashFunctions.MinHashName,
        words($"text"), lit(3), lit(16)).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("native md5 minhash ≡ composed md5 minhash bytewise") {
    val both = docs.select(
      graft.Composed.minhashSignatureMd5(Dedup.shingles($"text", 3), 16).as("composed"),
      call_function(TextHashFunctions.Md5MinHashName,
        words($"text"), lit(3), lit(16)).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
    // sub-n-word docs: composed array_min(empty) = null per slot —
    // the native loop must agree, not fabricate a sentinel
    val tiny = Seq((1L, "two words")).toDF("id", "text").select(
      graft.Composed.minhashSignatureMd5(Dedup.shingles($"text", 3), 16).as("composed"),
      call_function(TextHashFunctions.Md5MinHashName,
        words($"text"), lit(3), lit(16)).as("native")).head
    assert(tiny.getSeq[String](0) === Seq.fill(16)(null))
    assert(tiny.getSeq[String](1) === Seq.fill(16)(null))
  }

  test("native md5 simhash ≡ composed md5 simhash bitwise") {
    val both = docs.select(
      graft.Composed.simhashBandsMd5FromWords(words($"text")).as("composed"),
      call_function(TextHashFunctions.Md5SimHashName, words($"text")).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // hand-computed reference pins the cross-engine convention: band
    // b of token w = int(md5hex(w)[4b .. 4b+3], 16), majority per bit
    val ref = Seq((1L, Seq("abc"))).toDF("id", "ws")
      .select(call_function(TextHashFunctions.Md5SimHashName, $"ws"))
      .head.getSeq[Long](0)
    // md5("abc") = 900150983cd24fb0... → bands 0x9001,0x5098,0x3cd2,0x4fb0
    assert(ref === Seq(0x9001L, 0x5098L, 0x3cd2L, 0x4fb0L))
  }

  test("native simhash ≡ composed simhash bitwise") {
    val both = docs.select(
      graft.Composed.simhashBands($"text").as("composed"),
      call_function(TextHashFunctions.SimHashName, words($"text")).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("minhash estimates jaccard: similar docs share more signature slots") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "utterly different material covering spark catalyst internals today")
    ).toDF("id", "text")
    val sigs = df.select($"id",
      call_function(TextHashFunctions.MinHashName, words($"text"), lit(2), lit(64)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(1L), sigs(2L)) > agree(sigs(1L), sigs(3L)))
  }

  test("null array elements don't crash the native hash loops") {
    val df = Seq(
      (1L, Seq[String]("the", null, "fox", "jumps", "dog")),
      (2L, Seq[String](null, null)),
      (3L, Seq[String]("the", "fox", "jumps"))
    ).toDF("id", "ws")
    val rows = df.select($"id",
      call_function(TextHashFunctions.MinHashName, $"ws", lit(2), lit(16)).as("mh"),
      call_function(TextHashFunctions.SimHashName, $"ws").as("sh"))
      .collect()
    assert(rows.length === 3)
    // nulls excluded: id 2 is all-null → minhash of no shingles
    val allNull = rows.find(_.getLong(0) == 2L).get
    assert(allNull.getSeq[Long](1).forall(_ == Long.MaxValue))
    // non-null arrays behave exactly as before (id 3 has no nulls)
    val clean = rows.find(_.getLong(0) == 3L).get
    val expected = Seq("the", "fox", "jumps")
    val ref = Seq((3L, expected)).toDF("id", "ws")
      .select(call_function(TextHashFunctions.SimHashName, $"ws"))
      .head.getSeq[Long](0)
    assert(clean.getSeq[Long](2) === ref)
  }

  test("no countable tokens → null fingerprint on both simhash paths") {
    // empty array and all-null array: a vacuous majority vote would
    // give every such doc the same all-ones bands (mutual Hamming-0
    // "duplicates"); both paths must agree on null instead
    val df = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq[String](null, null)),
      (3L, Seq[String]("real", "tokens"))
    ).toDF("id", "ws")
    // xxhash64(null) is the seed, not null — propagate token nulls so
    // the composed hash array mirrors what the native loop skips
    val hashes = transform($"ws", w => when(w.isNotNull, xxhash64(w)))
    val rows = df.select($"id",
      graft.Composed.simhashBandsFromHashes(hashes).as("composed"),
      call_function(TextHashFunctions.SimHashName, $"ws").as("native"))
      .collect().sortBy(_.getLong(0))
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(!rows(2).isNullAt(1) &&
      rows(2).getSeq[Long](1) === rows(2).getSeq[Long](2))
  }

  test("native word n-grams ≡ composed ngrams element-for-element") {
    for (n <- Seq(1, 2, 3, 5, 8)) {
      val both = docs.select(
        graft.textanalysis.TextAnalysis.ngrams(words($"text"), n)
          .as("composed"),
        call_function(TextHashFunctions.WordNgramsName, words($"text"),
          lit(n)).as("native"))
        .collect()
      both.foreach(r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n"))
    }
    // edge cases: null array, null elements (concat_ws skips), short
    // arrays, all-null window, empty strings
    val edge = Seq(
      (1L, null: Seq[String]),
      (2L, Seq[String]()),
      (3L, Seq[String]("one")),
      (4L, Seq[String]("a", null, "c")),
      (5L, Seq[String](null, null)),
      (6L, Seq[String]("", "", "x")))
      .toDF("id", "ws")
    val rows = edge.select($"id",
      graft.textanalysis.TextAnalysis.ngrams($"ws", 2).as("composed"),
      call_function(TextHashFunctions.WordNgramsName, $"ws", lit(2))
        .as("native"))
      .collect().sortBy(_.getLong(0))
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), r.toString)
      else assert(r.getSeq[String](1) === r.getSeq[String](2), r.toString)
    }
  }

  test("native shingles ≡ composed shingles list-for-list") {
    for (n <- Seq(2, 3)) {
      val both = docs.select(
        Dedup.shinglesOfWords(words($"text"), n).as("composed"),
        Dedup.shinglesOfWordsFor(docs)(words($"text"), n).as("native"))
        .collect()
      both.foreach(r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n"))
    }
  }

  test("native rolling hash ≡ composed rolling hash bitwise") {
    val real = docs.select(
      graft.Composed.rollingHash($"text").as("composed"),
      call_function(TextHashFunctions.RollingHashName, $"text").as("native"))
      .collect()
    real.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // edge cases: empty string, multi-byte text, and a long document
    val edge = Seq("", "héllo wörld — ünïcode ø", "日本語のテキスト", "a" * 5000)
      .toDF("text")
      .select(
        graft.Composed.rollingHash($"text").as("composed"),
        call_function(TextHashFunctions.RollingHashName, $"text").as("native"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("long words grow the shingle buffer correctly") {
    val long = ("a" * 200 + " ") * 5
    val df = Seq((1L, long.trim)).toDF("id", "text")
    val native = df.select(call_function(TextHashFunctions.MinHashName,
      words($"text"), lit(3), lit(16))).head.getSeq[Long](0)
    val composed = df.select(
      graft.Composed.minhashSignature(Dedup.shingles($"text", 3), 16)).head.getSeq[Long](0)
    assert(native === composed)
  }

  test("native SRP bucket ≡ composed SRP bucket") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val both = emb.select(
      graft.Composed.srpBucket($"embedding", 8).as("composed"),
      call_function(TextHashFunctions.SrpBucketName,
        $"embedding".cast("array<double>"), lit(8)).as("native"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native md5 SRP bucket ≡ composed md5 SRP bucket") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val both = emb.select(
      graft.Composed.srpBucketMd5($"embedding", 8).as("composed"),
      call_function(TextHashFunctions.Md5SrpBucketName,
        $"embedding".cast("array<double>"), lit(8)).as("native"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native JL projection ≡ composed JL projection, bit for bit") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val both = emb.select(
      graft.Composed.jlProjectMd5($"embedding", 8).as("composed"),
      call_function(TextHashFunctions.JlProjectName,
        $"embedding".cast("array<double>"), lit(8)).as("native"))
      .collect()
    both.foreach { r =>
      val c = r.getSeq[Double](0); val n = r.getSeq[Double](1)
      assert(c.size === 8 && n.size === 8)
      c.zip(n).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b), r.toString)
      }
    }
    // the projection's sign pattern IS the SRP bucket — the two
    // expressions share the plane matrix by construction
    val cross = emb.select(
      call_function(TextHashFunctions.JlProjectName,
        $"embedding".cast("array<double>"), lit(8)).as("pv"),
      call_function(TextHashFunctions.Md5SrpBucketName,
        $"embedding".cast("array<double>"), lit(8)).as("bucket"))
      .collect()
    cross.foreach { r =>
      val pv = r.getSeq[Double](0)
      val expected = pv.zipWithIndex
        .map { case (d, p) => if (d >= 0) 1L << p else 0L }.sum
      assert(r.getLong(1) === expected)
    }
    // null vector → null projection on both paths
    val nulls = Seq((1L, null: Array[Double])).toDF("id", "v")
      .select(graft.Composed.jlProjectMd5($"v", 4).as("c"),
        call_function(TextHashFunctions.JlProjectName,
          $"v".cast("array<double>"), lit(4)).as("n"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}
