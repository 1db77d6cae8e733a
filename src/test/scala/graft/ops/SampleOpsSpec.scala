package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SampleOpsSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sfDir)

  test("hash sample is deterministic, narrow, and near the fraction") {
    val s1 = SampleOps.hashSample(docs, "doc_id", 0.2)
    val s2 = SampleOps.hashSample(docs, "doc_id", 0.2)
    assert(s1.count() === s2.count()) // rerun-identical
    val n = docs.count().toDouble
    assert(math.abs(s1.count() / n - 0.2) < 0.08) // hash-uniform target
    // no shuffle: the plan has no Exchange
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"))
    // monotone: a bigger fraction is a superset
    val small = SampleOps.hashSample(docs, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val big = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
  }

  test("stratified sample hits exact ceil(fraction*n) per stratum") {
    val perStratum = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = SampleOps.stratifiedSample(docs, "lang", "doc_id", 0.1)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { case (lang, n) =>
      assert(sampled(lang) === math.ceil(0.1 * n).toLong, s"stratum $lang")
    }
  }

  test("hash split covers every row once with deterministic buckets") {
    val split = SampleOps.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.count() === docs.count()) // partition of the corpus
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    val n = docs.count().toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.08)
    // same id → same bucket on rerun
    val again = SampleOps.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.select("doc_id", "split").except(
      again.select("doc_id", "split")).count() === 0)
  }

  test("split weights must sum to one") {
    intercept[IllegalArgumentException] {
      SampleOps.splitColumn(col("id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("quota mix: exact per-stratum counts, unlisted strata dropped") {
    val mixed = SampleOps.quotaMix(docs, "source", "doc_id",
      Seq("src0" -> 7L, "src1" -> 3L))
    val counts = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("src0" -> 7L, "src1" -> 3L))
    // deterministic: identical row set on rerun
    val again = SampleOps.quotaMix(docs, "source", "doc_id",
      Seq("src0" -> 7L, "src1" -> 3L))
    assert(mixed.select("doc_id").except(again.select("doc_id")).count() === 0)
    // a quota beyond the stratum size takes the whole stratum
    val n0 = docs.filter(col("source") === "src0").count()
    val all = SampleOps.quotaMix(docs, "source", "doc_id",
      Seq("src0" -> (n0 + 100L)))
    assert(all.count() === n0)
    // the quota'd subset grows monotonically with the quota (hash
    // order is a fixed global ranking per stratum)
    val small = SampleOps.quotaMix(docs, "source", "doc_id", Seq("src0" -> 3L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val big = mixed.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
  }

  test("token-budget mix matches an exact per-stratum prefix reference") {
    import graft.textanalysis.TextAnalysis
    val budget = 2000L
    val got = SampleOps.tokenBudgetMix(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact Scala reference: per lang, walk docs in (md5, id) order
    // accumulating whitespace token counts; keep while cum ≤ budget
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = rows.groupBy(_._2).values.flatMap { ds =>
      var cum = 0L
      ds.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
        .takeWhile { case (_, _, text) =>
          cum += text.split(" ", -1).length
          cum <= budget
        }.map(_._1).toSeq
    }.toSet
    assert(got === want)
    assert(got.nonEmpty && got.size < rows.length,
      "budget should cut some strata and keep rows")
    // monotone: a bigger budget yields a superset
    val bigger = SampleOps.tokenBudgetMix(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), budget * 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(bigger))
  }

  test("takeExact: exact size, monotone in budget, deterministic") {
    val docs = Tables.documents(spark, sfDir)
    val cut = SampleOps.takeExact(docs, "doc_id", 25)
      .select("doc_id").collect().map(_.getLong(0))
    assert(cut.length === 25)
    assert(cut.toSet.size === 25)
    // a bigger budget extends the same hash-ordered prefix
    val bigger = SampleOps.takeExact(docs, "doc_id", 40)
      .select("doc_id").collect().map(_.getLong(0))
    assert(cut.toSet.subsetOf(bigger.toSet))
    // repeat run returns the identical cut (no RNG state anywhere)
    val again = SampleOps.takeExact(docs, "doc_id", 25)
      .select("doc_id").collect().map(_.getLong(0))
    assert(again.toSeq === cut.toSeq)
    // over-budget takes the whole corpus
    val n = docs.count()
    assert(SampleOps.takeExact(docs, "doc_id", (n + 100).toInt).count() === n)
  }

  test("weighted sample: constant prob ≡ hashSample, monotone in prob") {
    import spark.implicits._
    val ids = (1L to 1000L).toDF("id")
    // the constant-probability special case degenerates to hashSample
    val w = SampleOps.weightedSample(ids, "id", lit(0.25))
      .collect().map(_.getLong(0)).toSet
    val h = SampleOps.hashSample(ids, "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(w === h)
    // prob 0 keeps nothing, prob 1 keeps everything (at this scale)
    assert(SampleOps.weightedSample(ids, "id", lit(0.0)).count() === 0)
    assert(SampleOps.weightedSample(ids, "id", lit(1.0)).count() === 1000)
    // out-of-range probabilities clamp instead of corrupting the hex
    assert(SampleOps.weightedSample(ids, "id", lit(7.5)).count() === 1000)
    assert(SampleOps.weightedSample(ids, "id", lit(-3.0)).count() === 0)
    // a row kept at prob p stays kept at every prob' > p (same hash,
    // higher boundary) — the property that makes re-weighting stable
    val lo = SampleOps.weightedSample(ids, "id", lit(0.3))
      .collect().map(_.getLong(0)).toSet
    val hi = SampleOps.weightedSample(ids, "id", lit(0.7))
      .collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
  }

  test("weighted sample: per-row prob column drives per-row acceptance") {
    import spark.implicits._
    // two strata with very different probs: acceptance rates separate
    val rows = (1L to 2000L).map(i => (i, if (i % 2 == 0) 0.9 else 0.05))
      .toDF("id", "p")
    val kept = SampleOps.weightedSample(rows, "id", col("p"))
    val evens = kept.filter(col("id") % 2 === 0).count()
    val odds = kept.filter(col("id") % 2 === 1).count()
    assert(evens > 800 && evens <= 1000) // ≈ 900
    assert(odds < 120)                   // ≈ 50
  }

  test("training shards: independent md5 reference, dense positions") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = SampleOps.trainingShards(docs.select("doc_id"), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length === docs.count())
    // shard matches a JVM-side md5 reference, row by row
    out.foreach { case (id, shard, _) =>
      val expect =
        (java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 8).toInt
      assert(shard === expect, s"doc $id")
    }
    // positions are dense 0..k-1 per shard, ordered by md5(id)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
      assert(sorted.map(_._3).toList === (0L until rows.length).toList)
    }
  }

  test("written training shards: one dir per shard, in-file pos order") {
    val dir = tempDir("graft_shards") + "/shards"
    SampleOps.writeTrainingShards(docs.select("doc_id"), "doc_id", 4, dir)
    // one partition directory per shard
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq === (0 until 4).map(s => s"shard=$s"))
    // a worker reading its directory front-to-back sees pos order
    // (single sorted file per shard at test scale), and the content
    // is exactly the assignment frame's shard slice
    val assigned = SampleOps.trainingShards(docs.select("doc_id"), "doc_id", 4)
    (0 until 4).foreach { s =>
      val file = new java.io.File(s"$dir/shard=$s").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(file.length === 1, s"shard $s files")
      val rows = spark.read.parquet(file(0).getPath)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq)
      val expect = assigned.filter(col("shard") === s)
        .orderBy(col("pos")).select("doc_id", "pos")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq === expect.toSeq)
    }
  }

  test("temperature weights: alpha=1 is proportional, keeps everything") {
    val w = SampleOps.temperatureWeights(docs, "lang", 1.0).collect()
    w.foreach { r =>
      assert(r.getDouble(4) === 1.0) // keep_prob
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-5) // share ≈ target
    }
  }

  test("temperature weights flatten toward uniform as alpha drops") {
    def spread(alpha: Double): Double = {
      val t = SampleOps.temperatureWeights(docs, "lang", alpha)
        .collect().map(_.getDouble(3))
      t.max - t.min
    }
    // target-share spread shrinks monotonically with temperature
    assert(spread(0.25) < spread(0.5))
    assert(spread(0.5) < spread(1.0))
    // smallest stratum keeps all; the dominant one is downsampled
    val w = SampleOps.temperatureWeights(docs, "lang", 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(4)))
    assert(w.minBy(_._1)._2 === 1.0)
    assert(w.maxBy(_._1)._2 < 1.0)
  }

  test("temperature sample downsamples the dominant stratum only as far " +
      "as its keep probability") {
    val full = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = SampleOps.temperatureSample(docs, "lang", "doc_id", 0.5)
    val counts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val smallest = full.minBy(_._2)._1
    val largest = full.maxBy(_._2)._1
    assert(counts(smallest) === full(smallest)) // keep_prob 1 ⇒ untouched
    assert(counts(largest) < full(largest))     // dominant stratum shrinks
    // deterministic: a rerun keeps the identical row set
    val again = SampleOps.temperatureSample(docs, "lang", "doc_id", 0.5)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ===
      again.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("leakage-safe split keeps near-dup families in one bucket") {
    import spark.implicits._
    val rows = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // families {1..10} and {11..20}; everything else unclustered
    val clusters = ((1L to 10L).map(i => (i, 1L)) ++
      (11L to 20L).map(i => (i, 11L))).toDF("node", "component")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = SampleOps.leakageSafeSplit(rows, clusters, "doc_id", w)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 400)
    // each family shares one split — no member leaks across buckets
    assert((1L to 10L).map(out).toSet.size === 1)
    assert((11L to 20L).map(out).toSet.size === 1)
    // unclustered rows split exactly as the plain id-keyed split
    val plain = SampleOps.hashSplit(rows, "doc_id", w)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (21L to 400L).foreach(i => assert(out(i) === plain(i), s"doc $i"))
  }

  test("takeExactPerStratum: exactly n per stratum in md5 order; prefix-stable") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => (i, if (i % 3 == 0) "a" else "b"))
    val df = rows.toDF("doc_id", "lang")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = SampleOps.takeExactPerStratum(df, "lang", "doc_id", 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly 7 per stratum, and exactly the md5-order prefix
    rows.groupBy(_._2).foreach { case (l, g) =>
      val want = g.map(_._1)
        .sortBy(id => (md5hex(id.toString), id)).take(7).toSet
      assert(got.filter(_._2 == l).map(_._1).toSet === want, s"stratum $l")
    }
    // n larger than a stratum keeps the whole stratum
    val all = SampleOps.takeExactPerStratum(df, "lang", "doc_id", 100)
      .count()
    assert(all === 50L)
    // the n=7 pick is a subset of the n=9 pick (prefix semantics)
    val bigger = SampleOps.takeExactPerStratum(df, "lang", "doc_id", 9)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet.subsetOf(bigger))
  }

  test("curriculumBins deals equal-size, quality-ordered bins per stratum") {
    import spark.implicits._
    val rows = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", (i * 7 % 40).toDouble))
      .toDF("doc_id", "lang", "q")
    val out = SampleOps.curriculumBins(rows, "lang", "doc_id", $"q", 4)
      .select("doc_id", "lang", "q", "bin").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    // 20 rows per stratum, 4 bins → exactly 5 per (stratum, bin)
    out.groupBy(r => (r._2, r._4)).foreach { case (k, g) =>
      assert(g.length === 5, k)
    }
    // within a stratum, every bin-k quality ≥ every bin-(k+1) quality
    out.groupBy(_._2).values.foreach { g =>
      val byBin = g.groupBy(_._4)
      (1 to 3).foreach { b =>
        assert(byBin(b).map(_._3).min >= byBin(b + 1).map(_._3).max)
      }
    }
    // exact Scala reference: rank by (q desc, id) then deal
    val want = (1L to 40L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", (i * 7 % 40).toDouble))
      .groupBy(_._2).values.flatMap { g =>
        g.sortBy { case (id, _, q) => (-q, id) }.zipWithIndex
          .map { case ((id, _, _), rk) => id -> (rk * 4 / g.size + 1) }
      }.toMap
    out.foreach { case (id, _, _, bin) => assert(bin === want(id), s"doc $id") }
  }

  test("redactPii strips emails, SSNs, and phones; leaves clean text") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact me at jane.doe@example.com for details"),
      (2L, "ssn is 123-45-6789 thanks"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "perfectly clean text")
    ).toDF("id", "text")
      .select($"id", graft.functions.TextFunctions.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) === "contact me at [EMAIL] for details")
    assert(rows(2L) === "ssn is [SSN] thanks")
    assert(rows(3L) === "call [PHONE] now")
    assert(rows(4L) === "perfectly clean text")
  }
}
