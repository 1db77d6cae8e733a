package graft.similarity

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir)

  test("self-similarity is 1.0 and tops the ranking") {
    val top = Similarity.bruteForceTopK(emb, 0L, 10).collect()
    assert(top(0).getLong(0) === 0L)
    assert(top(0).getDouble(1) === 1.0)
    val sims = top.map(_.getDouble(1))
    assert(sims.sorted(Ordering[Double].reverse).toSeq === sims.toSeq)
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("multi-query returns k rows per query, rank 1 = self") {
    val r = Similarity.multiQueryTopK(emb, Seq(0L, 1L, 2L), 5).collect()
    assert(r.length === 15)
    val byQuery = r.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === 5)
      val first = rows.minBy(_.getInt(3))
      assert(first.getLong(1) === q) // self is rank 1
    }
  }

  test("JL projection: exact plane-rule components, self tops projected ranking") {
    // components match a direct Scala evaluation of the md5 plane rule
    val rows = Similarity.randomProject(emb.limit(20), 8)
      .orderBy("vec_id", "p").collect()
    val vecs = emb.limit(20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def plane(p: Int, j: Int): Double = {
      md.reset()
      val d = md.digest(s"$p|$j".getBytes("UTF-8"))
      val m = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (m % 1000L).toDouble / 1000.0 - 0.5
    }
    rows.foreach { r =>
      val v = vecs(r.getLong(0)); val p = r.getInt(1)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j) * plane(p, j); j += 1 }
      val expected = BigDecimal(dot)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === expected, s"vec ${r.getLong(0)} p $p")
    }
    // projected serving scan: self similarity is 1.0 and tops the list
    val top = Similarity.projectedTopK(emb, 0L, 10, outDim = 8).collect()
    assert(top(0).getLong(0) === 0L && top(0).getDouble(1) === 1.0)
    val sims = top.map(_.getDouble(1))
    assert(sims.sorted(Ordering[Double].reverse).toSeq === sims.toSeq)
  }

  test("projectedRecall: wider projections never hurt; self always hits") {
    val r8 = Similarity.projectedRecall(emb, Seq(0L, 1L, 2L), 10, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(r8.keySet === Set(0L, 1L, 2L))
    // the query itself ranks first in BOTH spaces → recall ≥ 1/k > 0
    r8.values.foreach(v => assert(v > 0.0 && v <= 1.0))
    // projecting onto MORE planes preserves more geometry on average;
    // assert the aggregate, not per-query (JL is probabilistic)
    val r32 = Similarity.projectedRecall(emb, Seq(0L, 1L, 2L), 10, 32)
      .collect().map(r => r.getDouble(3))
    assert(r32.sum >= r8.values.sum - 0.2001,
      s"32-dim ${r32.sum} vs 8-dim ${r8.values.sum}")
  }

  test("SRP buckets are deterministic and bounded") {
    val b1 = emb.select(graft.Composed.srpBucket($"embedding", 4).as("b"))
      .agg(min("b"), max("b")).head
    assert(b1.getLong(0) >= 0L && b1.getLong(1) <= 15L)
    val a = emb.select(graft.Composed.srpBucket($"embedding", 4)).collect().map(_.getLong(0))
    val b = emb.select(graft.Composed.srpBucket($"embedding", 4)).collect().map(_.getLong(0))
    assert(a.toSeq === b.toSeq)
  }

  test("ANN recall: query's own bucket contains it; results subset of brute") {
    val ann = Similarity.annTopK(emb, 0L, 10, nPlanes = 4).collect()
    assert(ann.nonEmpty)
    assert(ann(0).getLong(0) === 0L) // self always survives bucketing
    val brute = Similarity.bruteForceTopK(emb, 0L, 100).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every ANN score agrees with the exact score
    ann.foreach(r => assert(brute.get(r.getLong(0)).forall(_ === r.getDouble(1))))
  }

  test("IVF: query's own cell is probed, results ⊆ brute force, self tops") {
    val ivf = Similarity.ivfTopK(emb, 0L, 10, nCells = 16, nProbe = 2).collect()
    assert(ivf.nonEmpty)
    // the query vector quantizes into a probed cell, so it ranks itself
    assert(ivf(0).getLong(0) === 0L)
    assert(ivf(0).getDouble(1) === 1.0)
    // every IVF hit is a true vector with its exact brute-force score
    val brute = Similarity.bruteForceTopK(emb, 0L, 200).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { r =>
      assert(brute.get(r.getLong(0)).contains(r.getDouble(1)),
        s"vec ${r.getLong(0)} score mismatch vs brute force")
    }
    // scores descend
    val sims = ivf.map(_.getDouble(1))
    assert(sims.sorted(Ordering[Double].reverse).toSeq === sims.toSeq)
  }

  test("IVF recall grows with nProbe (more cells scanned, never fewer hits)") {
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    def recall(nProbe: Int) =
      Similarity.ivfTopK(emb, 0L, 10, nCells = 16, nProbe = nProbe)
        .collect().map(_.getLong(0)).count(brute) / 10.0
    val r2 = recall(2)
    val rAll = recall(16) // probing every cell = exact brute force
    assert(rAll === 1.0)
    assert(r2 <= rAll)
  }

  test("contrastivePairs: planted twin is THE positive; negatives below threshold") {
    val planted = emb.unionByName(
      emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
          col("label")))
    val out = Similarity.contrastivePairs(planted, Seq(0L), 5)
      .collect()
      .map(r => (r.getString(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    val pos = out.filter(_._1 == "positive")
    assert(pos.length === 1)
    assert(pos.head._3 === 1000000L) // the ×2-scaled twin, cos exactly 1
    assert(pos.head._4 === 1.0)
    val neg = out.filter(_._1 == "negative")
    assert(neg.length === 5)
    assert(neg.forall(_._4 < 0.98))
    assert(neg.map(_._2).toSeq === (1 to 5))
    assert(neg.map(_._4).toSeq ===
      neg.map(_._4).sorted(Ordering[Double].reverse).toSeq)
    assert(out.forall(_._3 != 0L)) // the anchor never exports itself
  }

  test("centroidDrift: exact fixed-point reference; single label drifts 1.0") {
    val rows = Seq(
      (1L, Seq(0.1f, 0.2f, -0.3f), 0),
      (2L, Seq(0.3f, -0.1f, 0.05f), 0),
      (3L, Seq(-0.2f, 0.4f, 0.11f), 1),
      (4L, Seq(0.001f, 0.5f, -0.25f), 1),
      (5L, Seq(0.25f, 0.25f, 0.25f), 2))
    val df = rows.toDF("vec_id", "embedding", "label")
    val S = 17592186044416L
    def sumVec(vs: Seq[Seq[Float]]): Seq[Long] =
      vs.map(_.map(x => math.floor(x.toDouble * S).toLong))
        .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val global = sumVec(rows.map(_._2))
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble
        na += x.toDouble * x.toDouble; nb += y.toDouble * y.toDouble }
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Similarity.centroidDrift(df).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.groupBy(_._3).foreach { case (l, vs) =>
      assert(got(l)._1 === vs.size.toLong, s"label $l count")
      assert(got(l)._2 === cos(sumVec(vs.map(_._2)), global), s"label $l cos")
    }
    // one label = its centroid IS the global centroid
    val solo = Similarity.centroidDrift(
      rows.filter(_._3 == 0).toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getDouble(2))
    assert(solo.toSeq === Seq(1.0))
    // empty input returns zero rows — under ANSI, an element_at over
    // the empty collected array would throw during the broadcast build
    val none = Similarity.centroidDrift(
      rows.filter(_ => false).toDF("vec_id", "embedding", "label"))
      .collect()
    assert(none.isEmpty)
  }

  test("annRecall: probing every cell scores 1.0; fewer probes never beat it") {
    val cents = Similarity.seedCentroids(emb, 16)
    val qs = Seq(0L, 1L, 2L)
    def recalls(nProbe: Int): Map[Long, Double] =
      Similarity.annRecall(emb, cents, qs, 10, nProbe).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val all = recalls(16)
    assert(qs.forall(q => all(q) === 1.0), all)
    val two = recalls(2)
    assert(qs.forall(q => two(q) <= all(q)), two)
    // and it agrees with the independent hand-rolled recall
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    val probed = Similarity.ivfTopKFrom(emb, cents, 0L, 10, 2).collect()
      .map(_.getLong(0)).toSet
    assert(two(0L) === (probed & brute).size / 10.0)
  }

  test("k-means IVF build refines seeds; probe scan stays exact") {
    val seeds = Similarity.seedCentroids(emb, 8)
    val refined = Similarity.ivfBuild(emb, nCells = 8, iterations = 2)
    assert(refined.length === seeds.length)
    assert(refined.forall(_.length === seeds.head.length))
    assert(refined !== seeds) // Lloyd iterations actually moved them
    // exactness is centroid-independent: probing every cell ≡ brute
    val all = Similarity.ivfTopKFrom(emb, refined, 0L, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(all.toSeq === brute.toSeq)
    // the query's own cell is always the top probe → self-hit holds
    val probed = Similarity.ivfTopKFrom(emb, refined, 0L, 10, nProbe = 2).collect()
    assert(probed(0).getLong(0) === 0L)
  }

  test("appendToIvfIndex ≡ full rebuild, entry for entry, pruning intact") {
    val cents = Similarity.seedCentroids(emb, 8)
    val full = tempDir("graft-ivf-full")
    val inc = tempDir("graft-ivf-inc")
    VectorStore.write(VectorCodec.Float, emb, cents, full)
    VectorStore.write(VectorCodec.Float,
      emb.filter(col("vec_id") % 3 =!= 1), cents, inc)
    // two appended batches against the SAME frozen centroids
    VectorStore.append(VectorCodec.Float,
      emb.filter(col("vec_id") % 6 === 1), cents, inc, "b1")
    VectorStore.append(VectorCodec.Float,
      emb.filter(col("vec_id") % 6 === 4), cents, inc, "b2")
    // a RETRY of batch b2 (partial-failure recovery) overwrites its
    // own (cell, batch_id) partitions — no double-inserted vectors
    VectorStore.append(VectorCodec.Float,
      emb.filter(col("vec_id") % 6 === 4), cents, inc, "b2")
    def entries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(entries(inc) === entries(full))
    // ROW counts too — set equality alone would hide a replay's
    // double-inserted duplicates
    assert(spark.read.parquet(inc).count() ===
      spark.read.parquet(full).count())
    // appended files land INSIDE the existing cell directories, so a
    // probe over the incremental index prunes exactly like the rebuild
    val probeFull = VectorStore.topKFromIndex(VectorCodec.Float,
      spark.read.parquet(full),
      cents, emb.filter(col("vec_id") === 0).head.getSeq[Float](1)
        .map(_.toDouble).toVector, 10, 2).collect().toSeq
    val probeInc = VectorStore.topKFromIndex(VectorCodec.Float,
      spark.read.parquet(inc),
      cents, emb.filter(col("vec_id") === 0).head.getSeq[Float](1)
        .map(_.toDouble).toVector, 10, 2).collect().toSeq
    assert(probeInc === probeFull)
    val pruned = spark.read.parquet(inc).filter(col("cell") === 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("cell"))
    // the batch-keyed layout carries HISTORY: named as-of serves any
    // batch subset ≡ a rebuild on those batches' vectors, and the
    // batch_id predicate prunes partitions next to the cell probes
    def asOfEntries(bs: String*) =
      Similarity.readIvfIndexAsOf(spark, inc, bs)
        .select(col("vec_id"), col("cell").cast("int")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    def rebuiltEntries(df: org.apache.spark.sql.DataFrame) = {
      val p = tempDir("graft-ivf-ao")
      VectorStore.write(VectorCodec.Float, df, cents, p)
      spark.read.parquet(p)
        .select(col("vec_id"), col("cell").cast("int")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    assert(asOfEntries("build") ===
      rebuiltEntries(emb.filter(col("vec_id") % 3 =!= 1)))
    assert(asOfEntries("build", "b1") === rebuiltEntries(
      emb.filter(col("vec_id") % 3 =!= 1 || col("vec_id") % 6 === 1)))
    assert(asOfEntries("build", "b1", "b2") === entries(full))
    val asOfPlan = Similarity.readIvfIndexAsOf(spark, inc, Seq("build"))
      .filter(col("cell") === 0).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(asOfPlan.contains("PartitionFilters") &&
      asOfPlan.contains("batch_id"))
    // a batch name with no partitions fails loudly (post-compaction
    // stale names must not silently serve a partial index)
    intercept[IllegalArgumentException] {
      Similarity.readIvfIndexAsOf(spark, inc, Seq("build", "ghost"))
    }
    // the numeric-prefix overload rejects name-keyed layouts instead
    // of letting the string-vs-long cast null out every batch
    intercept[IllegalArgumentException] {
      Similarity.readIvfIndexAsOf(spark, inc, 1L)
    }
    // the compressed twin carries the same contract: int8 entries,
    // append ≡ rebuild entry for entry
    val qFull = tempDir("graft-qivf-f")
    val qInc = tempDir("graft-qivf-i")
    VectorStore.write(VectorCodec.Int8, emb, cents, qFull)
    VectorStore.write(VectorCodec.Int8,
      emb.filter(col("vec_id") % 3 =!= 2), cents, qInc)
    VectorStore.append(VectorCodec.Int8,
      emb.filter(col("vec_id") % 3 === 2), cents, qInc, "b1")
    // quantized retry replay: same key, same rows, no duplicates
    VectorStore.append(VectorCodec.Int8,
      emb.filter(col("vec_id") % 3 === 2), cents, qInc, "b1")
    def qEntries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("scale"), col("qvec"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2), r.getLong(3)))
      .toSet
    assert(qEntries(qInc) === qEntries(qFull))
    assert(spark.read.parquet(qInc).count() ===
      spark.read.parquet(qFull).count())
  }

  test("deleteFromIvfIndex: tombstoned serving ≡ rebuild-on-remaining; " +
      "pruning intact; compaction invisible and drops tombstones") {
    val cents = Similarity.seedCentroids(emb, 8)
    val del = tempDir("graft-ivf-del")
    val reb = tempDir("graft-ivf-reb")
    VectorStore.write(VectorCodec.Float, emb, cents, del)
    VectorStore.write(VectorCodec.Float,
      emb.filter(col("vec_id") % 5 =!= 2), cents, reb)
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")), del, "d1")
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1)
      .map(_.toDouble).toVector
    val want = VectorStore.topKFromIndex(VectorCodec.Float,
      spark.read.parquet(reb),
      cents, q, 10, 2).collect().toSeq
    assert(VectorStore.topKFromIndex(VectorCodec.Float,
      Similarity.readIvfIndex(spark, del),
      cents, q, 10, 2).collect().toSeq === want)
    // cell pruning still rides the partition layout through the reader
    val pruned = Similarity.readIvfIndex(spark, del)
      .filter(col("cell") === 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("cell"))
    // an index with NO tombstones reads through the same helper with
    // no anti-join in the plan
    val plain = Similarity.readIvfIndex(spark, reb)
    assert(!plain.queryExecution.executedPlan.toString.contains("Join"))
    // compaction: same served values, tombstones gone
    Similarity.compactIvfIndex(spark, del)
    assert(!new java.io.File(del + "/_tombstones").exists())
    assert(VectorStore.topKFromIndex(VectorCodec.Float,
      Similarity.readIvfIndex(spark, del),
      cents, q, 10, 2).collect().toSeq === want)
    // and the compacted layout still accepts appends
    VectorStore.append(VectorCodec.Float,
      emb.filter(col("vec_id") % 5 === 2), cents, del, "readd")
    val full = VectorStore.topKFromIndex(VectorCodec.Float,
      Similarity.readIvfIndex(spark, del),
      cents, q, 10, 2).collect().toSeq
    val fullWant = VectorStore.topKFromIndex(VectorCodec.Float,
      spark.read.parquet(tempDir("graft-ivf-fw") match {
          case p => VectorStore.write(VectorCodec.Float, emb, cents, p); p
        }), cents, q, 10, 2).collect().toSeq
    assert(full === fullWant)
  }

  test("reclusterIvfIndex ≡ rebuild on live entries; churn matrix " +
      "accounts for every live vector and honors tombstones") {
    val sub = emb.limit(80).select("vec_id", "embedding").cache()
    val cents0 = Similarity.seedCentroids(sub, 8)
    val old = tempDir("graft-ivf-rc0")
    VectorStore.write(VectorCodec.Float, sub, cents0, old)
    // tombstone a slice — recluster must NOT resurrect it
    Similarity.deleteFromIvfIndex(
      sub.filter(col("vec_id") % 9 === 1).select(col("vec_id")), old, "d1")
    val live = sub.filter(col("vec_id") % 9 =!= 1)
    val cents1 = Similarity.ivfBuild(sub, 8, 1)
    val nw = tempDir("graft-ivf-rc1")
    VectorStore.recluster(VectorCodec.Float, spark, old, cents1, nw)
    val reb = tempDir("graft-ivf-rc2")
    VectorStore.write(VectorCodec.Float, live, cents1, reb)
    def entries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(entries(nw) === entries(reb))
    // the new layout still prunes (it IS a writeIvfIndex layout)
    val plan = spark.read.parquet(nw).filter(col("cell") === 0)
      .queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
    // churn matrix: totals = live count, and each (old, new) bucket
    // matches the direct assignment comparison
    val churn = Similarity.reclusterChurn(spark, old, nw).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(churn.values.sum === live.count())
    val liveIds = live.select("vec_id").collect().map(_.getLong(0)).toSet
    val newCells = entries(nw).toMap
    val direct = entries(old).toSeq.filter(e => liveIds(e._1))
      .map { case (id, cOld) => (cOld.toInt, newCells(id).toInt) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(churn === direct)
    // the COMPRESSED twin: the int8 store carries no embeddings, so
    // refresh re-quantizes from the caller-supplied source — result
    // ≡ a quantized rebuild on the live source rows, tombstones
    // honored, and the churn matrix equals the float family's
    val qOld = tempDir("graft-qivf-rc0")
    VectorStore.write(VectorCodec.Int8, sub, cents0, qOld)
    Similarity.deleteFromIvfIndex(
      sub.filter(col("vec_id") % 9 === 1).select(col("vec_id")), qOld, "d1")
    val qNw = tempDir("graft-qivf-rc1")
    VectorStore.recluster(VectorCodec.Int8, spark, qOld, cents1, qNw, Some(sub))
    val qReb = tempDir("graft-qivf-rc2")
    VectorStore.write(VectorCodec.Int8, live, cents1, qReb)
    def qEntries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("scale"), col("qvec"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2), r.getLong(3)))
      .toSet
    assert(qEntries(qNw) === qEntries(qReb))
    assert(Similarity.reclusterChurn(spark, qOld, qNw).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap === churn)
    // a live id with no source row fails loudly — refresh must never
    // silently shrink the index
    intercept[IllegalArgumentException] {
      VectorStore.recluster(VectorCodec.Int8,
        spark, qOld, cents1, tempDir("graft-qivf-rc3"),
        Some(sub.filter(col("vec_id") % 2 === 0)))
    }
    sub.unpersist()
  }

  test("reclusterPqIndex ≡ PQ rebuild on live source rows; pqRecall " +
      "measures the ADC operating point against the exact ranking") {
    val sub = emb.limit(80).select("vec_id", "embedding").cache()
    val cents0 = Similarity.seedCentroids(sub, 8)
    val cb0 = Similarity.pqBuild(sub, m = 8, ksub = 16, iterations = 1)
    val old = tempDir("graft_pqrc0")
    VectorStore.write(VectorCodec.Pq(cb0), sub, cents0, old)
    // tombstone a slice — the refresh must NOT resurrect it
    Similarity.deleteFromIvfIndex(
      sub.filter(col("vec_id") % 9 === 1).select(col("vec_id")), old, "d1")
    val live = sub.filter(col("vec_id") % 9 =!= 1)
    val cents1 = Similarity.ivfBuild(sub, 8, 1)
    val cb1 = Similarity.pqBuild(live, m = 8, ksub = 16, iterations = 1)
    val nw = tempDir("graft_pqrc1")
    VectorStore.recluster(VectorCodec.Pq(cb1),
      spark, old, cents1, nw, Some(sub))
    val reb = tempDir("graft_pqrc2")
    VectorStore.write(VectorCodec.Pq(cb1), live, cents1, reb)
    def entries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(entries(nw) === entries(reb))
    // churn matrix is layout-generic: totals = live count
    assert(Similarity.reclusterChurn(spark, old, nw).collect()
      .map(_.getLong(2)).sum === live.count())
    // a live id with no source row fails loudly — refresh must never
    // silently shrink the index
    intercept[IllegalArgumentException] {
      VectorStore.recluster(VectorCodec.Pq(cb1),
        spark, old, cents1, tempDir("graft_pqrc3"),
        Some(sub.filter(col("vec_id") % 2 === 0)))
    }
    // pqRecall with ALL cells probed isolates the pure ADC loss: per
    // query the recall must equal an independent overlap count between
    // the plain ADC ranking and the exact float ranking
    val index = spark.read.parquet(reb)
    val rec = VectorStore.recall(VectorCodec.Pq(cb1), index, live, cents1,
      Seq(0L, 2L), 5, nProbe = 8).collect()
    assert(rec.map(_.getLong(0)).toSeq === Seq(0L, 2L))
    rec.foreach { r =>
      val qid = r.getLong(0)
      val q = live.filter(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toVector
      val approx = Similarity.pqTopK(Similarity.pqEncode(live, cb1), cb1,
        q, 5).collect().map(_.getLong(0)).toSet
      val exact = Similarity.bruteForceTopK(live, qid, 5)
        .collect().map(_.getLong(0)).toSet
      assert(r.getLong(1) === exact.size.toLong)
      assert(r.getDouble(2) ===
        BigDecimal(approx.intersect(exact).size.toDouble / exact.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    sub.unpersist()
  }

  test("IVF index written partitionBy(cell) gives partition-pruned probe scans") {
    val dir = tempDir("graft-ivf")
    val cents = Similarity.seedCentroids(emb, 8)
    VectorStore.write(VectorCodec.Float, emb, cents, dir)
    val idx = spark.read.parquet(dir)
    val probe = idx.filter(col("cell").isin(0, 1))
    val p = probe.queryExecution.executedPlan.toString
    // the cell predicate must land INSIDE the PartitionFilters bracket
    // (directory pruning) — an empty "PartitionFilters: []" plus `cell`
    // appearing elsewhere in the scan must not satisfy this
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined, p)
    // written assignments must equal the probe path's own cell rule,
    // computed independently from the source embeddings
    val centLit = typedlit(cents)
    val expected = emb
      .select(col("vec_id"),
        Similarity.cellOf(
          Similarity.cellScoresFor(emb, centLit)(col("embedding"))).as("cell"))
      .filter(col("cell").isin(0, 1))
      .collect().map(_.getLong(0)).toSet
    val viaIndex = probe.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex === expected && viaIndex.nonEmpty)
  }

  test("ivfTopKFromIndex over the written index ≡ the in-plan probe path") {
    val dir = tempDir("graft-ivf-q")
    val cents = Similarity.seedCentroids(emb, 16)
    VectorStore.write(VectorCodec.Float, emb, cents, dir)
    val qv = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head.getSeq[Double](0).toVector
    val viaIndex = VectorStore.topKFromIndex(VectorCodec.Float,
      spark.read.parquet(dir), cents, qv, 10, nProbe = 2)
    val inPlan = Similarity.ivfTopKFrom(emb, cents, 0L, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaIndex.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === inPlan.toSeq)
    // the disk-served probe must prune: literal cells inside
    // PartitionFilters, not a post-scan filter
    val p = viaIndex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined, p)
    // driver-side probe choice matches the in-plan (score desc, cid)
    // rule — the query's own cell must lead the probe list
    val probes = Similarity.probeCells(cents, qv, 2)
    assert(probes.length === 2)
    // zero-norm query: no direction → no probes → empty result
    assert(Similarity.probeCells(cents, Vector.fill(qv.length)(0.0), 2).isEmpty)
  }

  test("embedding near-dup finds planted exact copies at cos=1") {
    val planted = emb.select($"vec_id", $"embedding").limit(20)
      .union(emb.select(($"vec_id" + 1000L).as("vec_id"), $"embedding").limit(20))
    val pairs = Similarity.embeddingNearDuplicates(planted, 0.999).collect()
    assert(pairs.length >= 20)
    pairs.take(20).foreach(r => assert(r.getDouble(2) >= 0.999))
  }

  test("multi-probe ANN candidates are a superset of single-probe") {
    val single = Similarity.annTopK(emb, 0L, 100, nPlanes = 6).collect()
      .map(_.getLong(0)).toSet
    val multi = Similarity.annTopK(emb, 0L, 100, nPlanes = 6, multiProbe = true)
      .collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi))
    assert(multi.size >= single.size)
    // multi-probe recall vs brute force is at least single-probe's
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    assert((brute intersect multi).size >= (brute intersect single).size)
  }

  test("semdedup drops the higher id of a within-cell near-dup pair") {
    import spark.implicits._
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(1.0f, 0.0f)), // dups, cell 0
      (20L, Array(0.0f, 1.0f)), (21L, Array(0.0f, 1.0f)), // dups, cell 1
      (30L, Array(0.6f, 0.3f)),                           // alone in cell 0
      (60L, Array(0.0f, 0.0f))                            // zero-norm: no cell
    ).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = Similarity.semanticDuplicates(vecs, cents, 0.999)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(10L -> 0, 20L -> 1, 30L -> 0))
  }

  test("semdedup compares only within a cell (the locality contract)") {
    import spark.implicits._
    // cos(v1, v2) ≈ 0.9991 ≥ threshold, but they quantize to different
    // cells — both survive: cells bound the quadratic, at a recall cost
    val vecs = Seq(
      (50L, Array(0.72f, 0.69f)), // nearest [1,0] → cell 0
      (51L, Array(0.69f, 0.72f))  // nearest [0,1] → cell 1
    ).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = Similarity.semanticDuplicates(vecs, cents, 0.999)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(50L -> 0, 51L -> 1))
  }

  test("semdedup from a written IVF index ≡ direct computation") {
    val base = emb.select($"vec_id", $"embedding")
    val planted = base.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val corpus = base.unionByName(planted)
    val cents = Similarity.seedCentroids(base, 16)
    val dir = tempDir("graft_semdedup")
    VectorStore.write(VectorCodec.Float, corpus, cents, dir)
    val direct = Similarity.semanticDuplicates(corpus, cents, 0.999)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val indexed = Similarity.semanticDuplicatesFromIndex(
      spark.read.parquet(dir), 0.999)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(indexed === direct)
  }

  test("int8 quantization: bounded entries, tight round-trip error") {
    val q = Similarity.quantizeEmbeddings(emb)
    val rows = q.join(emb, "vec_id")
      .select($"vec_id", $"scale", $"qvec",
        $"embedding".cast("array<double>").as("ve"))
      .collect()
    assert(rows.length === emb.count())
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val qv = r.getSeq[Int](2)
      val ve = r.getSeq[Double](3)
      assert(qv.length === ve.length)
      assert(qv.forall(x => x >= -127 && x <= 127))
      // dequantization error per entry is at most half a step
      qv.zip(ve).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-12,
          s"vec ${r.getLong(0)}")
      }
    }
    // degenerate vectors quantize to zeros with scale 0 — all-zero,
    // NaN-poisoned, and infinite alike (round(NaN).cast(int) would
    // otherwise THROW under ANSI and kill the job for one bad row)
    val z = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, Float.NaN, 3.0f)),
      (3L, Array(1.0f, Float.PositiveInfinity, 3.0f)),
      (4L, Array(1.0f, Float.NegativeInfinity, 3.0f))
    ).toDF("vec_id", "embedding")
    Similarity.quantizeEmbeddings(z).collect().foreach { r =>
      assert(r.getDouble(1) === 0.0, s"vec ${r.getLong(0)}")
      assert(r.getSeq[Int](2).forall(_ === 0), s"vec ${r.getLong(0)}")
    }
  }

  test("quantized IVF index: pruned probe ≡ in-plan quantized ranking") {
    val dir = tempDir("graft-qivf") + "/idx"
    val cents = Similarity.seedCentroids(emb, 8)
    VectorStore.write(VectorCodec.Int8, emb, cents, dir)
    val idx = spark.read.parquet(dir)
    val qv = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    val out = VectorStore.topKFromIndex(VectorCodec.Int8, idx, cents, qv, 10, 2)
    // probe cells land inside PartitionFilters (directory pruning)
    val p = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined, p)
    val got = out.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.head._1 === 0L) // self-match tops
    // parity: the full in-plan quantized ranking (driver-side query
    // quantization ≡ the DataFrame rule), restricted to the ids that
    // live in the probed cells, is exactly the index-served top-k
    val probes = Similarity.probeCells(cents, qv, 2)
    val cellIds = idx.filter(col("cell").isin(probes: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val full = Similarity.quantizedTopK(
      Similarity.quantizeEmbeddings(emb), 0L, emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(r => cellIds(r._1)).take(10)
    assert(got.toSeq === full.toSeq)
    // degenerate queries degrade to empty, never throw: zero, NaN, Inf
    Seq(Seq(0.0, 0.0), Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity))
      .foreach { q =>
        assert(VectorStore.topKFromIndex(VectorCodec.Int8, idx, cents, q, 10, 2)
          .count() === 0L, q)
        assert(Similarity.probeCells(cents, q, 2) === Seq.empty, q)
      }
  }

  test("quantized top-k closely tracks the exact float ranking") {
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0))
    val quant = Similarity.quantizedTopK(
      Similarity.quantizeEmbeddings(emb), 0L, 10)
      .collect().map(_.getLong(0))
    // self-match first (scale²·qdot is its own maximum over the corpus
    // only approximately — but the planted self vector is exact)
    assert(quant.head === 0L)
    // int8 keeps ~2 decimal places of cosine: rankings overlap heavily
    assert(exact.toSet.intersect(quant.toSet).size >= 8)
  }

  test("PQ: codes bounded, deterministic, and centroids keep subspace shape") {
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 2)
    assert(cb.m === 8 && cb.subDim === 8)
    cb.centroids.foreach { sub =>
      assert(sub.length === 16)
      sub.foreach(c => assert(c.length === 8))
    }
    val codes = Similarity.pqEncode(emb, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codes.length === emb.count())
    codes.foreach { case (_, cs) =>
      assert(cs.length === 8)
      cs.foreach(c => assert(c >= 0 && c < 16))
    }
    val again = Similarity.pqEncode(emb, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codes.toSeq === again.toSeq)
  }

  test("PQ ADC recall tracks the exact ranking (the documented trade-off)") {
    // the entry configuration: m=8 subspaces × 64 centroids
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 64, iterations = 2)
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    val pq = Similarity.pqTopK(Similarity.pqEncode(emb, cb), cb, q, 10)
      .collect().map(_.getLong(0))
    // embeddings are unit-norm, so the dot ranking PQ approximates is
    // the cosine ranking bruteForceTopK computes
    val exactTop = Similarity.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getLong(0))
    // the contract is rank QUALITY, not identity: substantial overlap
    // at the documented compression (codes are 8 B of 256 B)
    val overlap = exactTop.toSet.intersect(pq.toSet).size
    assert(overlap >= 4, s"PQ recall@10 too low: $overlap/10 " +
      s"(${pq.toSeq} vs ${exactTop.toSeq})")
  }

  test("PQ-IVF index: pruned probe ≡ full-scan ADC restricted to probed cells") {
    val dir = tempDir("graft_pq_ivf") + "/idx"
    val cents = Similarity.seedCentroids(emb, 16)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    // probing ALL cells ≡ the plain ADC scan (modulo unindexable rows)
    val all = VectorStore.topKFromIndex(VectorCodec.Pq(cb),
      index, cents, q, 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val plain = Similarity.pqTopK(Similarity.pqEncode(emb, cb), cb, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(all.toSeq === plain.toSeq)
    // the probe scan prunes partitions: literal cells INSIDE the
    // PartitionFilters bracket (an empty bracket must not satisfy)
    val pruned = VectorStore.topKFromIndex(VectorCodec.Pq(cb),
      index, cents, q, 10, nProbe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    val ids = pruned.collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.toSet.subsetOf(
      index.select("vec_id").collect().map(_.getLong(0)).toSet))
    // the pruned ranking ≡ the all-cell ADC ranking restricted to the
    // probed cells' members, computed independently
    val probes = Similarity.probeCells(cents, q, 2)
    val members = index.filter($"cell".isin(probes: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = Similarity.pqTopK(
      Similarity.pqEncode(emb.filter($"vec_id".isin(members.toSeq: _*)), cb),
      cb, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === expected.toSeq)
  }

  test("IVF-PQ maintenance: append ≡ rebuild entry for entry, retries " +
      "never duplicate, as-of and erasure compose layout-generically") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val full = tempDir("graft_pqm_f")
    val inc = tempDir("graft_pqm_i")
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, full)
    VectorStore.write(VectorCodec.Pq(cb),
      emb.filter(col("vec_id") % 4 =!= 1), cents, inc)
    VectorStore.append(VectorCodec.Pq(cb),
      emb.filter(col("vec_id") % 4 === 1), cents, inc, "b1")
    // retry replay: same key, own partitions overwritten, no dupes
    VectorStore.append(VectorCodec.Pq(cb),
      emb.filter(col("vec_id") % 4 === 1), cents, inc, "b1")
    def entries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(entries(inc) === entries(full))
    assert(spark.read.parquet(inc).count() === spark.read.parquet(full).count())
    // as-of "build" ≡ the base split's rebuild
    val rebBase = tempDir("graft_pqm_b")
    VectorStore.write(VectorCodec.Pq(cb),
      emb.filter(col("vec_id") % 4 =!= 1), cents,
      rebBase)
    assert(Similarity.readIvfIndexAsOf(spark, inc, Seq("build"))
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2)))
      .toSet === entries(rebBase))
    // tombstones compose onto the PQ layout through the generic reader
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 4 === 1).select(col("vec_id")), inc, "d1")
    assert(Similarity.readIvfIndex(spark, inc)
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2)))
      .toSet === entries(rebBase))
  }

  test("pqBuild seeds from the smallest ids, not an id<ksub filter") {
    // sparse/hashed id spaces: ids start at 5000, so a `id < ksub`
    // seed filter would select NOTHING and downstream encode would
    // emit null codes silently (ADVICE r5) — seeding must take the
    // ksub smallest ids instead and the codebook must stay usable
    val sparse = emb.select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
    val cb = Similarity.pqBuild(sparse, m = 8, ksub = 16, iterations = 1)
    assert(cb.centroids.forall(_.nonEmpty))
    val codes = Similarity.pqEncode(sparse, cb)
      .limit(50).collect()
    assert(codes.nonEmpty)
    codes.foreach(r => assert(!r.isNullAt(1) &&
      r.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
  }

  test("semdedup on the corpus: planted exact copies never survive") {
    val base = emb.select($"vec_id", $"embedding")
    val planted = base.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val cents = Similarity.seedCentroids(base, 16)
    val out = Similarity.semanticDuplicates(base.unionByName(planted), cents, 0.999)
    // every planted copy shares a cell with its source (identical
    // vector → identical assignment) and loses the id tie-break
    assert(out.filter($"vec_id" >= 1000000L).count() === 0)
    assert(out.count() === base.count())
  }

  test("hardNegatives excludes the query and its positives, keeps hard ones") {
    // vec 1 = query; 2 = exact scaled copy (cos 1.0, a positive);
    // 3 = near-positive above the threshold; 4,5 = hard negatives;
    // 6 = orthogonal (easy negative, ranks last)
    val vs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.1f, 0.0f)),   // cos ≈ 0.995 ≥ 0.98 → excluded
      (4L, Seq(1.0f, 0.5f, 0.0f)),   // cos ≈ 0.894
      (5L, Seq(1.0f, 0.8f, 0.0f)),   // cos ≈ 0.781
      (6L, Seq(0.0f, 0.0f, 1.0f))    // cos 0.0
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vs, 1L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(_._1).toSeq === Seq(4L, 5L, 6L))
    assert(out.forall(_._2 < 0.98))
    // k truncates the list from the top
    val top1 = Similarity.hardNegatives(vs, 1L, 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 === Seq(4L))
    // the threshold compares the ROUNDED similarity: cos that rounds
    // to exactly 0.98 is excluded (< is strict on the rounded edge)
    val edge = Seq(
      (1L, Seq(1.0f, 0.0f)),
      // angle chosen so round(cos, 4) == 0.98: tan θ with cos≈0.98005
      (7L, Seq(1.0f, 0.2030f))
    ).toDF("vec_id", "embedding")
    val cos7 = Similarity.bruteForceTopK(edge, 1L, 2)
      .filter($"vec_id" === 7L).head().getDouble(1)
    val kept = Similarity.hardNegatives(edge, 1L, 10)
      .collect().map(_.getLong(0)).toSet
    if (cos7 >= 0.98) assert(!kept.contains(7L)) else assert(kept.contains(7L))
  }

  test("embeddingOutliers flags the vector far from its label centroid") {
    val vs = Seq(
      (1L, Seq(1.0f, 0.0f), "a"),
      (2L, Seq(0.9f, 0.1f), "a"),
      (3L, Seq(-1.0f, 0.05f), "a"),  // opposite direction: the outlier
      (4L, Seq(0.0f, 1.0f), "b"),
      (5L, Seq(0.1f, 0.9f), "b"))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingOutliers(vs, 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(got(3L)._3, s"vector 3 should flag: ${got(3L)}")
    Seq(1L, 2L, 4L, 5L).foreach { id =>
      assert(!got(id)._3, s"vector $id should not flag: ${got(id)}")
    }
    // label isolation: b's members score against b's centroid only
    assert(got(4L)._1 === "b" && got(4L)._2 > 0.5)
    // every cosine is the rounded-4 readout in [-1, 1]
    got.values.foreach { case (_, c, _) =>
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("residual PQ: ADC score decomposes as cell term + residual LUTs; " +
      "append ≡ rebuild on the shared layout; probe prunes partitions") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuildResidual(emb, cents, m = 8, ksub = 16,
      iterations = 1)
    val dir = tempDir("graft_rpq") + "/idx"
    VectorStore.write(VectorCodec.ResidualPq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector

    // all-cell probe ≡ an independent per-row Scala scoring of the
    // residual-encoded corpus: score6 = cellLut6(cell) + Σ lut6(code)
    val all = VectorStore.topKFromIndex(VectorCodec.ResidualPq(cb),
      index, cents, q,
      10, nProbe = 8).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val cl = Similarity.cellLut6(cents, q)
    val lut = Similarity.pqLut6(cb, q)
    val expected = index
      .select($"vec_id", $"codes", $"cell".cast("int")).collect()
      .map { r =>
        val s6 = cl(r.getInt(2)) +
          r.getSeq[Int](1).zipWithIndex.map { case (c, j) => lut(j)(c) }.sum
        (r.getLong(0), BigDecimal(s6.toDouble / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(all.toSeq === expected.toSeq)

    // the pruned probe is a PartitionFilter (directory pruning), and
    // its ranking ≡ the all-cell ranking restricted to probed members
    val pruned = VectorStore.topKFromIndex(VectorCodec.ResidualPq(cb),
      index, cents, q,
      10, nProbe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    val probes = Similarity.probeCells(cents, q, 2).toSet
    val expectedPruned = index
      .select($"vec_id", $"codes", $"cell".cast("int")).collect()
      .filter(r => probes.contains(r.getInt(2)))
      .map { r =>
        val s6 = cl(r.getInt(2)) +
          r.getSeq[Int](1).zipWithIndex.map { case (c, j) => lut(j)(c) }.sum
        (r.getLong(0), BigDecimal(s6.toDouble / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === expectedPruned.toSeq)

    // maintenance composes: append ≡ rebuild entry for entry, and the
    // retry replay never duplicates (dynamic partition self-overwrite)
    val inc = tempDir("graft_rpq_i")
    VectorStore.write(VectorCodec.ResidualPq(cb),
      emb.filter(col("vec_id") % 4 =!= 1), cents, inc)
    VectorStore.append(VectorCodec.ResidualPq(cb),
      emb.filter(col("vec_id") % 4 === 1), cents, inc, "b1")
    VectorStore.append(VectorCodec.ResidualPq(cb),
      emb.filter(col("vec_id") % 4 === 1), cents, inc, "b1")
    def entries(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(entries(inc) === entries(dir))
  }

  test("two-stage PQ serving: exact re-rank of the ADC shortlist with " +
      "In-pushdown candidate fetch; refined recall matches the overlap") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val dir = tempDir("graft_pq2s") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector

    val refined = VectorStore.topKRefined(VectorCodec.Pq(cb),
      index, emb, cents, q,
      10, nProbe = 2, shortlist = 40)
    // the candidate re-fetch is bounded-id point lookups: the In
    // filter reaches the parquet scan
    val plan = refined.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(plan).isDefined,
      plan)
    // expected: the exact cosine ranking RESTRICTED to the ADC
    // shortlist, computed independently in Scala
    val short = VectorStore.topKFromIndex(VectorCodec.Pq(cb),
      index, cents, q, 40, 2)
      .collect().map(_.getLong(0)).toSet
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qn = math.sqrt(dot(q, q))
    val expected = emb.filter($"vec_id".isin(short.toSeq: _*))
      .select($"vec_id", $"embedding".cast("array<double>")).collect()
      .map { r =>
        val v = r.getSeq[Double](1)
        val cos = dot(v, q) / (math.sqrt(dot(v, v)) * qn)
        (r.getLong(0), BigDecimal(cos)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(refined.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === expected.toSeq)

    // a deep-enough shortlist makes the two-stage recall the routing
    // recall: refined recall@k ≡ |exact top-k ∩ shortlist| / k when
    // the shortlist covers the probed cells
    val rec = VectorStore.refinedRecall(VectorCodec.Pq(cb), index, emb, cents,
      Seq(0L, 2L), 5, nProbe = 8, shortlist = 40).collect()
    assert(rec.map(_.getLong(0)).toSeq === Seq(0L, 2L))
    rec.foreach { r =>
      val qid = r.getLong(0)
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector
      val sh = VectorStore.topKFromIndex(VectorCodec.Pq(cb),
        index, cents, qv, 40, 8)
        .collect().map(_.getLong(0)).toSet
      val exact = Similarity.bruteForceTopK(emb, qid, 5)
        .collect().map(_.getLong(0)).toSet
      assert(r.getDouble(2) ===
        BigDecimal(sh.intersect(exact).size.toDouble / exact.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("pqRefinedRecallCurve ≡ per-depth pqRefinedRecall union, row " +
      "for row — shared shortlist/fetch/baseline change nothing") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val dir = tempDir("graft_pqcv") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    // 999999L: a query id with no embedding row (absent from both
    // forms); depths deliberately include one past the probed-cell
    // population so prefix-of-deepest covers the clamp case
    val qids = Seq(0L, 1L, 2L, 999999L)
    val depths = Seq(5, 10, 40, 100000)
    val composed = depths.map { r =>
      VectorStore.refinedRecall(VectorCodec.Pq(cb), index, emb, cents, qids, 5,
        nProbe = 2, shortlist = r).withColumn("shortlist", lit(r))
    }.reduce(_.unionByName(_))
      .orderBy(col("shortlist"), col("query_id"))
    val curve = VectorStore.refinedRecallCurve(VectorCodec.Pq(cb),
      index, emb, cents,
      qids, 5, nProbe = 2, depths)
    assert(curve.schema === composed.schema)
    assert(curve.collect().toSeq === composed.collect().toSeq)
  }

  test("pqMultiTopKFromIndex: batched serving ≡ per-query serves, " +
      "from ONE scan of the union of probed cells") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val dir = tempDir("graft_pqm") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 1L, 2L)
    val qs = qids.map { id =>
      id -> emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector
    }
    val multi = VectorStore.multiTopK(VectorCodec.Pq(cb), index, cents, qs,
      5, nProbe = 2)
    // exactly one scan feeds the whole batch
    val plan = multi.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    val got = multi.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    qs.foreach { case (id, qv) =>
      val single = VectorStore.topKFromIndex(VectorCodec.Pq(cb),
        index, cents, qv, 5,
        nProbe = 2).collect()
        .map(r => (id, r.getLong(0), r.getDouble(1))).toSeq
      assert(got(id).toSeq === single, s"query $id")
    }
  }

  test("residualPqTopKRefined: exact re-rank of the residual-ADC " +
      "shortlist ≡ exact ranking restricted to that shortlist") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuildResidual(emb, cents, m = 8, ksub = 16,
      iterations = 1)
    val dir = tempDir("graft_rpq2s") + "/idx"
    VectorStore.write(VectorCodec.ResidualPq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    val refined = VectorStore.topKRefined(VectorCodec.ResidualPq(cb),
      index, emb, cents,
      q, 10, nProbe = 2, shortlist = 40)
    val plan = refined.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(plan).isDefined,
      plan)
    val short = VectorStore.topKFromIndex(VectorCodec.ResidualPq(cb),
      index, cents, q,
      40, 2).collect().map(_.getLong(0)).toSet
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qn = math.sqrt(dot(q, q))
    val expected = emb.filter($"vec_id".isin(short.toSeq: _*))
      .select($"vec_id", $"embedding".cast("array<double>")).collect()
      .map { r =>
        val v = r.getSeq[Double](1)
        val cos = dot(v, q) / (math.sqrt(dot(v, v)) * qn)
        (r.getLong(0), BigDecimal(cos)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(refined.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === expected.toSeq)
  }

  test("pqMultiTopKRefined: batched two-stage ≡ per-query refined " +
      "serves; one bounded float fetch re-ranks the whole batch") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val dir = tempDir("graft_pqm2s") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 1L, 2L)
    val qs = qids.map { id =>
      id -> (emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector: Seq[Double])
    }
    val multi = VectorStore.multiTopKRefined(VectorCodec.Pq(cb),
      index, emb, cents,
      qs, 5, nProbe = 2, shortlist = 20)
    // the re-rank pass is ONE scan with the union-In pushed down
    val plan = multi.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(plan).isDefined,
      plan)
    val got = multi.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    qs.foreach { case (id, qv) =>
      val single = VectorStore.topKRefined(VectorCodec.Pq(cb),
        index, emb, cents, qv,
        5, nProbe = 2, shortlist = 20).collect()
        .map(r => (id, r.getLong(0), r.getDouble(1))).toSeq
      assert(got(id).toSeq === single, s"query $id")
    }
  }

  test("residualPqMultiTopKFromIndex: batched residual serving ≡ " +
      "per-query serves, one scan, two-part lookup score") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuildResidual(emb, cents, m = 8, ksub = 16,
      iterations = 1)
    val dir = tempDir("graft_rpqm") + "/idx"
    VectorStore.write(VectorCodec.ResidualPq(cb), emb, cents, dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 1L, 2L)
    val qs = qids.map { id =>
      id -> (emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector: Seq[Double])
    }
    val multi = VectorStore.multiTopK(VectorCodec.ResidualPq(cb), index, cents,
      qs, 5, nProbe = 2)
    val plan = multi.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    val got = multi.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    qs.foreach { case (id, qv) =>
      val single = VectorStore.topKFromIndex(VectorCodec.ResidualPq(cb),
        index, cents,
        qv, 5, nProbe = 2).collect()
        .map(r => (id, r.getLong(0), r.getDouble(1))).toSeq
      assert(got(id).toSeq === single, s"query $id")
    }
  }

  test("ivfMultiTopKFromIndex: batched float serving ≡ per-query " +
      "serves, from ONE scan of the union of probed cells") {
    val cents = Similarity.seedCentroids(emb, 8)
    val dir = tempDir("graft_fm") + "/idx"
    VectorStore.write(VectorCodec.Float, emb, cents, dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 1L, 2L)
    val qs = qids.map { id =>
      id -> (emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector: Seq[Double])
    }
    val multi = VectorStore.multiTopK(VectorCodec.Float, index, cents, qs,
      5, nProbe = 2)
    val plan = multi.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    val got = multi.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    qs.foreach { case (id, qv) =>
      val single = VectorStore.topKFromIndex(VectorCodec.Float,
        index, cents, qv, 5,
        nProbe = 2).collect()
        .map(r => (id, r.getLong(0), r.getDouble(1))).toSeq
      assert(got(id).toSeq === single, s"query $id")
    }
    // a zero-norm query has no probes and is simply absent
    val withZero = VectorStore.multiTopK(VectorCodec.Float, index, cents,
      qs :+ (99L -> (Vector.fill(64)(0.0): Seq[Double])), 5, nProbe = 2)
    assert(withZero.filter($"query_id" === 99L).count() === 0L)
  }

  test("quantizedMultiTopKFromIndex: batched int8 serving ≡ per-query " +
      "serves, one scan, exact integer dots") {
    val cents = Similarity.seedCentroids(emb, 8)
    val dir = tempDir("graft_qm") + "/idx"
    VectorStore.write(VectorCodec.Int8, emb, cents, dir)
    val index = spark.read.parquet(dir)
    val qids = Seq(0L, 3L, 5L)
    val qs = qids.map { id =>
      id -> (emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector: Seq[Double])
    }
    val multi = VectorStore.multiTopK(VectorCodec.Int8, index, cents, qs,
      5, nProbe = 2)
    val plan = multi.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan)
    val got = multi.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    qs.foreach { case (id, qv) =>
      val single = VectorStore.topKFromIndex(VectorCodec.Int8,
        index, cents, qv, 5,
        nProbe = 2).collect()
        .map(r => (id, r.getLong(0), r.getDouble(1))).toSeq
      assert(got(id).toSeq === single, s"query $id")
    }
    // degenerate (zero-norm) queries are absent, matching the
    // single-query path's empty result
    val withZero = VectorStore.multiTopK(VectorCodec.Int8, index, cents,
      qs :+ (99L -> (Vector.fill(64)(0.0): Seq[Double])), 5, nProbe = 2)
    assert(withZero.filter($"query_id" === 99L).count() === 0L)
  }

  test("truncationRecall: full-prefix recall is exactly 1, shorter " +
      "prefixes match an independent truncated-ranking overlap") {
    val rec = Similarity.truncationRecall(emb, Seq(0L, 2L), 5,
      Seq(16, 64)).collect()
      .map(r => (r.getInt(3), r.getLong(0)) -> r.getDouble(2)).toMap
    // the full prefix IS the exact ranking — its recall row is the
    // built-in sanity gate
    assert(rec((64, 0L)) === 1.0 && rec((64, 2L)) === 1.0)
    Seq(0L, 2L).foreach { qid =>
      val q = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector
      def dot(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val approx = emb
        .select($"vec_id", $"embedding".cast("array<double>")).collect()
        .map { r =>
          val v = r.getSeq[Double](1).take(16)
          val qd = q.take(16)
          val cos = dot(v, qd) / (math.sqrt(dot(v, v)) * math.sqrt(dot(qd, qd)))
          (r.getLong(0), BigDecimal(cos)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      val exact = Similarity.bruteForceTopK(emb, qid, 5)
        .collect().map(_.getLong(0)).toSet
      assert(rec((16, qid)) ===
        BigDecimal(approx.intersect(exact).size.toDouble / exact.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("principalRotation is orthonormal with a descending spectrum; " +
      "rotated full-dim serving is rotation-invariant") {
    val rot = Similarity.principalRotation(emb)
    val n = rot.length
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // rows are orthonormal (R Rᵀ = I within numerical tolerance)
    for (i <- 0 until n; j <- i until n) {
      val d = dot(rot(i), rot(j))
      if (i == j) assert(math.abs(d - 1.0) < 1e-9, s"row $i norm $d")
      else assert(math.abs(d) < 1e-9, s"rows $i,$j dot $d")
    }
    // the spectrum is front-loaded: projected second moments
    // descend along the row order (the sort contract)
    val m = Similarity.secondMoments(emb)
    def quad(r: Seq[Double]): Double =
      (0 until n).map(i => (0 until n).map(j =>
        r(i) * m(i)(j) * r(j)).sum).sum
    val spectrum = rot.map(quad)
    spectrum.sliding(2).foreach { case Seq(a, b) =>
      assert(a >= b - 1e-6, s"spectrum not descending: $spectrum")
    }
    // full-dim rotated ranking ≡ the unrotated exact ranking (cosine
    // invariance under an orthogonal transform, modulo rounding)
    val rec = Similarity.rotatedTruncationRecall(emb, rot, Seq(0L, 2L),
      5, Seq(n)).collect()
    rec.foreach(r => assert(r.getDouble(2) === 1.0, r.toString))
  }

  test("native MatVecProject ≡ composed zip_with/aggregate projection, " +
      "element for element") {
    import spark.implicits._
    assert(graft.plans.GraftFunctions.isRegistered(spark))
    val rot = Seq(Seq(0.5, -1.25, 2.0), Seq(1e300, 1e300, -3.5),
      Seq(0.1, 0.2, 0.3))
    val edge = Seq(
      (1L, Some(Seq(1.0, 2.0, 3.0))),        // exact length
      (2L, Some(Seq(1.0, 2.0))),             // shorter -> null elements
      (3L, Some(Seq(1.0, 2.0, 3.0, 4.0))),   // longer -> null elements
      (4L, Some(Seq.empty[Double])),         // empty -> null elements
      (5L, None)                              // null vec -> d null elements
    ).toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val native = call_function(graft.plans.TextHashFunctions.MatVecName,
      col("v"), typedlit(rot.map(_.toVector).toVector))
    val composed = array(rot.indices.map(r =>
      aggregate(zip_with(col("v"), typedlit(rot(r).toVector),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x)): _*)
    val rows = edge.select(col("id"), native.as("n"), composed.as("c"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2), r.toString)
      val n = r.getSeq[Any](1)
      val c = r.getSeq[Any](2)
      assert(n == c, s"id ${r.getLong(0)}: $n != $c")
    }
    // the null-vec row really is an array of d nulls, not a null array
    val nullRow = rows.find(_.getLong(0) == 5L).get
    assert(nullRow.getSeq[Any](1) == Seq(null, null, null))
  }

  test("retention compaction bounds history: folded batches collapse " +
      "into the base with erasure applied physically, kept batches " +
      "stay addressable, serving is invariant") {
    val sub = emb.limit(120).select("vec_id", "embedding").cache()
    val cents = Similarity.seedCentroids(sub, 8)
    val p = tempDir("graft_ret") + "/idx"
    VectorStore.write(VectorCodec.Float,
      sub.filter(col("vec_id") % 8 =!= 1 && col("vec_id") % 8 =!= 6),
      cents, p)
    VectorStore.append(VectorCodec.Float,
      sub.filter(col("vec_id") % 8 === 1), cents, p, "w1")
    VectorStore.append(VectorCodec.Float,
      sub.filter(col("vec_id") % 8 === 6), cents, p, "w2")
    Similarity.deleteFromIvfIndex(
      sub.filter(col("vec_id") % 7 === 3).select(col("vec_id")), p, "d1")
    val q = sub.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    def serve() = VectorStore.topKFromIndex(VectorCodec.Float,
      Similarity.readIvfIndex(spark, p), cents, q, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = serve()

    // the base name is retained implicitly; naming it is an error
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndexKeeping(spark, p, Seq("build", "w2"))
    }
    // a kept name with no partitions fails loudly
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndexKeeping(spark, p, Seq("w9"))
    }

    Similarity.compactIvfIndexKeeping(spark, p, Seq("w2"))
    assert(serve() === before, "retention changed serving")

    val allIds = sub.select("vec_id").collect().map(_.getLong(0)).toSet
    val w2Ids = allIds.filter(_ % 8 == 6)
    val tombIds = allIds.filter(_ % 7 == 3)
    // folded tombstoned ids are PHYSICALLY gone from the raw layout;
    // kept-partition copies survive raw but stay erased at serve time
    val raw = spark.read.parquet(p).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(((tombIds -- w2Ids) & raw).isEmpty,
      "folded tombstoned rows still present in the raw layout")
    assert((tombIds & w2Ids).subsetOf(raw),
      "retention rewrote a kept partition")
    val served = Similarity.readIvfIndex(spark, p).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(served === allIds -- tombIds)

    // as-of: the folded window's live rows are addressable as the
    // base; the kept batch is unchanged; the folded NAME is gone
    def asOfIds(bs: Seq[String]) =
      Similarity.readIvfIndexAsOf(spark, p, bs).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    assert(asOfIds(Seq("build")) === (allIds -- w2Ids) -- tombIds)
    assert(asOfIds(Seq("w2")) === w2Ids -- tombIds)
    intercept[IllegalArgumentException] { asOfIds(Seq("w1")) }

    // maintenance keeps composing on the retained layout
    VectorStore.append(VectorCodec.Float,
      sub.filter(col("vec_id") % 8 === 1), cents, p, "w3")
    assert(Similarity.readIvfIndex(spark, p).select("vec_id")
      .collect().map(_.getLong(0)).toSet
      === (allIds -- tombIds) ++ allIds.filter(_ % 8 == 1))
    sub.unpersist()
  }

  test("\"retained\" is reserved on the IVF layouts: appends and " +
      "manual deletes under retention's tombstone key are rejected") {
    val sub = emb.limit(40).select("vec_id", "embedding")
    val cents = Similarity.seedCentroids(sub, 4)
    val p = tempDir("graft_resv") + "/idx"
    VectorStore.write(VectorCodec.Float, sub, cents, p)
    intercept[IllegalArgumentException] {
      VectorStore.append(VectorCodec.Float, sub.limit(1), cents, p, "retained")
    }
    intercept[IllegalArgumentException] {
      Similarity.deleteFromIvfIndex(
        sub.select(col("vec_id")).limit(1), p, "retained")
    }
  }

  test("tombstone broadcast budget: small erasure sets keep the " +
      "broadcast anti-join; past the budget the hint is dropped and " +
      "serving is unchanged") {
    val sub = emb.limit(100).select("vec_id", "embedding").cache()
    val cents = Similarity.seedCentroids(sub, 8)
    val p = tempDir("graft_tbud") + "/idx"
    VectorStore.write(VectorCodec.Float, sub, cents, p)
    Similarity.deleteFromIvfIndex(
      sub.filter(col("vec_id") % 5 === 0).select(col("vec_id")), p, "d1")
    val q = sub.filter($"vec_id" === 1L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    def serve() = VectorStore.topKFromIndex(VectorCodec.Float,
      Similarity.readIvfIndex(spark, p), cents, q, 10, nProbe = 8)
    // under the default budget the tiny tombstone side still plans
    // the broadcast anti-join (the hint survives the guard)
    val planStr = serve().queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin") &&
      planStr.contains("LeftAnti"),
      "small tombstone set lost its broadcast anti-join:\n" + planStr)
    val hinted = serve().collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.conf.set("spark.graft.tombstoneBroadcastBudget", "0")
    try {
      // unbounded-erasure scenario: the forced hint would bypass
      // Spark's size check; past the budget the planner chooses
      assert(serve().collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq === hinted)
    } finally spark.conf.unset("spark.graft.tombstoneBroadcastBudget")
    sub.unpersist()
  }

  test("quantizedRecall measures the int8 serving path against the " +
      "exact ranking") {
    val cents = Similarity.seedCentroids(emb, 8)
    val dir = tempDir("graft_qr") + "/idx"
    VectorStore.write(VectorCodec.Int8, emb, cents, dir)
    val index = spark.read.parquet(dir)
    // all cells probed isolates the pure quantization loss: per query
    // the recall must equal an independent overlap count between the
    // full int8 ranking and the exact float ranking
    val rec = VectorStore.recall(VectorCodec.Int8, index, emb, cents,
      Seq(0L, 3L), 5, nProbe = 8).collect()
    assert(rec.map(_.getLong(0)).toSeq === Seq(0L, 3L))
    rec.foreach { r =>
      val qid = r.getLong(0)
      val approx = Similarity.quantizedTopK(
        Similarity.quantizeEmbeddings(emb), qid, 5)
        .collect().map(_.getLong(0)).toSet
      val exact = Similarity.bruteForceTopK(emb, qid, 5)
        .collect().map(_.getLong(0)).toSet
      assert(r.getLong(1) === exact.size.toLong)
      assert(r.getDouble(2) ===
        BigDecimal(approx.intersect(exact).size.toDouble / exact.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("query-table batched serving ≡ literal batched serving on all " +
      "four stores and the refined two-stage path") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val rcb = Similarity.pqBuildResidual(emb, cents, m = 8, ksub = 16,
      iterations = 1)
    val base = tempDir("graft_qt")
    VectorStore.write(VectorCodec.Float, emb, cents, base + "/f")
    VectorStore.write(VectorCodec.Int8, emb, cents, base + "/q")
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, base + "/p")
    VectorStore.write(VectorCodec.ResidualPq(rcb), emb, cents, base + "/r")
    val fIdx = spark.read.parquet(base + "/f")
    val qIdx = spark.read.parquet(base + "/q")
    val pIdx = spark.read.parquet(base + "/p")
    val rIdx = spark.read.parquet(base + "/r")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val qs: Seq[(Long, Seq[Double])] = qids.map { id =>
      id -> emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector
    }
    val qframe = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // per codec: the query-table serve ≡ the literal serve ≡ Q single
    // serves, row for row
    def singles(serve: Seq[Double] => org.apache.spark.sql.DataFrame) =
      qs.flatMap { case (id, v) =>
        serve(v).collect().map(r => (id, r.getLong(0), r.getDouble(1)))
      }
    Seq(VectorCodec.Float -> fIdx, VectorCodec.Int8 -> qIdx,
        VectorCodec.Pq(cb) -> pIdx, VectorCodec.ResidualPq(rcb) -> rIdx)
      .foreach { case (codec, idx) =>
        val viaTable = rows(VectorStore.multiTopK(codec, idx, cents, qframe,
          5, 2))
        val store = codec.getClass.getSimpleName
        assert(viaTable === rows(VectorStore.multiTopK(codec, idx, cents, qs,
          5, 2)), store)
        assert(viaTable === singles(VectorStore.topKFromIndex(codec, idx,
          cents, _, 5, 2)), store)
      }
    val refined = rows(VectorStore.multiTopKRefined(VectorCodec.Pq(cb),
      pIdx, emb, cents, qframe, 5, 2, 20))
    assert(refined === rows(VectorStore.multiTopKRefined(VectorCodec.Pq(cb),
      pIdx, emb, cents, qs, 5, 2, 20)))
    assert(refined === singles(VectorStore.topKRefined(VectorCodec.Pq(cb),
      pIdx, emb, cents, _, 5, 2, 20)))
    // a degenerate (zero-norm) query is ABSENT, the single-serve
    // contract — and never reaches a cosine (ANSI-safe)
    val dim = qs.head._2.length
    val withZero = qframe.select($"query_id",
        $"embedding".cast("array<double>").as("embedding"))
      .unionByName(Seq((99L, Seq.fill(dim)(0.0)))
        .toDF("query_id", "embedding"))
    val gotZ = VectorStore.multiTopK(VectorCodec.Float, fIdx, cents, withZero,
      5, 2)
    assert(!gotZ.collect().map(_.getLong(0)).contains(99L))
    // duplicate ids in the frame are refused loudly — IN-PLAN since
    // round 16 (the guard rides the serve's own action; constructing
    // the plan runs zero jobs), so the error surfaces at collect
    val dupErr = intercept[Exception] {
      VectorStore.multiTopK(VectorCodec.Float, fIdx, cents,
        qframe.unionByName(qframe), 5, 2).collect()
    }
    assert(exceptionChain(dupErr).exists(
      _.getMessage.contains("query ids must be distinct")))
  }

  private def exceptionChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("query-table guards are in-plan: plan construction runs ZERO " +
      "Spark jobs, the broadcast budget refuses an over-budget batch " +
      "loudly, and artifacts are one row per query") {
    val cents = Similarity.seedCentroids(emb, 8)
    val dir = tempDir("graft_qtg") + "/f"
    VectorStore.write(VectorCodec.Float, emb, cents, dir)
    val index = spark.read.parquet(dir)
    val qframe = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    // zero jobs at plan-construction time (round-16 verdict #6: the
    // eager distinctness probe used to cost one job per serve — an
    // extra evaluation of the micro-batch lineage per sink trigger)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val served = VectorStore.multiTopK(VectorCodec.Float, index, cents,
        qframe, 5, 2)
      // listener delivery is async; give the bus a beat to drain any
      // job-start event a construction-time action would have fired
      Thread.sleep(500)
      assert(jobs.get() === 0,
        s"plan construction ran ${jobs.get()} job(s) — the guards " +
          "must be in-plan")
      assert(served.count() === 25L)
    } finally spark.sparkContext.removeSparkListener(listener)
    // broadcast budget: a tiny ceiling refuses the batch loudly with
    // the chunking fallback in the message (round-16 verdict #4)
    spark.conf.set("spark.graft.qtBroadcastBudget", "64")
    try {
      val budErr = intercept[Exception] {
        VectorStore.multiTopK(VectorCodec.Float, index, cents, qframe, 5, 2)
          .collect()
      }
      assert(exceptionChain(budErr).exists(_.getMessage
        .contains("query-table broadcast budget exceeded")))
    } finally spark.conf.unset("spark.graft.qtBroadcastBudget")
    // the artifact side is ONE row per servable query (round-16
    // verdict #2: the LUT/vector used to be a column of the exploded
    // (query, cell) table — computed and broadcast nProbe times)
    val sv = VectorStore.guardedServable(qframe, 4,
      org.apache.spark.sql.functions.lit(16L))
    assert(sv.count() === 5L)
    assert(sv.select($"query_id").distinct().count() === 5L)
    // while the pair side is Q·nProbe rows of (query_id, cell) only
    val pairs = VectorStore.probePairs(sv, cents, 4)
    assert(pairs.columns.toSeq === Seq("query_id", "cell"))
    assert(pairs.count() === 20L)
  }

  test("probeCellsCol ≡ probeCells on random vectors, on the shared " +
      "session and on a bare one that registers on demand") {
    val dim = emb.select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).length
    val cents = Similarity.seedCentroids(emb, 8)
    val rnd = new scala.util.Random(461)
    // adversarial sweep: random vectors plus scaled/negated copies of
    // the centroids themselves (cosines pinned at ±1 and centroid-tie
    // boundaries — where a fold-order divergence would first show)
    val vecs: Seq[Seq[Double]] =
      (0 until 40).map(_ => Seq.fill(dim)(rnd.nextDouble() * 2 - 1)) ++
        cents.map(c => c.map(_ * 3.0)) ++
        cents.map(c => c.map(_ * -1.0))
    // the in-plan path computes its cosine through cosineFor(df),
    // which registers graft's native functions into the frame's
    // session on first use: a fresh session with no graft registry
    // comes out of probeCellsCol registered, and BOTH sessions must
    // select the same cells as the driver loop's sequential-dot +
    // BigDecimal HALF_UP probeCells
    val bare = spark.newSession()
    assert(!graft.plans.GraftFunctions.isRegistered(bare))
    for (sess <- Seq(spark, bare)) {
      val frame = sess.createDataFrame(
          vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
        .toDF("query_id", "embedding")
      for (nProbe <- Seq(1, 2, 4)) {
        val inPlan = frame.select(frame("query_id"),
            Similarity.probeCellsCol(frame, cents, nProbe)(
              frame("embedding").cast("array<double>")).as("cells"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq)
          .toMap
        vecs.zipWithIndex.foreach { case (v, i) =>
          assert(inPlan(i.toLong) ===
            Similarity.probeCells(cents, v, nProbe),
            s"nProbe=$nProbe shared=${sess eq spark} vec=$i")
        }
      }
      assert(graft.plans.GraftFunctions.isRegistered(sess))
    }
  }

  test("query-table batched plan: one index scan + broadcast probe " +
      "join, no per-query literals; Seq entries re-route past the " +
      "literal-Q threshold") {
    val cents = Similarity.seedCentroids(emb, 8)
    val dir = tempDir("graft_qtp") + "/f"
    VectorStore.write(VectorCodec.Float, emb, cents, dir)
    val index = spark.read.parquet(dir)
    def qframe(n: Int) = emb.filter($"vec_id" < n)
      .select($"vec_id".as("query_id"), $"embedding")
    def served(n: Int) = VectorStore.multiTopK(VectorCodec.Float, index,
      cents, qframe(n), 5, 2)
    val plan8 = served(8).queryExecution.executedPlan.toString
    val plan40 = served(40).queryExecution.executedPlan.toString
    // probe side rides a broadcast hash join on cell, and directory
    // pruning survives as DYNAMIC partition pruning on the index scan
    assert(plan8.contains("BroadcastHashJoin"), plan8.take(2000))
    assert(plan8.contains("dynamicpruningexpression"), plan8.take(2000))
    // O(1) plan in Q: 5x the queries must not grow the plan (the
    // literal path's plan embeds every query's vector)
    assert(plan40.length <= plan8.length + 200,
      s"plan grew with Q: ${plan8.length} -> ${plan40.length}")
    // the Seq entry point re-routes to the query-table plan past the
    // threshold: same rows, broadcast-join shape instead of the
    // literal path's join-free explode-over-plan-literals
    val past = VectorStore.LiteralMaxQ + 1
    val qsBig: Seq[(Long, Seq[Double])] = (0L until past.toLong).map { id =>
      id -> emb.filter($"vec_id" === id)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toVector
    }
    val routed = VectorStore.multiTopK(VectorCodec.Float, index, cents,
      qsBig, 5, 2)
    assert(routed.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val viaQt = VectorStore.multiTopK(VectorCodec.Float, index, cents,
      qframe(past), 5, 2)
    assert(routed.collect().toSeq === viaQt.collect().toSeq)
    // up to the threshold the literal plan stays (measured faster
    // at small Q): no join anywhere in that plan
    val atMax = VectorStore.multiTopK(VectorCodec.Float, index, cents,
      qsBig.take(VectorStore.LiteralMaxQ), 5, 2)
    assert(!atMax.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("query-table refined plan: DPP on the code scan, In-pushdown " +
      "on the query frames, broadcast-join re-rank fetch") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val dir = tempDir("graft_qtrr") + "/p"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val qframe = emb.filter($"vec_id".isin(0L, 1L, 2L, 3L, 4L))
      .select($"vec_id".as("query_id"), $"embedding")
    val plan = VectorStore.multiTopKRefined(VectorCodec.Pq(cb),
      spark.read.parquet(dir),
      emb, cents, qframe, 5, 2, 20)
      .queryExecution.executedPlan.toString
    // the probe join prunes code-cell directories at RUNTIME
    assert(plan.contains("dynamicpruningexpression"), plan.take(2000))
    // the bounded query batch reads 5 rows, never the corpus
    assert("In\\(vec_id, \\[0,1,2,3,4\\]".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    // the re-rank fetch is a broadcast join (one float-table pass
    // amortized over the whole batch — never a per-query scan, never
    // a driver round-trip)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("bucket-pruned two-stage re-rank: results ≡ the streamed QT " +
      "plan, and the float fetch prunes bucket files instead of " +
      "scanning the table") {
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val dir = tempDir("graft_qtbkt") + "/p"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, dir)
    val pIdx = spark.read.parquet(dir)
    graft.ops.BucketedTables.writeBucketed(
      emb.select($"vec_id", $"embedding"), "qtbkt_emb", "vec_id", 16)
    val bktEmb = graft.ops.BucketedTables.readTable(spark, "qtbkt_emb")
    val qframe = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val bucketed = VectorStore.multiTopKRefinedBucketed(VectorCodec.Pq(cb),
      pIdx, bktEmb,
      cents, qframe, 5, 2, 20)
    val streamed = VectorStore.multiTopKRefined(VectorCodec.Pq(cb),
      pIdx, emb, cents,
      qframe, 5, 2, 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(bucketed) === rows(streamed))
    // the re-rank fetch reads a strict subset of the bucket FILES:
    // the shortlist In-predicate reaches the bucketed scan, which no
    // DPP/bloom could deliver to a broadcast join's streamed side.
    // (The 5×20 batch above legitimately hits all 16 buckets on this
    // corpus — assert strict pruning on a 1-query, 5-id shortlist,
    // whose ≤5 distinct ids can cover at most 5 buckets.)
    val one = VectorStore.multiTopKRefinedBucketed(VectorCodec.Pq(cb),
      pIdx, bktEmb,
      cents, qframe.filter($"query_id" === 0L), 5, 2, 5)
    val plan = one.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, plan.take(3000))
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"no bucket pruned: ${sel.get.matched}")
  }

  test("servedInChunks: chunked serve ≡ one-shot (exact by " +
      "construction), and it is the working fallback for an " +
      "over-budget batch the one-shot serve loudly refuses") {
    val cents = Similarity.seedCentroids(emb, 8)
    val dir = tempDir("graft_qtchunk") + "/p"
    VectorStore.write(VectorCodec.Float, emb, cents, dir)
    val idx = spark.read.parquet(dir)
    val qframe = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding")
    def serve(q: org.apache.spark.sql.DataFrame) =
      VectorStore.multiTopK(VectorCodec.Float, idx, cents, q, 5, 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val oneShot = rows(serve(qframe))
    assert(rows(Similarity.servedInChunks(qframe, 3)(serve)) === oneShot)
    // budget scenario: a ceiling the 8-query batch exceeds but every
    // hash chunk of 4 fits under — the one-shot serve's own action
    // fails with the documented chunk-the-batch message, and
    // servedInChunks is exactly that fallback
    val dim = emb.select($"embedding").head.getSeq[Float](0).length
    val perQ = dim * 8L + 16L + 2L * 16L
    spark.conf.set("spark.graft.qtBroadcastBudget", (perQ * 4).toString)
    try {
      val e = intercept[Exception] { serve(qframe).collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(10).map(_.getMessage).toSeq
      assert(msgs.exists(m => m != null && m.contains("chunk the " +
        "query batch")), msgs.mkString(" | "))
      // enough chunks that every hash-mod chunk is within budget
      val nChunks = Iterator.from(2).find { n =>
        qframe.groupBy(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash($"query_id"),
            org.apache.spark.sql.functions.lit(n)))
          .count().collect().forall(_.getLong(1) <= 4)
      }.get
      assert(rows(Similarity.servedInChunks(qframe, nChunks)(serve))
        === oneShot)
    } finally spark.conf.unset("spark.graft.qtBroadcastBudget")
  }

  test("batched entry points refuse duplicate query ids (a repeated " +
      "id would double every pair and halve the distinct top-k)") {
    val cents = Similarity.seedCentroids(emb, 4)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 4, iterations = 1)
    val qv = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0).toVector
    val dup: Seq[(Long, Seq[Double])] = Seq(0L -> qv, 0L -> qv)
    intercept[IllegalArgumentException] {
      VectorStore.multiTopK(VectorCodec.Pq(cb), emb, cents, dup, 5, 2)
    }
    intercept[IllegalArgumentException] {
      VectorStore.multiTopK(VectorCodec.Float, emb, cents, dup, 5, 2)
    }
    intercept[IllegalArgumentException] {
      VectorStore.multiTopK(VectorCodec.Int8, emb, cents, dup, 5, 2)
    }
    intercept[IllegalArgumentException] {
      VectorStore.multiTopK(VectorCodec.ResidualPq(cb), emb, cents, dup, 5, 2)
    }
    intercept[IllegalArgumentException] {
      VectorStore.multiTopKRefined(VectorCodec.Pq(cb),
        emb, emb, cents, dup, 5, 2, 20)
    }
  }
}
