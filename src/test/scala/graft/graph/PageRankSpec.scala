package graft.graph

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Scala reference: dense power iteration with uniform teleport and
    * dangling redistribution — the textbook recurrence, computed
    * per-node sequentially.
    */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    val e = edges.filter { case (a, b) => a != b }.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val n = nodes.size.toDouble
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(out.contains).map(rank).sum
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map { case (a, _) => rank(a) / out(a) }.sum).toMap
      rank = nodes.map(v => v ->
        ((1.0 - d) / n + d * (contrib.getOrElse(v, 0.0) + dm / n))).toMap
    }
    rank
  }

  test("matches the dense reference on a hand graph with dangling nodes") {
    // 1→2, 1→3, 2→3, 4→1 (3 is dangling; 5↔6 a separate pair)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L),
      (5L, 6L), (6L, 5L))
    val got = PageRank.pageRank(edges.toDF("s", "t"), "s", "t",
        iterations = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = reference(edges, 12, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (node, r) =>
      assert(math.abs(r - want(node)) < 1e-12, s"node $node")
    }
  }

  test("ranks sum to 1 on the corpus graph (dangling mass preserved)") {
    val k = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k"))
    val edges = k
      .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
      .union(k.select((col("k") - col("k") % 4).as("a"),
        (col("k") - col("k") % 16).as("b")))
    val pr = PageRank.pageRank(edges, "a", "b", iterations = 8)
    val total = pr.agg(sum(col("rank"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
    // the 16-aligned hubs are dangling sinks fed by every leaf — they
    // must outrank the leaves that feed them
    val byRank = pr.orderBy(col("rank").desc).limit(50)
      .select(col("node")).as[Long].collect()
    assert(byRank.forall(_ % 16 === 0))
  }

  test("self-loops and duplicate edges are ignored") {
    val messy = Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 1L)).toDF("s", "t")
    val clean = Seq((1L, 2L), (2L, 1L)).toDF("s", "t")
    val a = PageRank.pageRank(messy, "s", "t", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = PageRank.pageRank(clean, "s", "t", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("tol early-stops the distributed rounds once the L1 delta drains") {
    // a 2-cycle converges to the uniform fixed point immediately:
    // round 2's delta is exactly 0 (forced past the fast path so the
    // riding-observation stop is what's exercised)
    val (_, rounds) = PageRank.pageRankWithRounds(
      Seq((1L, 2L), (2L, 1L)).toDF("s", "t"), "s", "t",
      iterations = 20, damping = 0.85, tol = 1e-15, smallGraphEdges = 0L)
    assert(rounds > 0 && rounds < 20)
  }

  test("fast path engages on bounded graphs and matches the distributed rounds") {
    val k = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k"))
      .limit(400)
    val edges = k
      .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
      .union(k.select((col("k") - col("k") % 4).as("a"),
        (col("k") - col("k") % 16).as("b")))
    val (fastDf, fastRounds) = PageRank.pageRankWithRounds(
      edges, "a", "b", 6, 0.85, 0.0)
    assert(fastRounds === 0) // 0 distributed rounds = fast path took it
    val fast = fastDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (distDf, distRounds) = PageRank.pageRankWithRounds(
      edges, "a", "b", 6, 0.85, 0.0, smallGraphEdges = 0L)
    assert(distRounds === 6)
    val dist = distDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet === dist.keySet)
    fast.foreach { case (node, r) =>
      assert(math.abs(r - dist(node)) < 1e-14, s"node $node")
    }
  }

  test("fast path declines when the byte budget can't hold the edges") {
    // asymmetric graph (3 is dangling): ranks keep moving, so all 3
    // distributed rounds run — a symmetric cycle would hit its exact
    // fixed point and the delta-0 early stop would mask the decline
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "t")
    val (_, rounds) = PageRank.pageRankWithRounds(
      edges, "s", "t", 3, 0.85, 0.0,
      fastPathByteBudget = PageRank.FastPathBytesPerEdge) // room for 1 edge
    assert(rounds === 3)
  }

  test("personalized with every node a seed ≡ uniform pageRank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (6L, 1L)).toDF("a", "b")
    val uniform = PageRank.pageRank(edges, "a", "b", iterations = 6,
        smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val personal = PageRank.personalizedPageRank(edges, "a", "b",
        _ => org.apache.spark.sql.functions.lit(true), iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(personal.keySet === uniform.keySet)
    // same recurrence in a different algebraic arrangement → equal
    // to summation-order ulps
    personal.foreach { case (n, v) =>
      assert(math.abs(v - uniform(n)) < 1e-12, s"node $n")
    }
  }

  test("personalized fast path engages on bounded graphs and matches " +
      "the distributed rounds to ulps") {
    val k = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k"))
      .limit(400)
    val edges = k
      .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
      .union(k.select((col("k") - col("k") % 4).as("a"),
        (col("k") - col("k") % 16).as("b")))
    val seed: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      n => n % 64 === 0
    val (fastDf, fastRounds) = PageRank.personalizedPageRankWithRounds(
      edges, "a", "b", seed, 6, 0.85)
    assert(fastRounds === 0) // 0 distributed rounds = fast path took it
    val fast = fastDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (distDf, distRounds) = PageRank.personalizedPageRankWithRounds(
      edges, "a", "b", seed, 6, 0.85, smallGraphEdges = 0L)
    assert(distRounds === 6)
    val dist = distDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet === dist.keySet)
    fast.foreach { case (node, r) =>
      assert(math.abs(r - dist(node)) < 1e-14, s"node $node")
    }
  }

  test("personalized fast path declines when the byte budget can't hold " +
      "the edges") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "t")
    val (_, rounds) = PageRank.personalizedPageRankWithRounds(
      edges, "s", "t", n => n === 1L, 3, 0.85,
      fastPathByteBudget = PageRank.FastPathBytesPerEdge) // room for 1 edge
    assert(rounds === 3)
  }

  test("personalized fast path: no seeds in the graph decays every rank " +
      "toward zero, same as the distributed rounds") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val fast = PageRank.personalizedPageRank(edges, "a", "b",
        n => n === 99L, iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dist = PageRank.personalizedPageRank(edges, "a", "b",
        n => n === 99L, iterations = 4, smallGraphEdges = 0L)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(fast === dist)
    assert(fast.values.forall(_ === 0.0))
  }

  test("personalized: mass sums to 1 and starves the unreachable component") {
    // component A holds the seed; component B has no inbound path
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("a", "b")
    val r = PageRank.personalizedPageRank(edges, "a", "b",
        n => n === 1L, iterations = 12)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // seeded component keeps essentially all the mass
    val a = Seq(1L, 2L, 3L).map(r).sum
    val b = Seq(10L, 11L, 12L).map(r).sum
    assert(a > 0.99, s"seeded component mass $a")
    assert(b < 0.01, s"unseeded component mass $b")
    // the seed itself outranks every node of the starved component
    assert(Seq(10L, 11L, 12L).forall(n => r(1L) > r(n)))
  }

  test("empty edge list yields an empty frame, not a failure") {
    val pr = PageRank.pageRank(Seq.empty[(Long, Long)].toDF("s", "t"),
      "s", "t")
    assert(pr.count() === 0)
    assert(pr.columns === Array("node", "rank"))
  }

  test("gate probe memo invalidates when the source's file set changes") {
    // a growing parquet dir re-reads identically (same canonical
    // plan), so the probe memo must key on the file snapshot too —
    // else the stale small count keeps routing a now-large graph to
    // the exact distinct-count fallback job the gate exists to avoid
    val dir = tempDir("graft-gate")
    (1L to 4L).map(i => (i, i + 1L)).toDF("s", "t")
      .write.mode("append").parquet(dir)
    val small = spark.read.parquet(dir)
    assert(PageRank.mayFitFastPath(small, 10L))
    // grow the dir past the band: 4 + 96 = 100 raw edges > 2 * 10
    (1L to 96L).map(i => (i + 100L, i + 101L)).toDF("s", "t")
      .write.mode("append").parquet(dir)
    val grown = spark.read.parquet(dir)
    assert(!PageRank.mayFitFastPath(grown, 10L))
    // and the explicit hook clears the memo wholesale
    PageRank.clearGateProbeCache()
    assert(PageRank.mayFitFastPath(spark.read.parquet(dir), 50L))
  }
}
