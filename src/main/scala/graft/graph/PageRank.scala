package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** PageRank over a directed edge list — the link-graph centrality
  * prior large-corpus curation pipelines attach to crawled documents
  * (seed-quality propagation in the CCNet/RefinedWeb lineage;
  * Page et al. '99 for the model): a page's rank is the stationary
  * probability of a damping-d random surfer, teleporting uniformly
  * with probability 1−d.
  *
  * Spark-first power iteration, shaped like
  * [[graft.dedup.Dedup.connectedComponents]]'s scale path:
  *
  *  - The edge list (with each source's out-degree joined in) is
  *    hash-partitioned on `src` ONCE and persisted; every round
  *    scans that cache in place. The ONLY data that ever crosses an
  *    exchange after setup is the O(nodes) rank frame (at most three
  *    node-keyed exchanges per round; while the rank frame is small
  *    Catalyst broadcasts it into the contribution join instead) —
  *    the O(edges) side never reshuffles, which is the property that
  *    matters at 100 TB and the one PlanSpec pins.
  *  - Dangling mass (rank sitting on nodes with no out-edges —
  *    dropped on the floor by the contribution join) is
  *    redistributed uniformly, per the standard model. The mass is
  *    measured by an `observe()` metric riding the NEXT round's
  *    checkpoint materialization — the scalar costs zero extra jobs
  *    and feeds the following round as a literal, so no per-round
  *    cross-join or driver collect() of data rows.
  *  - Each round ends in an eager localCheckpoint cutting lineage
  *    (flat plans regardless of iteration count), with the previous
  *    round's blocks freed immediately.
  *
  * Self-edges are dropped up front (they only delay convergence and
  * make every node non-dangling); parallel edges collapse to one
  * (distinct), matching the unweighted adjacency-matrix model.
  * Convergence: `iterations` is the exact round count (the form the
  * cross-engine oracle replays); `tol > 0` adds an early stop when
  * the L1 rank delta — also measured as a riding observation —
  * falls to `tol` or below.
  *
  * Like the components operator, a link graph that FITS ONE TASK
  * (bounded by `smallGraphEdges` AND a byte budget) short-circuits
  * to an in-task power iteration — candidate graphs from curation
  * pipelines are usually orders of magnitude smaller than their
  * corpus, and one job beats `iterations`-many checkpointed rounds.
  * The fast path runs the identical recurrence over CSR arrays
  * (deterministic edge order), so it agrees with the distributed
  * path to summation-order ulps; `smallGraphEdges = 0` forces the
  * distributed path (what `q_pagerank` oracles, the shape a 100 TB
  * graph runs).
  *
  * Output: (node, rank), one row per node that appears in any
  * non-self edge, ranks summing to 1 (PageRankSpec pins the
  * invariant). UNORDERED by repo convention; callers sort at the
  * query edge.
  */
object PageRank {

  /** ~48 B per edge in the fast-path task: 16 B of (src, dst) input
    * plus CSR arrays (dst index + offsets) and the node-id/rank/
    * contribution arrays amortized per edge, with LongMap slack.
    */
  val FastPathBytesPerEdge = 48L

  /** Same rationale as [[graft.dedup.Dedup.UnionFindByteBudget]]: a
    * deliberate small slice of a typical executor heap.
    */
  val FastPathByteBudget: Long = 512L << 20

  /** Default in-task fast-path gate, shared by every graph operator
    * (PageRank/KCore/Communities/Triangles/components). Set to the
    * MEASURED break-even, not the byte-budget ceiling: the round-9
    * 10×-replica table had the LPA in-task path at ~2.3 M edges
    * (6.52 s) already at parity with the distributed rounds (7.91 s)
    * and climbing ~linearly, while the distributed side is dominated
    * by the fixed per-round exchange floor — so the crossover sits
    * near 1–2 M edges, and the old 4 M default bought nothing at the
    * top of its range (round-9 verdict #4). Parity specs pin
    * fast ≡ distributed, so the gate only picks WHICH identical
    * answer is computed; the byte budget still caps memory
    * independently.
    */
  val DefaultSmallGraphEdges: Long = 1500000L

  /** Slack multiplier for [[mayFitFastPath]]'s raw-count band. */
  val FastGateSlack = 2L

  // raw-edge gate probes memoized by canonicalized logical plan —
  // repeated serving of the same graph (bench passes, compositions
  // re-deriving the same edge frame) pays the probe job once per
  // session. Bounded LRU; a stale entry can only misroute the PATH
  // CHOICE (both paths are parity-pinned), never change a result.
  private val gateProbeCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size > 64
      })

  /** Drop all memoized gate probes — for long-lived sessions serving
    * graphs over MUTABLE sources whose file set the snapshot key
    * below cannot see (e.g. a view over a catalog table re-pointed
    * in place). A stale probe can only misroute the parity-pinned
    * path choice, but a stale SMALL count forces the wasted exact
    * distinct-count job the gate exists to avoid.
    */
  def clearGateProbeCache(): Unit = gateProbeCache.clear()

  /** Cheap fast-path gate probe (round-10 verdict #3): counting the
    * RAW edge frame is a scan-only job (no exchange), while counting
    * the canonical frame materializes the distinct — at the 10×
    * replica that standalone job cost the triangles fast twin +1.3 s
    * just to learn it must fall back. Canonicalization only DROPS
    * rows (nulls, self-loops, duplicates), so the raw count upper-
    * bounds the canonical count: when raw > [[FastGateSlack]]·gate
    * the operator routes straight to the distributed path with no
    * exact count (a graph would need more than half its edge rows
    * invalid or duplicated to be misrouted — and a misroute only
    * picks the OTHER parity-pinned path); when the probe is within
    * the band, the caller pays the exact canonical count, which
    * doubles as the persist materialization the in-task single-task
    * reads rely on.
    */
  private[graph] def mayFitFastPath(rawEdges: org.apache.spark.sql.DataFrame,
      maxFastEdges: Long): Boolean = {
    if (maxFastEdges <= 0) return false
    // key = (canonical plan, input-file snapshot): a growing parquet
    // dir or an overwritten table produces a different file list
    // (part files are freshly named), so mutation invalidates the
    // memo without any job. inputFiles is driver-side catalog
    // metadata — a listing, not a scan; best-effort (empty for
    // non-file sources, where the plan string alone keys the probe).
    val snapshot =
      try rawEdges.inputFiles.sorted.mkString("\u0000")
      catch { case scala.util.control.NonFatal(_) => "" }
    val key = rawEdges.queryExecution.logical.canonicalized.toString +
      "\n#files:" + snapshot
    val hit = gateProbeCache.get(key)
    val raw =
      if (hit != null) hit.longValue()
      else {
        val n = rawEdges.count()
        gateProbeCache.put(key, java.lang.Long.valueOf(n))
        n
      }
    raw <= FastGateSlack * maxFastEdges
  }

  /** Whether an nNodes-row rank frame fits the session's broadcast
    * threshold — the shared gate for the adaptive dst-layout + hinted
    * rank broadcast in [[pageRank]] and [[personalizedPageRank]].
    * The ~48 B/row estimate holds for LONG node ids only; non-Long
    * ids (string keys of unbounded width — supported by the
    * distributed path) would make nNodes·48 underestimate the real
    * build size and force a broadcast Catalyst's own size-based check
    * exists to refuse (round-17, advice). They keep the exact
    * src-layout plan instead — conservative, never a bigger broadcast
    * than the threshold intends.
    */
  private def rankFrameBroadcastable(spark: org.apache.spark.sql.SparkSession,
      nNodes: Long, longIds: Boolean): Boolean = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    longIds && limit > 0 && nNodes * 48L <= limit
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, damping: Double = 0.85,
      tol: Double = 0.0, smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = FastPathByteBudget): DataFrame =
    pageRankWithRounds(edges, srcCol, dstCol, iterations, damping, tol,
      smallGraphEdges, fastPathByteBudget)._1

  private[graft] def pageRankWithRounds(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, damping: Double,
      tol: Double, smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = FastPathByteBudget): (DataFrame, Int) = {
    require(iterations >= 1, s"iterations must be ≥ 1: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val spark = edges.sparkSession
    val a = new graft.Artifacts
    try {
      val e = a.persist(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
      val longIds = e.schema.fields
        .forall(_.dataType == org.apache.spark.sql.types.LongType)
      val maxFastEdges =
        math.min(smallGraphEdges, fastPathByteBudget / FastPathBytesPerEdge)
      if (longIds && smallGraphEdges > 0 &&
          mayFitFastPath(edges, maxFastEdges) && e.count() <= maxFastEdges) {
        return (graft.Artifacts.checkpoint(
          fastPageRank(e, iterations, damping, tol)), 0)
      }
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dout"))
      // (node, dangling) — dangling flagged ONCE so each round's mass
      // readout is a plain conditional sum riding the round action.
      // ONE aggregation builds the node universe (round-17): a node is
      // dangling iff it NEVER appears as src, so min over per-occurrence
      // flags replaces the old union→distinct→left-join(deg) chain (two
      // O(edges)-input exchanges fold into one with partial
      // aggregation). The explicit-width repartition pins the
      // hash(node) layout the rank frames inherit below — AQE never
      // resizes an explicit width, so the per-round co-partitioning
      // cannot drift.
      val width = spark.sessionState.conf.numShufflePartitions
      val obs0 = Observation()
      val nodes = a.persist(e
        .select(col("src").as("node"), lit(false).as("dangling"))
        .unionByName(e.select(col("dst").as("node"), lit(true).as("dangling")))
        .groupBy(col("node"))
        .agg(min(col("dangling")).as("dangling"))
        .repartition(width, col("node")))
      val nNodes = nodes.count()
      if (nNodes == 0) {
        // derive the empty frame from the input so the node column
        // keeps the caller's id type — a hardcoded (Long, Double)
        // schema would make an empty non-Long-id graph yield a
        // different downstream schema than a non-empty one
        return (graft.Artifacts.checkpoint(
          e.select(col("src").as("node"), lit(0.0).as("rank")).limit(0)), 0)
      }
      // Adaptive adjacency layout (round-16, guide §2.4): WHILE the
      // rank frame is broadcastable every round's contribution join is
      // a BHJ whose stream side is this cache, so partitioning it by
      // DST makes the per-dst contribution sum partition-local — the
      // round's one remaining exchange disappears. The broadcast is
      // HINTED in that regime so the layout choice and the join
      // strategy cannot diverge. Past broadcastability the join must
      // co-partition on src, so the cache keeps the src layout and
      // rounds exchange only the O(nodes) rank rows, exactly as before
      // (PlanSpec pins that no exchange ever sits on the edge side).
      // ~48 B per rank row in the built hash relation (Long ids only —
      // see rankFrameBroadcastable); threshold from the session's own
      // autoBroadcastJoinThreshold.
      val broadcastRanks =
        rankFrameBroadcastable(edges.sparkSession, nNodes, longIds)
      val adj = a.persist(e.join(deg, "src")
        .select(col("src"), col("dst"), col("dout"))
        .repartition(width,
          if (broadcastRanks) col("dst") else col("src")))
      val n = nNodes.toDouble
      val danglingSum = sum(when(col("dangling"), col("rank"))
        .otherwise(lit(0.0))).as("dangling_mass")
      // LAYOUT-KEEPING checkpoint rounds (round-17, verdict #1): the
      // eager localCheckpoint stays (flat plans however many rounds run —
      // a persisted-cache chain re-prints its whole ancestry, 2^rounds
      // plan text, measured OOM), but in the broadcast regime the
      // checkpoint's LogicalRDD is rebuilt declaring the hash(node,
      // width) layout the round plan provably produced (every rank frame
      // below is a partition-local projection/join over that layout —
      // base case: the pinned repartition on `nodes`; inductive case:
      // rankRound's merge join preserves its left side). The next
      // round's final join then plans CO-PARTITIONED — zero exchange,
      // no per-round contribs broadcast build (see rankRound). Past
      // broadcastability the checkpoint is left as-is and every round
      // plans exactly as before.
      def ckLayout(df: DataFrame): DataFrame =
        if (broadcastRanks) a.checkpoint(df, Seq("node"), width)
        else a.checkpoint(df)
      var ranks = ckLayout(nodes
        .withColumn("rank", lit(1.0 / n))
        .observe(obs0, danglingSum))
      var dm = obs0.get("dangling_mass").asInstanceOf[Double]
      var it = 0
      var delta = Double.MaxValue
      while (it < iterations && delta > tol) {
        val obs = Observation()
        val next = ckLayout(
          rankRound(adj, ranks, n, damping, dm, broadcastRanks)
            .observe(obs, danglingSum,
              sum(abs(col("rank") - col("prev"))).as("l1_delta")))
        dm = obs.get("dangling_mass").asInstanceOf[Double]
        delta = obs.get("l1_delta").asInstanceOf[Double]
        a.free(ranks)
        ranks = next
        it += 1
      }
      (a.keep(ranks).select(col("node"), col("rank")), it)
    } finally a.release()
  }

  /** Personalized (seed-teleport) PageRank — the TrustRank shape
    * (Gyöngyi, Garcia-Molina & Pedersen '04): the surfer teleports to
    * a SEED SET instead of uniformly, so rank flows outward from
    * trusted pages and spam farms that no seed links to starve. The
    * curation use is the inverse of [[graft.curation.Curation]]'s
    * bottom-decile drop: demote documents whose trust-rank stays
    * near zero however central they are in raw link count.
    *
    * Recurrence: rank' = (1−d)·s(v) + d·(contrib(v) + dm·s(v)), with
    * s uniform over the seeds PRESENT in the graph and dangling mass
    * redistributed to the teleport distribution (the personalized
    * model's convention — Σrank stays 1). Seeds arrive as a
    * PREDICATE over the node id, so the cross-engine oracle states
    * the same membership test relationally; a caller with an
    * explicit list passes `isin`.
    *
    * Same scale shape as [[pageRank]]: adjacency cached co-partitioned
    * once, O(nodes) rank frame per round, dangling mass riding the
    * round checkpoint as an observation. No seeds in the graph →
    * every rank decays toward 0 (nothing to teleport to) — returned
    * as computed, documented rather than masked.
    *
    * Like [[pageRank]], a graph bounded by `smallGraphEdges` AND the
    * byte budget short-circuits to an in-task CSR iteration with
    * seeded teleport — the identical recurrence, so it agrees with
    * the distributed rounds to summation-order ulps (PageRankSpec
    * pins it); `smallGraphEdges = 0` forces the distributed path
    * (what `q_pagerank_personalized` oracles, the 100 TB shape).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, isSeed: Column => Column, iterations: Int = 8,
      damping: Double = 0.85, smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = FastPathByteBudget): DataFrame =
    personalizedPageRankWithRounds(edges, srcCol, dstCol, isSeed,
      iterations, damping, smallGraphEdges, fastPathByteBudget)._1

  private[graft] def personalizedPageRankWithRounds(edges: DataFrame,
      srcCol: String, dstCol: String, isSeed: Column => Column,
      iterations: Int, damping: Double,
      smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = FastPathByteBudget): (DataFrame, Int) = {
    require(iterations >= 1, s"iterations must be ≥ 1: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val a = new graft.Artifacts
    try {
      val e = a.persist(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
      val longIds = e.schema.fields
        .forall(_.dataType == org.apache.spark.sql.types.LongType)
      val maxFastEdges =
        math.min(smallGraphEdges, fastPathByteBudget / FastPathBytesPerEdge)
      if (longIds && smallGraphEdges > 0 &&
          mayFitFastPath(edges, maxFastEdges) && e.count() <= maxFastEdges) {
        return (graft.Artifacts.checkpoint(
          fastPersonalizedPageRank(e, isSeed, iterations, damping)), 0)
      }
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dout"))
      // node universe + dangling flag in one aggregation, seed flag as
      // a projection on top; layout pinned at the session width — the
      // pageRank setup shape (round-17)
      val width = e.sparkSession.sessionState.conf.numShufflePartitions
      val nodesBase = a.persist(e
        .select(col("src").as("node"), lit(false).as("dangling"))
        .unionByName(e.select(col("dst").as("node"), lit(true).as("dangling")))
        .groupBy(col("node"))
        .agg(min(col("dangling")).as("dangling"))
        .select(col("node"), col("dangling"), isSeed(col("node")).as("seed"))
        .repartition(width, col("node")))
      // one readout job for BOTH scalars (materializes the cache)
      val cntRow = nodesBase
        .agg(count(lit(1)).as("n"),
          count(when(col("seed"), lit(1))).as("s"))
        .head()
      val nNodes = cntRow.getLong(0)
      val nSeeds = cntRow.getLong(1)
      if (nNodes == 0)
        return (graft.Artifacts.checkpoint(
          e.select(col("src").as("node"), lit(0.0).as("rank")).limit(0)), 0)
      // adaptive adjacency layout + hinted rank broadcast while the
      // rank frame fits — the pageRank rationale above (Long-id-gated
      // size estimate via rankFrameBroadcastable)
      val broadcastRanks =
        rankFrameBroadcastable(edges.sparkSession, nNodes, longIds)
      val adj = a.persist(e.join(deg, "src")
        .select(col("src"), col("dst"), col("dout"))
        .repartition(width,
          if (broadcastRanks) col("dst") else col("src")))
      // normalized teleport value, materialized once per node
      val sv = when(col("seed") && lit(nSeeds > 0),
        lit(1.0) / lit(nSeeds.toDouble)).otherwise(lit(0.0))
      val danglingSum = sum(when(col("dangling"), col("rank"))
        .otherwise(lit(0.0))).as("dangling_mass")
      // layout-keeping checkpoint rounds — the pageRank rationale above
      // (round-17, verdict #1)
      def ckLayout(df: DataFrame): DataFrame =
        if (broadcastRanks) a.checkpoint(df, Seq("node"), width)
        else a.checkpoint(df)
      val obs0 = Observation()
      var ranks = ckLayout(nodesBase
        .select(col("node"), col("dangling"), sv.as("sv"))
        .withColumn("rank", col("sv"))
        .observe(obs0, danglingSum))
      var dm = obs0.get("dangling_mass").asInstanceOf[Double]
      var it = 0
      while (it < iterations) {
        val obs = Observation()
        // sv·((1−d) + d·dm) + d·contrib — the factor is one scalar per
        // round, computed the same way the oracle's SQL computes it
        val sFactor = (1.0 - damping) + damping * dm
        val rankSide = ranks.select(col("node"), col("rank"))
        val contribs = adj
          .join(if (broadcastRanks) broadcast(rankSide) else rankSide,
            col("src") === col("node"))
          .select(col("dst").as("node"), (col("rank") / col("dout")).as("c"))
          .groupBy(col("node"))
          .agg(sum(col("c")).as("contrib"))
        val next = ckLayout(ranks
          .select(col("node"), col("dangling"), col("sv"), col("rank"))
          .join(if (broadcastRanks) contribs.hint("merge") else contribs,
            Seq("node"), "left")
          .select(col("node"), col("dangling"), col("sv"),
            (col("sv") * lit(sFactor) +
              lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
          .observe(obs, danglingSum))
        dm = obs.get("dangling_mass").asInstanceOf[Double]
        a.free(ranks)
        ranks = next
        it += 1
      }
      (a.keep(ranks).select(col("node"), col("rank")), it)
    } finally a.release()
  }

  /** In-task seeded-teleport power iteration over CSR adjacency — the
    * personalized twin of [[fastPageRank]]. The seed PREDICATE is a
    * Catalyst column, so it is evaluated distributed (one projection
    * over the bounded node set) and the resulting seed ids ride into
    * the single task as tagged rows unioned with the edges — no
    * driver collect, no second job. Recurrence per round, identical
    * scalar ops to the distributed rounds:
    * sFactor = (1−d) + d·dm; rank'(v) = sv(v)·sFactor + d·contrib(v).
    */
  private def fastPersonalizedPageRank(e: DataFrame,
      isSeed: Column => Column, iterations: Int,
      damping: Double): DataFrame = {
    import e.sparkSession.implicits._
    val seedRows = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .filter(isSeed(col("node")))
      .select(lit(1).as("tag"), col("node").as("a"), lit(0L).as("b"))
    e.select(lit(0).as("tag"), col("src").as("a"), col("dst").as("b"))
      .unionByName(seedRows)
      .as[(Int, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray
        val edges = rows.collect { case (0, a, b) => (a, b) }
          .sortInPlace()(Ordering.Tuple2[Long, Long])
        if (edges.isEmpty) Iterator.empty
        else {
          val seedIds = new java.util.HashSet[java.lang.Long]()
          rows.foreach { case (1, a, _) => seedIds.add(a); case _ => () }
          // dense node indexing (the fastPageRank shape)
          val idSet = new java.util.TreeSet[java.lang.Long]()
          edges.foreach { case (a, b) => idSet.add(a); idSet.add(b) }
          val ids = idSet.toArray(new Array[java.lang.Long](0))
            .map(_.longValue())
          val idx = new scala.collection.mutable.LongMap[Int](ids.length * 2)
          var i = 0
          while (i < ids.length) { idx(ids(i)) = i; i += 1 }
          val n = ids.length
          val src = new Array[Int](edges.length)
          val dst = new Array[Int](edges.length)
          val dout = new Array[Int](n)
          i = 0
          while (i < edges.length) {
            src(i) = idx(edges(i)._1); dst(i) = idx(edges(i)._2)
            dout(src(i)) += 1
            i += 1
          }
          var nSeeds = 0
          i = 0
          while (i < n) { if (seedIds.contains(ids(i))) nSeeds += 1; i += 1 }
          val sv = new Array[Double](n)
          if (nSeeds > 0) {
            i = 0
            while (i < n) {
              if (seedIds.contains(ids(i))) sv(i) = 1.0 / nSeeds.toDouble
              i += 1
            }
          }
          var rank = sv.clone()
          var round = 0
          while (round < iterations) {
            var dm = 0.0
            var v = 0
            while (v < n) { if (dout(v) == 0) dm += rank(v); v += 1 }
            val sFactor = (1.0 - damping) + damping * dm
            val contrib = new Array[Double](n)
            i = 0
            while (i < edges.length) {
              contrib(dst(i)) += rank(src(i)) / dout(src(i))
              i += 1
            }
            val next = new Array[Double](n)
            v = 0
            while (v < n) {
              next(v) = sv(v) * sFactor + damping * contrib(v)
              v += 1
            }
            rank = next
            round += 1
          }
          Iterator.range(0, n).map(v => (ids(v), rank(v)))
        }
      }
      .toDF("node", "rank")
  }

  /** One distributed round, exposed for the PlanSpec pin: every
    * exchange in the round moves O(nodes) rank-frame rows on node
    * keys — the O(edges) adjacency cache is scanned in place, never
    * reshuffled.
    *
    * Same op shape as the oracle replay: (1−d)/n + d·(contrib+dm/n)
    * — IEEE ops are deterministic, so identical shapes give identical
    * bits up to the summation-order ulps the query-edge round()
    * absorbs. Left side is the previous rank frame (same node set
    * every round), so the caller's L1-delta metric reads the old rank
    * from the very same join via `prev`.
    */
  private[graft] def rankRound(adj: DataFrame, ranks: DataFrame,
      n: Double, damping: Double, dm: Double,
      broadcastRanks: Boolean = false): DataFrame = {
    val rankSide = ranks.select(col("node"), col("rank"))
    val contribs = adj
      .join(if (broadcastRanks) broadcast(rankSide) else rankSide,
        col("src") === col("node"))
      .select(col("dst").as("node"), (col("rank") / col("dout")).as("c"))
      .groupBy(col("node"))
      .agg(sum(col("c")).as("contrib"))
    ranks
      .select(col("node"), col("dangling"), col("rank"))
      // broadcast regime (round-17): both sides arrive hash(node,
      // width) — ranks from the persisted round cache, contribs
      // partition-local over the dst-laid adjacency cache — so the
      // MERGE hint plans a zero-exchange co-partitioned join instead
      // of a second broadcast build per round. Past broadcastability
      // the join is left unhinted and plans exactly as before.
      .join(if (broadcastRanks) contribs.hint("merge") else contribs,
        Seq("node"), "left")
      .select(col("node"), col("dangling"),
        (lit((1.0 - damping) / n) + lit(damping) *
          (coalesce(col("contrib"), lit(0.0)) + lit(dm / n)))
          .as("rank"),
        col("rank").as("prev"))
  }

  /** In-task power iteration over CSR adjacency — the single-job
    * fast path. mapPartitions on a 1-partition frame, not a driver
    * collect: the work stays on an executor and the result is a
    * distributed frame. Edge order is canonicalized (sort by (src,
    * dst)) so the run is deterministic; the recurrence is the exact
    * shape of the distributed rounds and the oracle replay.
    */
  private def fastPageRank(e: DataFrame, iterations: Int,
      damping: Double, tol: Double): DataFrame = {
    import e.sparkSession.implicits._
    // coalesce, not repartition: the distinct upstream already
    // exchanged, so the single task just reads its outputs — no
    // second shuffle for the bounded edge set
    e.as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val edges = it.toArray.sortInPlace()(Ordering.Tuple2[Long, Long])
        if (edges.isEmpty) Iterator.empty
        else {
          // dense node indexing
          val idSet = new java.util.TreeSet[java.lang.Long]()
          edges.foreach { case (a, b) => idSet.add(a); idSet.add(b) }
          val ids = idSet.toArray(new Array[java.lang.Long](0))
            .map(_.longValue())
          val idx = new scala.collection.mutable.LongMap[Int](ids.length * 2)
          var i = 0
          while (i < ids.length) { idx(ids(i)) = i; i += 1 }
          val n = ids.length
          val src = new Array[Int](edges.length)
          val dst = new Array[Int](edges.length)
          val dout = new Array[Int](n)
          i = 0
          while (i < edges.length) {
            src(i) = idx(edges(i)._1); dst(i) = idx(edges(i)._2)
            dout(src(i)) += 1
            i += 1
          }
          val base = (1.0 - damping) / n
          var rank = Array.fill(n)(1.0 / n)
          var round = 0
          var delta = Double.MaxValue
          while (round < iterations && delta > tol) {
            var dm = 0.0
            var v = 0
            while (v < n) { if (dout(v) == 0) dm += rank(v); v += 1 }
            val contrib = new Array[Double](n)
            i = 0
            while (i < edges.length) {
              contrib(dst(i)) += rank(src(i)) / dout(src(i))
              i += 1
            }
            val next = new Array[Double](n)
            delta = 0.0
            v = 0
            while (v < n) {
              next(v) = base + damping * (contrib(v) + dm / n)
              delta += math.abs(next(v) - rank(v))
              v += 1
            }
            rank = next
            round += 1
          }
          Iterator.range(0, n).map(v => (ids(v), rank(v)))
        }
      }
      .toDF("node", "rank")
  }
}
