package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara '07) with deterministic semantics: every node
  * starts labeled with its own id; each round every node adopts the
  * label most frequent among its neighbors, ties broken toward the
  * SMALLEST label; all nodes update together. A fixed round count
  * (not run-to-fixpoint) keeps the synchronous schedule replayable —
  * LPA famously 2-cycles on bipartite structure, so "until stable"
  * is not a well-defined relational contract, whereas "exactly R
  * rounds" is one CTE per round in the DuckDB replay (the
  * k-core/PageRank oracle discipline). Final labels are canonicalized
  * to the minimum member node id, so community names are stable
  * across relabelings of the propagation itself.
  *
  * Reference behavior: the reference pipeline has no graph operators;
  * this extends the curation-prior family (PageRank, k-core,
  * triangles) with the standard partition readout used for template
  * farms and topic clusters.
  *
  * Scale shape: the canonical undirected edge list is built once;
  * each round is one key join (labels onto edge endpoints) and two
  * aggregations — per-round exchange volume is O(edges), constant
  * across rounds, with each round localCheckpointed so lineage stays
  * flat. Like [[KCore.kCore]], a graph bounded by `smallGraphEdges`
  * AND the byte budget short-circuits to an in-task synchronous
  * propagation over arrays — identical labels (CommunitiesSpec pins
  * parity); `smallGraphEdges = 0` forces the distributed rounds (what
  * `q_communities` oracles, the 100 TB shape).
  */
object Communities {

  /** ~64 B per canonical edge in the fast-path task: 16 B of (u, v)
    * input plus CSR arrays (both directions), label arrays, and the
    * per-node vote map slack (the [[KCore]] sizing rationale, wider
    * for the vote counting).
    */
  val FastPathBytesPerEdge = 64L

  /** (node, community) for every node of the canonical undirected
    * graph, community = min node id sharing the node's label after
    * exactly `rounds` synchronous propagation rounds.
    *
    * Ids must be Long (the vote tie-break orders labels numerically
    * inside a single aggregate; every graft graph uses Long ids).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4, smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = PageRank.FastPathByteBudget): DataFrame =
    lpaFromUnd(canonicalUnd(edges, srcCol, dstCol), rounds,
      smallGraphEdges, fastPathByteBudget, rawEdges = Some(edges))

  /** [[labelPropagation]] + [[modularity]] sharing ONE canonical
    * edge build (the composed q_modularity query would otherwise pay
    * the filter + least/greatest + DISTINCT shuffle three times —
    * once in the propagation, once per modularity consumer).
    */
  def modularityOfLpa(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4, smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = PageRank.FastPathByteBudget): DataFrame = {
    val und = graft.Artifacts.checkpoint(canonicalUnd(edges, srcCol, dstCol))
    val labels =
      lpaFromUnd(und, rounds, smallGraphEdges, fastPathByteBudget,
        rawEdges = Some(edges))
    modularityFromUnd(und, labels)
  }

  private def canonicalUnd(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    require(und.schema.fields
        .forall(_.dataType == org.apache.spark.sql.types.LongType),
      "labelPropagation requires Long node ids")
    und
  }

  private def lpaFromUnd(und: DataFrame, rounds: Int,
      smallGraphEdges: Long, fastPathByteBudget: Long,
      rawEdges: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val maxFastEdges =
      math.min(smallGraphEdges, fastPathByteBudget / FastPathBytesPerEdge)
    // rawEdges, when the caller has the pre-canonicalization frame,
    // lets the cheap probe skip the standalone distinct-count on
    // clearly-large graphs (PageRank.mayFitFastPath)
    if (smallGraphEdges > 0 &&
        rawEdges.forall(PageRank.mayFitFastPath(_, maxFastEdges)) &&
        und.count() <= maxFastEdges)
      return fastLpa(und, rounds)
    // both directions: one labels-join keyed by v yields, per directed
    // (u, v), neighbor v's vote for u.
    // ONE layout exchange for the whole propagation (round-16, guide
    // §2.4 "establish the partitioning once"): sym is hash-partitioned
    // on the vote key u here, and every round's label join broadcasts
    // (labels are O(nodes), Catalyst picks BHJ by size) — a BHJ
    // preserves the stream side's clustering, so BOTH vote
    // aggregations and the init distinct below run partition-local:
    // zero per-round exchanges instead of two (hash(u) satisfies the
    // (u, label) clustering by the subset rule). Past broadcastability
    // the label join re-shuffles by v exactly as before — no plan
    // regression at cluster scale. Width pinned for the CPU-dense
    // vote tail (the assignFromStaged rationale).
    // persist, NOT localCheckpoint: under AQE a checkpoint captures
    // UnknownPartitioning (AdaptiveSparkPlanExec is a leaf to the
    // capture), while an InMemoryRelation preserves its cached plan's
    // hash(u) layout (canChangeCachedPlanOutputPartitioning default
    // false) — measured: the checkpointed variant kept both per-round
    // exchanges. Released after the last round; the returned frame
    // reads only the final checkpointed label frame.
    val width = und.sparkSession.sessionState.conf.numShufflePartitions
    val labels = graft.Artifacts.scoped { a =>
      val sym = a.persist(und.unionByName(
        und.select(col("v").as("u"), col("u").as("v")))
        .repartition(width, col("u")))
      var labels = a.checkpoint(sym.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
      for (_ <- 1 to rounds) {
        // max(struct(count, -label)) = most frequent label, ties to the
        // smallest — one aggregate, no window sort
        val next = a.checkpoint(sym
          .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
          .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("u").as("node"), (-col("m.nl")).as("label")))
        a.free(labels)
        labels = next
      }
      // the final label frame is checkpointed (self-contained) — the
      // edge cache has no consumer left
      a.keep(labels)
    }
    val canon = labels.groupBy(col("label"))
      .agg(min(col("node")).as("community"))
    labels.join(canon, Seq("label"))
      .select(col("node"), col("community"))
      .orderBy(col("node"))
  }

  /** In-task synchronous propagation over CSR arrays — the single-job
    * fast path, exactly the distributed recurrence (same labels, same
    * tie-breaks; CommunitiesSpec pins parity on random graphs).
    */
  private def fastLpa(und: DataFrame, rounds: Int): DataFrame = {
    import und.sparkSession.implicits._
    und.as[(Long, Long)]
      // the distinct upstream already exchanged — the single task
      // just reads its outputs (no second shuffle)
      .coalesce(1)
      .mapPartitions { it =>
        val edges = it.toArray
        if (edges.isEmpty) Iterator.empty
        else {
          val idSet = new java.util.TreeSet[java.lang.Long]()
          edges.foreach { case (a, b) => idSet.add(a); idSet.add(b) }
          val ids = idSet.toArray(new Array[java.lang.Long](0))
            .map(_.longValue())
          val idx = new scala.collection.mutable.LongMap[Int](ids.length * 2)
          var i = 0
          while (i < ids.length) { idx(ids(i)) = i; i += 1 }
          val n = ids.length
          // CSR over both directions
          val degc = new Array[Int](n)
          edges.foreach { case (a, b) =>
            degc(idx(a)) += 1; degc(idx(b)) += 1
          }
          val off = new Array[Int](n + 1)
          i = 0
          while (i < n) { off(i + 1) = off(i) + degc(i); i += 1 }
          val adj = new Array[Int](edges.length * 2)
          val fill = off.clone()
          edges.foreach { case (a, b) =>
            val ia = idx(a); val ib = idx(b)
            adj(fill(ia)) = ib; fill(ia) += 1
            adj(fill(ib)) = ia; fill(ib) += 1
          }
          var label = Array.tabulate(n)(v => ids(v))
          var r = 0
          while (r < rounds) {
            val next = new Array[Long](n)
            var u = 0
            while (u < n) {
              val votes = new scala.collection.mutable.LongMap[Long]()
              var j = off(u)
              while (j < off(u + 1)) {
                val l = label(adj(j))
                votes(l) = votes.getOrElse(l, 0L) + 1L
                j += 1
              }
              var bestL = Long.MaxValue
              var bestC = 0L
              votes.foreach { case (l, c) =>
                if (c > bestC || (c == bestC && l < bestL)) {
                  bestC = c; bestL = l
                }
              }
              next(u) = bestL
              u += 1
            }
            label = next
            r += 1
          }
          // canonical relabel: community = min member node id
          val minOf = new scala.collection.mutable.LongMap[Long]()
          i = 0
          while (i < n) {
            val l = label(i)
            val cur = minOf.getOrElse(l, Long.MaxValue)
            if (ids(i) < cur) minOf(l) = ids(i)
            i += 1
          }
          Iterator.range(0, n).map(v => (ids(v), minOf(label(v))))
        }
      }
      .toDF("node", "community")
      .orderBy(col("node"))
  }

  /** Freeze a (node, community) partition as a parquet artifact —
    * the LPA analog of the gram-index / NB-model lifecycle: train
    * once, write, and let every later probe READ the frozen labels
    * instead of recomputing the partition.
    */
  def writeCommunityLabels(labels: DataFrame, dir: String): Unit =
    labels.select(col("node"), col("community"))
      .write.mode("overwrite").parquet(dir)

  def readCommunityLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = spark.read.parquet(dir)

  /** Ingest-time community assignment — the frozen SERVING form of
    * [[labelPropagation]] (every other model family here has one:
    * DSIR, NB, LM, the memorization index). Each node of `nodes`
    * adopts the most frequent FROZEN community label among its
    * neighbors in `edges`, ties toward the smallest label — exactly
    * one synchronous LPA round evaluated against the frozen partition
    * (which is never recomputed). A node with no labeled neighbor
    * (graph-absent, or linked only to other new nodes — new-new edges
    * carry no frozen label and contribute nothing) starts its own
    * community under the LPA init convention: community = own id.
    *
    * Scale shape: one canonical-edge build over the PROBE batch's
    * edges (not the corpus graph), a semi-join down to the probe
    * nodes, one join against the frozen labels on the neighbor key,
    * two bounded aggregations — O(probe edges) exchange, the frozen
    * labels side joins by key and is never scanned per round.
    */
  def assignToCommunities(nodes: DataFrame, edges: DataFrame,
      srcCol: String, dstCol: String, frozenLabels: DataFrame): DataFrame = {
    val und = canonicalUnd(edges, srcCol, dstCol)
    val sym = und.unionByName(
      und.select(col("v").as("u"), col("u").as("v")))
    val probe = nodes.select(col("node")).distinct()
    val votes = sym
      .join(probe.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(frozenLabels.select(col("node").as("v"), col("community").as("l")),
        Seq("v"))
      .groupBy(col("u"), col("l")).agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
      .select(col("u").as("node"), (-col("m.nl")).as("community"))
    probe.join(votes, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("community"), col("node")).as("community"))
      .orderBy(col("node"))
  }

  /** Stage an ingest batch's edges for [[assignFromStaged]]: the
    * canonical undirected build (null/self-loop drop, least/greatest,
    * DISTINCT) plus symmetrization happen ONCE here, at ingest-stage
    * time, and land as a catalog table bucketed on the NEIGHBOR key
    * `v` — the label-join key. Serving then never re-canonicalizes
    * the batch (the round-10 probe paid that distinct shuffle on
    * every query) and, when the labels table shares the bucket
    * count ([[writeCommunityLabelsBucketed]]), the vote round's
    * label join plans ZERO exchanges (the
    * [[graft.ops.BucketedTables]] layout contract).
    */
  def stageAssignmentEdges(edges: DataFrame, srcCol: String,
      dstCol: String, table: String, buckets: Int = 32): Unit = {
    val und = canonicalUnd(edges, srcCol, dstCol)
    graft.ops.BucketedTables.writeBucketed(
      und.unionByName(und.select(col("v").as("u"), col("u").as("v"))),
      table, "v", buckets)
  }

  /** The frozen-labels artifact in the layout [[assignFromStaged]]
    * serves from: bucketed on `node` with the SAME bucket count as
    * the staged edges, so the vote join is co-located file-to-file.
    */
  def writeCommunityLabelsBucketed(labels: DataFrame, table: String,
      buckets: Int = 32): Unit =
    graft.ops.BucketedTables.writeBucketed(
      labels.select(col("node"), col("community")), table, "node", buckets)

  /** [[assignToCommunities]] served from STAGED layouts — same
    * semantics (one synchronous vote round against the frozen
    * partition: majority label, ties smallest, own id when no
    * neighbor is labeled), different plan:
    *
    *  - the staged edges are already canonical AND symmetric, so the
    *    serving plan has no filter/least-greatest/DISTINCT pass;
    *  - edges (bucketed by `v`) join labels (bucketed by `node`)
    *    co-located — the vote round's only wide input joins with
    *    ZERO exchanges (`CommunitiesSpec` pins the plan shape);
    *  - the inner label join doubles as the probe filter: a row only
    *    survives when its NEIGHBOR carries a frozen label, so
    *    non-probe vote groups never reach the aggregation, and the
    *    explicit semi-join of the one-shot form is unnecessary —
    *    votes for nodes outside `nodes` drop in the final left join.
    *
    * Exchange budget: two vote aggregations + the probe-nodes side
    * of the final join + the output sort — O(votes) and O(nodes),
    * never O(corpus edges). The one-shot [[assignToCommunities]]
    * remains the single-pass form for callers without staged layouts
    * (the streaming sink's per-micro-batch shape).
    */
  def assignFromStaged(nodes: DataFrame, edgesTable: String,
      labelsTable: String): DataFrame = {
    val spark = nodes.sparkSession
    val sym = spark.table(edgesTable)
    val lab = spark.table(labelsTable)
      .select(col("node").as("v"), col("community").as("l"))
    // the vote tail is CPU-dense (a sort aggregate over every vote
    // row), not byte-dense — pin its exchange to the session's
    // shuffle parallelism so size-based AQE coalescing (tuned for
    // the many small byte-light shuffles elsewhere) can't flatten
    // the sort onto a handful of threads. An explicit width makes
    // the exchange REPARTITION_BY_NUM, which AQE leaves alone.
    val width = nodes.sparkSession.sessionState.conf.numShufflePartitions
    val votes = sym
      .hint("merge") // the broadcast path would forget the buckets
      .join(lab, Seq("v"))
      // ONE exchange serves the whole vote tail: hash(u) satisfies
      // the (u, l) count, the per-u majority, AND the final probe
      // join's clustering (subset-key satisfaction) — without it the
      // planner exchanges by (u, l) and then again by u
      .repartition(width, col("u"))
      .groupBy(col("u"), col("l")).agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
      .select(col("u").as("node"), (-col("m.nl")).as("community"))
    nodes.select(col("node")).repartition(width, col("node")).distinct()
      .join(votes, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("community"), col("node")).as("community"))
      .orderBy(col("node"))
  }

  /** Community-size histogram of a partition: (size, n_communities)
    * — the first structural readout of a clustering (is it one blob,
    * all singletons, or a real distribution?). Output is at most
    * |distinct sizes| rows; two hash aggregations over the O(nodes)
    * labels frame.
    */
  def communitySizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("community")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
      .orderBy(col("size"))

  /** One-row modularity readout of a partition (Newman & Girvan '04):
    * Q = Σ_c (e_c/m − (D_c/2m)²) over communities, computed as the
    * exact integer rational Σ_c (4·m·e_c − D_c²) / 4m² — e_c = intra-
    * community edges, D_c = degree mass, m = undirected edges, all
    * exact longs. The double readout uses the house 4-decimal
    * long-division form, shifted by +1 so the numerator stays
    * non-negative (Q ≥ −½ always; integer-division semantics for
    * negatives differ between engines).
    *
    * `labels` is (node, community) — [[labelPropagation]]'s output or
    * any partition of the graph's nodes.
    *
    * Scale shape: one degree aggregation, two label joins on the edge
    * list, one community aggregation, one global sum — all key
    * exchanges O(edges); output is 1 row.
    *
    * Integer-rational bound: the q_num/q_den READOUT columns are
    * exact longs by contract (the oracle gate is dtype-kind-strict),
    * and |q_num| ≤ q_den = 4m², which exceeds Long at m ≈ 1.52e9
    * undirected edges — the VALUE itself, not just an intermediate,
    * so no internal widening can keep the Long schema past that
    * point. Under the session's ANSI mode (Spark 4 default, and what
    * every graft session runs) the overflow surfaces as a loud
    * ARITHMETIC_OVERFLOW, never a silent wrap; a >1.5e9-edge caller
    * should project its own DECIMAL(38,0) rational from e_c/D_c
    * aggregates. The 4-decimal `modularity` readout is already
    * decimal-wide (see [[modularityReadout]] — its scaled
    * intermediate overflows much earlier, at ~7.6 M edges).
    */
  def modularity(edges: DataFrame, labels: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    modularityFromUnd(graft.Artifacts.checkpoint(edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()), labels)

  /** [[modularity]] over an ALREADY-CANONICAL (and materialized)
    * undirected edge frame — the shared-build path.
    */
  private def modularityFromUnd(und: DataFrame,
      labels: DataFrame): DataFrame = {
    val lab = graft.Artifacts.checkpoint(
      labels.select(col("node"), col("community")))
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val m = und.agg(count(lit(1)).as("m"))
    val dc = deg.join(lab, Seq("node"))
      .groupBy(col("community")).agg(sum(col("d")).as("dsum"))
    val ec = und
      .join(lab.select(col("node").as("u"), col("community").as("cu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("cv")),
        Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e"))
    val num = dc.join(ec, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select((lit(4L) * col("m") * coalesce(col("e"), lit(0L)) -
        col("dsum") * col("dsum")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("q_num"))
    val nNodes = lab.agg(count(lit(1)).as("n_nodes"),
      count_distinct(col("community")).as("n_communities"))
    broadcast(nNodes).crossJoin(broadcast(m)).crossJoin(broadcast(num))
      .select(col("n_nodes"), col("m").as("n_edges"),
        col("n_communities"), col("q_num"),
        (lit(4L) * col("m") * col("m")).as("q_den"))
      .select(col("n_nodes"), col("n_edges"), col("n_communities"),
        col("q_num"), col("q_den"),
        modularityReadout.as("modularity"))
  }

  /** The +1-shifted 4-decimal readout over in-scope `q_num`/`q_den`
    * attributes, in DECIMAL(38,0) arithmetic with an exact integral
    * `div`: `(q_num + q_den) * 20000 + q_den` overflows a Long once
    * 160000·m² passes 2^63 (~7.6 M undirected edges — inside this
    * operator's intended range), so the scaled intermediate is
    * computed wide and only the ≤5-digit quotient returns to Long.
    * The DuckDB twin widens to HUGEINT the same way. Exposed for the
    * overflow spec (an 8 M-edge graph is not a unit-test fixture;
    * the readout column is).
    */
  private[graft] def modularityReadout: Column =
    when(col("q_den") =!= 0L,
      expr("((CAST(q_num AS DECIMAL(38,0)) + q_den) * 20000 + q_den) div " +
        "(2 * CAST(q_den AS DECIMAL(38,0)))") / lit(10000.0) - lit(1.0))
}
