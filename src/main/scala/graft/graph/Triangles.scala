package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact triangle counting + local clustering coefficient over an
  * edge list — the link-graph structure readout that complements
  * [[PageRank]]'s centrality: a crawl frontier with high clustering
  * is a community (or a link farm); near-zero clustering at high
  * degree is hub-like. Classic node-iterator++ formulation
  * (Schank & Wagner '05; the MapReduce shape popularized by
  * Suri & Vassilvitskii '11's "Counting triangles and the curse of
  * the last reducer").
  *
  * Scale design — the part that matters at 10^11 edges:
  *  - Edges canonicalize undirected (least, greatest), self-loops
  *    drop, duplicates collapse in the same exchange that the
  *    degree count uses.
  *  - Every edge then ORIENTS from lower (degree, id) to higher —
  *    the total order makes each triangle counted exactly once, and
  *    ordering by DEGREE first is the heavy-hitter bound: a node's
  *    out-degree in the oriented graph is at most O(√m), so the
  *    2-path join that a star head would otherwise explode
  *    quadratically is capped (the "curse of the last reducer" fix).
  *  - 2-paths join oriented edges on their source and close against
  *    the oriented edge set — two hash joins on edge keys, no
  *    cartesian anywhere; AQE handles residual key skew.
  *
  * Readout per node: degree, triangle count, and the local
  * clustering coefficient 2t/(d(d−1)) at 4 decimals via the exact
  * long-division form (the tokenFertility contract — no binary
  * double before the final exact /10⁴).
  */
object Triangles {

  /** ~48 B per canonical edge in the fast-path task: 16 B of (u, v)
    * input plus the sorted-adjacency CSR (int per edge), degree/
    * triangle arrays and id-index overhead amortized per edge (the
    * [[PageRank]] sizing rationale).
    */
  val FastPathBytesPerEdge = 48L

  private def rankLt(da: Column, a: Column, db: Column, b: Column): Column =
    da < db || (da === db && a < b)

  /** Canonical undirected edge list + per-node degrees — the shared
    * front of every whole-graph statistic here.
    */
  private def undAndDeg(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    (und, deg)
  }

  /** Degree assortativity (Newman '02): Pearson correlation of the
    * endpoint degrees over the undirected edges, each edge counted in
    * both orientations (the standard symmetric form). Social-ish
    * graphs run positive (hubs link hubs); crawled web and citation
    * graphs run negative — a corpus-level structure readout next to
    * the per-node triangle/k-core priors.
    *
    * Exactness: all five moment sums (m, Σx, Σxy, Σx², Σy²) are
    * exact longs (ANSI overflow surfaces loudly rather than
    * wrapping), and the ONE division happens once per graph on a
    * single row — identical IEEE in any engine, rounded at 4. Zero
    * degree variance (every endpoint equal) reads NULL, not NaN.
    *
    * Scale: the degree aggregation, two node-keyed joins onto the
    * edge list, and a global 5-sum rollup — nothing quadratic, no
    * driver data.
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // persist the canonicalization: the moment aggregation reads it
    // from the stream side AND both degree-broadcast builds re-derive
    // it otherwise (exchange reuse dedupes the distinct's shuffle but
    // not the aggregates above it) — the triangleStats rationale,
    // released after the caller's first action (round-16)
    val (und0, deg) = undAndDeg(edges, srcCol, dstCol)
    val a = new graft.Artifacts
    new graft.Managed(assortativityFrom(a.persist(und0), deg), a).autoReleased()
  }

  /** [[assortativity]] over an already-built (und, deg) pair — the
    * shared-frame path [[graphSummary]] uses so its three readout
    * branches scan ONE cached canonicalization instead of three.
    */
  private def assortativityFrom(und: DataFrame, deg: DataFrame): DataFrame = {
    // Symmetric-form moments from ONE orientation (round-16, guide
    // §2.3 shuffle/scan fewer rows): over the both-orientations frame
    // the moments collapse by symmetry — m = 2·|und|,
    // sx = sy = Σ(du+dv), sxy = 2·Σ du·dv, sxx = syy = Σ(du²+dv²) —
    // all EXACT integer identities, so this computes the same longs
    // the old und ∪ swap double-join aggregated over twice the rows,
    // and the one readout division keeps the identical expression
    // shape (sqrt of the same two equal factors). Halves the joined
    // rows and drops the union branch + its two extra degree joins.
    val joined = und
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
    joined
      .agg(count(lit(1)).as("e"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("dv")).as("hxy"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"))
      .select(col("e"), col("sx"), col("sxx"),
        (lit(2L) * col("e")).as("m"), (lit(2L) * col("hxy")).as("sxy"))
      .select(col("e").as("n_edges"),
        when(
          (col("m") * col("sxx") - col("sx") * col("sx")) > 0,
          round(
            (col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
              sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("m") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")), 4))
          .as("assortativity"))
  }

  /** The canonical edges, per-node degrees and the closed-triangle
    * frame (s, a, b) — shared by the per-node rollup and the global
    * count. The canonical edge frame and the degree frame are
    * PERSISTED in `owner` (both are read by multiple branches of every
    * consumer: deg reads und twice, the orientation joins read deg
    * twice, the final readout joins deg again) — without the cache
    * the honest full-output cost re-derives the
    * orders-scan→union→distinct chain once per branch (measured
    * +1.5 s at sf0.1, tools.ProfileTriangles).
    */
  private def degreesAndTriangles(owner: graft.Artifacts, edges: DataFrame,
      srcCol: String, dstCol: String): (DataFrame, DataFrame, DataFrame) = {
    val (und0, deg0) = undAndDeg(edges, srcCol, dstCol)
    val und = owner.persist(und0)
    val deg = owner.persist(deg0)
    (und, deg, trianglesFromUndDeg(owner, und, deg))
  }

  /** The oriented 2-path enumeration over an (und, deg) pair the
    * caller already owns (and has persisted). Returns the closed
    * triangles; the oriented-edge cache is persisted in `owner`
    * (round-16): `oriented` is read by THREE consumers (both
    * 2-path legs and the closure probe), each of which re-derived
    * the two degree joins; caching it hash-partitioned on `src`
    * additionally makes the 2-path self-join exchange-free (both
    * legs arrive clustered on the join key — guide §2.4).
    */
  private def trianglesFromUndDeg(owner: graft.Artifacts, und: DataFrame,
      deg: DataFrame): DataFrame = {
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
    val uLower = rankLt(col("du"), col("u"), col("dv"), col("v"))
    // oriented edge (src → dst) with the DST's rank carried along so
    // the 2-path join can order its two legs without a re-join
    val oriented = owner.persist(withDeg.select(
      when(uLower, col("u")).otherwise(col("v")).as("src"),
      when(uLower, col("v")).otherwise(col("u")).as("dst"),
      when(uLower, col("dv")).otherwise(col("du")).as("dd"))
      .repartition(und.sparkSession.sessionState.conf.numShufflePartitions,
        col("src")))
    val o1 = oriented.select(col("src"), col("dst").as("a"), col("dd").as("da"))
    val o2 = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
    val paths = o1.join(o2, Seq("src"))
      .filter(rankLt(col("da"), col("a"), col("db"), col("b")))
      .select(col("src").as("s"), col("a"), col("b"))
    paths.join(oriented,
      paths("a") === oriented("src") && paths("b") === oriented("dst"))
      .select(col("s"), col("a"), col("b"))
  }

  /** The shared (node, degree, triangles) → clustering readout: the
    * exact 4-decimal long-division form, 0.0 below degree 2 — ONE
    * definition so the distributed and in-task paths cannot drift.
    */
  private def clusteringReadout(base: DataFrame): DataFrame =
    base.withColumn("clustering",
      when(col("degree") >= 2,
        expr("(2 * triangles * 20000 + degree * (degree - 1)) div " +
          "(2 * degree * (degree - 1))") / lit(10000.0))
        .otherwise(lit(0.0)))
      .orderBy(col("node"))

  /** [[triangleStats]] with the internal (und, deg) cache surfaced
    * for an explicit lifecycle — multi-action callers use this and
    * `release()` when done.
    */
  def triangleStatsManaged(edges: DataFrame, srcCol: String,
      dstCol: String): graft.Managed = {
    val a = new graft.Artifacts
    val (_, deg, triangles) = degreesAndTriangles(a, edges, srcCol, dstCol)
    // ONE pass over the closed-triangle frame: explode the three
    // corners in place. The union-of-three-projections form re-ran
    // the whole 2-path join subtree once per corner (exchange reuse
    // dedupes the shuffles, not the join work) — together with the
    // (und, deg) cache this took the honest full-output cost 4.9 →
    // ~2.4 s at sf0.1 (tools.ProfileTriangles).
    val triPerNode = triangles
      .select(explode(array(col("s"), col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val stats = clusteringReadout(
      deg.join(triPerNode, Seq("node"), "left")
        .select(col("node"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles")))
    new graft.Managed(stats, a)
  }

  /** Per-node triangle/clustering readout; the internal edge/degree
    * cache releases after the caller's FIRST action
    * (Managed.autoReleased — one-shot; multi-action callers use
    * [[triangleStatsManaged]]).
    *
    * Like the other graph operators, a Long-id graph bounded by
    * `smallGraphEdges` AND the byte budget short-circuits to an
    * in-task sorted-adjacency intersect ([[fastTriangleStats]] —
    * same counts, TrianglesSpec pins parity); `smallGraphEdges = 0`
    * forces the distributed 2-path join (what `q_triangles` oracles,
    * the 100 TB shape).
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String,
      smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = PageRank.FastPathByteBudget): DataFrame = {
    if (smallGraphEdges > 0) {
      val (und0, deg0) = undAndDeg(edges, srcCol, dstCol)
      val a = new graft.Artifacts
      val und = a.persist(und0)
      val longIds = und.schema.fields
        .forall(_.dataType == org.apache.spark.sql.types.LongType)
      val maxFastEdges =
        math.min(smallGraphEdges, fastPathByteBudget / FastPathBytesPerEdge)
      if (longIds && PageRank.mayFitFastPath(edges, maxFastEdges) &&
          und.count() <= maxFastEdges)
        // fastTriangleStats localCheckpoints eagerly — und is fully
        // consumed by the time it returns
        try return fastTriangleStats(und) finally a.release()
      // distributed fallback reusing the already-persisted und
      val deg = a.persist(deg0)
      val tri = trianglesFromUndDeg(a, und, deg)
      val triPerNode = tri
        .select(explode(array(col("s"), col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      val stats = clusteringReadout(
        deg.join(triPerNode, Seq("node"), "left")
          .select(col("node"), col("degree"),
            coalesce(col("triangles"), lit(0L)).as("triangles")))
      new graft.Managed(stats, a).autoReleased()
    } else triangleStatsManaged(edges, srcCol, dstCol).autoReleased()
  }

  /** In-task triangle counting over the canonical edge array — the
    * single-job fast path. The same degree-ordered orientation as the
    * distributed plan, realized as sorted out-adjacency CSR + per-edge
    * linear merge intersect: each triangle is found exactly once at
    * its (lowest, middle)-rank edge and credits all three corners.
    * Out-degree under the orientation is O(√m), so per-edge intersect
    * work is bounded exactly like the distributed 2-path join.
    */
  private def fastTriangleStats(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val base = und.as[(Long, Long)]
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
          val deg = new Array[Int](n)
          edges.foreach { case (a, b) =>
            deg(idx(a)) += 1; deg(idx(b)) += 1
          }
          // ids[] is sorted, so index order == id order and the
          // distributed rank (degree, id) is (deg(x), x) on indices
          def lt(x: Int, y: Int): Boolean =
            deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
          val outc = new Array[Int](n)
          edges.foreach { case (a, b) =>
            val ia = idx(a); val ib = idx(b)
            outc(if (lt(ia, ib)) ia else ib) += 1
          }
          val off = new Array[Int](n + 1)
          i = 0
          while (i < n) { off(i + 1) = off(i) + outc(i); i += 1 }
          val adj = new Array[Int](edges.length)
          val fill = off.clone()
          edges.foreach { case (a, b) =>
            val ia = idx(a); val ib = idx(b)
            val (s, t) = if (lt(ia, ib)) (ia, ib) else (ib, ia)
            adj(fill(s)) = t; fill(s) += 1
          }
          var u = 0
          while (u < n) {
            java.util.Arrays.sort(adj, off(u), off(u + 1)); u += 1
          }
          val tri = new Array[Long](n)
          u = 0
          while (u < n) {
            var j = off(u)
            while (j < off(u + 1)) {
              val v = adj(j)
              var p = off(u); var q = off(v)
              while (p < off(u + 1) && q < off(v + 1)) {
                val x = adj(p); val y = adj(q)
                if (x == y) {
                  tri(u) += 1; tri(v) += 1; tri(x) += 1; p += 1; q += 1
                } else if (x < y) p += 1 else q += 1
              }
              j += 1
            }
            u += 1
          }
          Iterator.range(0, n).map(v => (ids(v), deg(v).toLong, tri(v)))
        }
      }
      .toDF("node", "degree", "triangles")
    clusteringReadout(graft.Artifacts.checkpoint(base))
  }

  /** Global triangle count — one row, counted straight off the
    * closed-triangle frame (no per-node rollup, no degree join, no
    * operator-level sort to discard).
    */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val a = new graft.Artifacts
    val (_, _, triangles) = degreesAndTriangles(a, edges, srcCol, dstCol)
    new graft.Managed(triangles.agg(count(lit(1)).as("n_triangles")), a)
      .autoReleased()
  }

  /** One-row whole-graph readout: node/edge counts, global triangle
    * count, and degree assortativity — the structure dashboard a
    * link-graph curation run records next to its per-node priors.
    * Three bounded single-row frames cross-joined by broadcast; edge
    * count derives from Σdegree/2 (exact — the sum is even). All
    * three branches (degree rollup, triangle count, assortativity)
    * read the ONE cached canonicalization.
    */
  def graphSummary(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val a = new graft.Artifacts
    val (und, deg, triangles) = degreesAndTriangles(a, edges, srcCol, dstCol)
    // coalesce: an edgeless graph has sum(degree) = NULL, but the
    // readout (and the count(*)-form oracle) should say 0 edges
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      (coalesce(sum(col("degree")), lit(0L)) / 2).cast("long").as("n_edges"))
    val tri = triangles.agg(count(lit(1)).as("n_triangles"))
    val asrt = assortativityFrom(und, deg)
      .select(col("assortativity"))
    new graft.Managed(
      nodes.crossJoin(broadcast(tri)).crossJoin(broadcast(asrt)), a)
      .autoReleased()
  }
}
