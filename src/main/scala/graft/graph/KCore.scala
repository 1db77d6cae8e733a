package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction by synchronous peeling: repeatedly drop every
  * node whose degree WITHIN the surviving subgraph is below k, until
  * a fixpoint. The classic graph-quality prior (Seidman '83): spam
  * farms and template clusters survive high-k cores that organic
  * pages don't, and conversely a page outside the 2-core is a leaf
  * chain. Synchronous rounds (all sub-k nodes drop together) make
  * the result order-independent — the fixpoint is THE k-core, and
  * every round is exactly replayable relationally (the generated
  * DuckDB oracle chains one CTE per recorded round).
  *
  * Scale shape: the canonical undirected edge list is built once;
  * each round is one degree aggregation over the filtered edges plus
  * a semi-join filter — per-round exchange volume is O(alive edges),
  * monotonically shrinking, and the alive set localCheckpoints per
  * round so lineage stays flat (the components/PageRank round
  * pattern). Round COUNT is data-dependent but bounded by the
  * longest peel chain (≤ diameter-ish); the driver sees one Long
  * count per round, never row data.
  */
object KCore {

  final case class KCoreResult(members: DataFrame, rounds: Int)

  /** ~48 B per canonical edge in the fast-path task: 16 B of (u, v)
    * input plus the int endpoint/degree/alive arrays and id-index
    * overhead amortized per edge (the [[PageRank]] sizing rationale).
    */
  val FastPathBytesPerEdge = 48L

  /** The node set of the canonical undirected graph [[kCore]] peels —
    * exposed so callers composing "in-graph but outside the core"
    * predicates (the curation gate) share THIS canonicalization
    * (null/self-loop drop, undirected collapse) instead of deriving
    * their own and drifting.
    */
  def graphNodes(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
    und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .distinct()
  }

  /** Nodes of the k-core with their within-core degree.
    *
    * Like the components/PageRank operators, a graph bounded by
    * `smallGraphEdges` AND the byte budget short-circuits to an
    * in-task synchronous peel — the IDENTICAL round recurrence over
    * arrays (same members, same round count; KCoreSpec pins parity),
    * one job instead of per-round exchanges. `smallGraphEdges = 0`
    * forces the distributed rounds (what `q_kcore` oracles, the
    * 100 TB shape).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 100, smallGraphEdges: Long = PageRank.DefaultSmallGraphEdges,
      fastPathByteBudget: Long = PageRank.FastPathByteBudget): KCoreResult = {
    require(k >= 1, s"k must be >= 1: $k")
    val und0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    // the gate's count() is a job of its own, and whichever path runs
    // next re-reads the canonicalization — persist across the gate
    // (the personalizedPageRank gating shape) and release once the
    // chosen path has materialized its own frame
    val a = new graft.Artifacts
    val und = if (smallGraphEdges > 0) a.persist(und0) else und0
    val longIds = und.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    val maxFastEdges =
      math.min(smallGraphEdges, fastPathByteBudget / FastPathBytesPerEdge)
    if (smallGraphEdges > 0 && longIds &&
        PageRank.mayFitFastPath(edges, maxFastEdges) &&
        und.count() <= maxFastEdges)
      // fastKCore eagerly localCheckpoints its output, so und is
      // fully consumed by the time it returns (unpersist also on the
      // loud budget-exhaustion throw)
      try return fastKCore(und, k, maxRounds)
      finally a.free(und)
    // both directions, so degree is one groupBy on the first column.
    // ONE layout exchange for the whole peel (round-16, guide §2.4):
    // sym hash-partitions on the degree key u here; each round's two
    // alive joins broadcast (alive is O(nodes)) and preserve the
    // stream side's clustering, so the per-round degree aggregation —
    // and the init distinct — run partition-local: zero per-round
    // exchanges. Past broadcastability the v join re-shuffles as
    // before (the u join stays co-partitioned: alive inherits hash(u)
    // from the init distinct). Width pinned for the CPU-dense peel
    // (the assignFromStaged rationale).
    // persist, NOT localCheckpoint: under AQE a checkpoint captures
    // UnknownPartitioning, while the InMemoryRelation preserves the
    // hash(u) layout (the lpaFromUnd rationale). Released by the
    // returned members frame's first action (Managed.autoReleased).
    val width = und.sparkSession.sessionState.conf.numShufflePartitions
    val sym = a.persist(und.unionByName(
      und.select(col("v").as("u"), col("u").as("v")))
      .repartition(width, col("u")))
    // alive count rides the checkpoint materialization as an
    // observation — no standalone count() job per frame (round-16;
    // the minLabelComponents certificate pattern)
    val obs0 = org.apache.spark.sql.Observation()
    var alive = a.checkpoint(sym.select(col("u").as("node")).distinct()
      .observe(obs0, count(lit(1)).as("n_alive")))
    var aliveCount = obs0.get("n_alive").asInstanceOf[Long]
    // release und only AFTER the init frame above has materialized
    // sym (round-17, advice: sym is lazily persisted — an earlier
    // unpersist made sym's first fill re-derive the canonical edge
    // frame uncached)
    if (smallGraphEdges > 0) a.free(und)
    var rounds = 0
    var done = aliveCount == 0
    while (!done) {
      val obs = org.apache.spark.sql.Observation()
      val next = a.checkpoint(sym
        .join(alive.select(col("node").as("u")), Seq("u"))
        .join(alive.select(col("node").as("v")), Seq("v"))
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("u").as("node"))
        .observe(obs, count(lit(1)).as("n_alive")))
      val nextCount = obs.get("n_alive").asInstanceOf[Long]
      if (nextCount == aliveCount) {
        // fixpoint confirmed — the budget only limits SHRINK rounds,
        // so reaching it on the confirming pass is success
        a.free(next)
        done = true
      } else if (rounds >= maxRounds) {
        // a silent early stop would return a SUPERSET of the k-core;
        // fail loudly instead — the caller raises the budget
        a.release()
        throw new IllegalStateException(
          s"k-core did not reach a fixpoint in $maxRounds rounds " +
            s"($aliveCount nodes still alive) — raise maxRounds")
      } else {
        // the superseded round's checkpoint blocks free NOW, not at
        // GC time
        a.free(alive)
        alive = next
        aliveCount = nextCount
        rounds += 1
        if (aliveCount == 0) done = true
      }
    }
    a.keep(alive)
    val members = sym
      .join(alive.select(col("node").as("u")), Seq("u"))
      .join(alive.select(col("node").as("v")), Seq("v"))
      .groupBy(col("u")).agg(count(lit(1)).as("core_degree"))
      .select(col("u").as("node"), col("core_degree"))
      .orderBy(col("node"))
    // the readout still scans the edge cache — release it after the
    // caller's first action; the final alive frame is the result's own
    KCoreResult(new graft.Managed(members, a).autoReleased(), rounds)
  }

  /** In-task synchronous peel over the canonical edge array — the
    * single-job fast path. Exactly the distributed recurrence:
    * alive' = {u alive : deg within alive ≥ k}, counted rounds are
    * the SHRINK rounds, budget exhaustion fails loudly (the task's
    * IllegalStateException is unwrapped so the contract matches the
    * distributed path). The round count rides each output row as a
    * constant column; reading it back is a 1-value metadata access,
    * not a data collect.
    */
  private def fastKCore(und: DataFrame, k: Int,
      maxRounds: Int): KCoreResult = {
    import und.sparkSession.implicits._
    val out =
      try {
        val df = und.as[(Long, Long)]
          // coalesce: the distinct upstream already exchanged — the
          // single task just reads its outputs (no second shuffle)
          .coalesce(1)
          .mapPartitions { it =>
            val edges = it.toArray
            if (edges.isEmpty) Iterator.empty
            else {
              val idSet = new java.util.TreeSet[java.lang.Long]()
              edges.foreach { case (a, b) => idSet.add(a); idSet.add(b) }
              val ids = idSet.toArray(new Array[java.lang.Long](0))
                .map(_.longValue())
              val idx =
                new scala.collection.mutable.LongMap[Int](ids.length * 2)
              var i = 0
              while (i < ids.length) { idx(ids(i)) = i; i += 1 }
              val n = ids.length
              val eu = new Array[Int](edges.length)
              val ev = new Array[Int](edges.length)
              i = 0
              while (i < edges.length) {
                eu(i) = idx(edges(i)._1); ev(i) = idx(edges(i)._2)
                i += 1
              }
              val deg = new Array[Int](n)
              def degreesWithin(alive: Array[Boolean]): Unit = {
                java.util.Arrays.fill(deg, 0)
                var j = 0
                while (j < edges.length) {
                  if (alive(eu(j)) && alive(ev(j))) {
                    deg(eu(j)) += 1; deg(ev(j)) += 1
                  }
                  j += 1
                }
              }
              var alive = Array.fill(n)(true)
              var aliveCount = n
              var rounds = 0
              var done = aliveCount == 0
              while (!done) {
                degreesWithin(alive)
                val next = new Array[Boolean](n)
                var nextCount = 0
                var v = 0
                while (v < n) {
                  if (alive(v) && deg(v) >= k) { next(v) = true; nextCount += 1 }
                  v += 1
                }
                if (nextCount == aliveCount) done = true
                else if (rounds >= maxRounds) throw new IllegalStateException(
                  s"k-core did not reach a fixpoint in $maxRounds rounds " +
                    s"($aliveCount nodes still alive) — raise maxRounds")
                else {
                  alive = next; aliveCount = nextCount; rounds += 1
                  if (aliveCount == 0) done = true
                }
              }
              degreesWithin(alive)
              val r = rounds
              val fin = alive
              // EVERY node rides out with its alive flag, so the
              // round scalar survives an empty core (members filter
              // below) — the frame stays O(nodes), bounded by the
              // fast-path gate
              Iterator.range(0, n)
                .map(v => (ids(v), deg(v).toLong, r, fin(v)))
            }
          }
          .toDF("node", "core_degree", "rounds", "alive")
        graft.Artifacts.checkpoint(df)
      } catch {
        // surface the budget-exhaustion failure as the documented
        // IllegalStateException, not a wrapped SparkException
        case e: org.apache.spark.SparkException =>
          var c: Throwable = e.getCause
          while (c != null && !c.isInstanceOf[IllegalStateException])
            c = c.getCause
          if (c != null) throw c else throw e
      }
    val rounds =
      if (out.isEmpty) 0
      else out.select(col("rounds")).head().getInt(0)
    KCoreResult(
      out.filter(col("alive"))
        .select(col("node"), col("core_degree")).orderBy(col("node")),
      rounds)
  }
}
