package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-cutting infrastructure shared by every per-family entry
  * module (the round-14 split of the former monolithic SparkEntry):
  * the injected merge clock, the AQE-off window machinery, the
  * build-once artifact caches, and the tiny driver-side collects
  * every family reuses. Family modules extend this trait; the
  * [[SparkEntry]] object mixes them all and aggregates their
  * `queries`/`oracleSql` chunks.
  */
private[graft] trait EntryInfra {

  /** The injected clock for F8 auto-touch stamps (mergeUpdates):
    * both the Spark query and its oracle SQL derive their literal
    * from THIS one constant, so the stamp is oracled without wall-
    * clock nondeterminism. A production caller passes real time.
    */
  val mergeClock: java.time.Instant = java.time.Instant.ofEpochSecond(1700000000L)
  protected val mergeClockIso: String =
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(mergeClock)

  // scratch IVF indexes already written by this JVM (keyed by path)
  protected val ivfIndexBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Execute a query eagerly with adaptive execution DISABLED, then
    * restore the conf. For short sequential pipelines of tiny
    * pre-sized stages — the bounded-increment probe, the
    * vocabulary-round BPE trainer — AQE's per-stage re-planning is
    * pure overhead (measured 2.0×/1.3× at sf0.1, `tools.ProfileAqe`),
    * and its scale benefits don't apply: the batch is bounded by
    * contract, skew is handled by the explicit bucket-size cap, and
    * every join is an explicit broadcast. The iterative GRAPH queries
    * keep AQE — there it coalesces the tiny per-round frames and wins
    * (components_star 1.7× faster WITH it). The result materializes
    * inside this call (bounded by the query's output contract), so
    * the conf flip never leaks to LATER queries.
    *
    * SINGLE-THREADED-SESSION ASSUMPTION: the flip is session-global
    * (spark.sql.adaptive.enabled is one SQLConf entry), and the
    * synchronized block only serializes OTHER withAqeOff callers — a
    * query planned CONCURRENTLY on the same session (a parallel test,
    * a live streaming micro-batch) would silently plan without AQE
    * during the window. Every caller here runs on the sequential
    * Verify/Bench session, and the spec suites never run a stream
    * concurrently with a wrapped query on a shared session; a caller
    * that needs concurrent planning should clone the session
    * (newSession shares state but has its own SQLConf) and route the
    * wrapped build through the clone instead.
    *
    * The assumption is ENFORCED, not just documented: every
    * concurrent-branch composition here routes its Future through
    * [[concurrentBranch]], and the two sides assert mutual
    * exclusion — a future composition mixing a branch with a wrapped
    * build fails loudly at build time instead of silently planning
    * the branch without AQE.
    */
  // Both counters mutate ONLY under this lock, so the check-and-
  // increment on each side is atomic with respect to the other —
  // two threads can't each pass the other's require before either
  // increments (the interleaving a bare AtomicInteger pair allows).
  private val branchStateLock = new Object
  private var aqeOffWindows = 0
  private var planningBranches = 0

  /** Plan-and-materialize `body` on a second thread, concurrently with
    * the caller's own jobs — the shared shape of the q_curation_*
    * compositions (concurrent job submission on one session is the
    * supported Spark pattern for independent DAG branches). Registers
    * the branch so [[withAqeOff]] refuses to flip the session-global
    * conf while any branch might still be planning.
    */
  protected def concurrentBranch[T](body: => T): scala.concurrent.Future[T] = {
    branchStateLock.synchronized {
      require(aqeOffWindows == 0,
        "concurrentBranch started inside a withAqeOff window — the " +
          "branch would plan without AQE; sequence them or clone the session")
      planningBranches += 1
    }
    scala.concurrent.Future {
      try body
      finally branchStateLock.synchronized { planningBranches -= 1 }
    }(scala.concurrent.ExecutionContext.global)
  }

  protected def withAqeOff(s: SparkSession)(build: => DataFrame): DataFrame =
    // serialized per session: two concurrent wrapped builds could
    // otherwise interleave get/set and restore the wrong value,
    // leaving AQE off for every later (graph) query on the session
    s.synchronized {
      branchStateLock.synchronized {
        require(planningBranches == 0,
          "withAqeOff entered while a concurrentBranch is in flight — " +
            "the branch would plan without AQE; await it first or route " +
            "the wrapped build through s.newSession()")
        aqeOffWindows += 1
      }
      val key = "spark.sql.adaptive.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "false")
      try graft.Artifacts.checkpoint(build)
      finally {
        // restore BEFORE decrementing: a concurrentBranch admitted the
        // instant aqeOffWindows hits 0 must see AQE already back on —
        // the reverse order leaves a gap where the branch plans with
        // AQE still disabled
        s.conf.set(key, prev)
        branchStateLock.synchronized { aqeOffWindows -= 1 }
      }
    }

  /** The corpus dir of the most recent query invocation — generated
    * oracles (codebooks, centroids, rotations as literals) key their
    * caches by it; None-until-run lifecycle per the pqCbCache
    * convention.
    */
  @volatile protected var lastOracleDir: String = null

  /** Session-scoped memoization of tiny driver-side artifacts that
    * queries would otherwise re-collect on EVERY invocation — the 16
    * seed centroids and the vec-0 query vector are one ~50 ms Spark
    * job each, pure orchestration floor (VERDICT r4 #6). Zero plan
    * changes: the collects just run once per (session, corpus) and
    * evict with the session like the resolved-relation cache.
    */
  private val seedCentCache = SessionCaches.memo[Seq[Seq[Double]]]()
  private val queryVecCache = SessionCaches.memo[Vector[Double]]()

  protected def seedCents16(s: SparkSession, d: String): Seq[Seq[Double]] =
    seedCentCache(s, d)(
      graft.similarity.Similarity.seedCentroids(Tables.embeddings(s, d), 16))
  protected def queryVec0(s: SparkSession, d: String): Vector[Double] =
    queryVecCache(s, d)(
      Tables.embeddings(s, d).filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toVector)

  /** The shared 5-query batch every batched-serving entry uses —
    * bounded driver collect (5 rows), sorted by id for determinism.
    */
  protected def multiQueryVecs(s: SparkSession,
      d: String): Seq[(Long, Seq[Double])] =
    Tables.embeddings(s, d)
      .filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Double](1).toVector: Seq[Double]))
      .sortBy(_._1).toSeq

  /** The SAME 5-query batch as a query TABLE — no driver collect at
    * all: the query-table serving paths read ids and vectors straight
    * from the corpus frame (the 100 TB shape, where the serve batch
    * arrives as a DataFrame).
    */
  protected def multiQueryFrame(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** One build-once scratch index per (prefix, corpus path): the
    * keying scheme — md5 of the FULL path + the pid — lives here only,
    * so the collision-resistance and cross-process-isolation rationale
    * can never drift between the float and quantized index variants.
    * No other process can reuse a pid-keyed dir, so each one is deleted
    * when this JVM exits (registered once, at build time).
    */
  protected def builtIndexDir(prefix: String, d: String)(
      write: String => Unit): String = {
    val pathDigest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"${prefix}_${pathDigest}_${ProcessHandle.current().pid()}").getPath
    ivfIndexBuilt.computeIfAbsent(dir, p => {
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      write(p)
      p
    })
    dir
  }

  /** [[builtIndexDir]] for CATALOG-table artifacts — the bucketed
    * layouts ([[graft.ops.BucketedTables]]) live in the session
    * catalog, not at a bare path, so the build-once cache keys the
    * TABLE NAME (same digest+pid scheme; catalog names allow only
    * word characters, which the scheme already satisfies).
    */
  protected def builtTable(prefix: String, d: String)(
      write: String => Unit): String = {
    val pathDigest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val table = s"${prefix}_${pathDigest}_${ProcessHandle.current().pid()}"
    ivfIndexBuilt.computeIfAbsent("table:" + table, _ => { write(table); table })
    table
  }
}
