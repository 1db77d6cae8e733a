package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry

/** One timed query: construct = inside `fn(spark, dir)`, action = the
  * full materialization of its output.
  */
final case class QuerySample(query: String, constructMs: Double, actionMs: Double) {
  def ms: Double = constructMs + actionMs
}

/** What the trace recorded for one query of an active round: span
  * ids, resolved into scheduler totals once the listener has drained.
  */
final case class QueryTrace(query: String, constructSpan: Int, constructMs: Double,
    actionSpan: Int, actionMs: Double, plan: PlanCounts, persistedAfter: Int)

/** `batch_mix`: rounds over the graph line and the catalog lines, in
  * a seeded order per round. Each query's output is digested and
  * compared with the stored digest; a query that throws or mismatches
  * counts as failed and is never timed.
  */
object BatchRounds {
  val graph = Seq("q_kcore")
  // seven of the nine entry families (the graph line is above); see
  // NOTES.md for why each line is here
  val catalog = Seq("q_cdc_pipeline", "q_scalar_funcs", "q_search_bm25_indexed",
    "q_ann_ivf_indexed", "q_dedup_recall", "q_memorization", "q_dsir_weights",
    "q_mix_temperature", "q_audio_real")
  val queries: Seq[String] = graph ++ catalog
  /** A run does ceil(seconds / RoundSeconds) rounds, a count fixed
    * before it starts (never a time-boxed loop): three at 18 s.
    */
  val RoundSeconds = 6.0

  /** Stored digests, one `name<TAB>rows:hash` line per query. */
  def loadDigests(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  /** Run and check one query. Returns the sample, or None when it
    * threw or its output digest differs from the stored one.
    */
  private def runQuery(ctx: Ctx, q: String, expected: Map[String, String],
      traces: mutable.Buffer[QueryTrace]): Option[QuerySample] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    ctx.result.attempted += 1
    var constructSpan = -1
    var actionSpan = -1
    val out = try tr(s"query.$q") {
      val t0 = System.nanoTime()
      val df = tr("entry.construct") {
        constructSpan = tr.current
        SparkEntry.queries(q)(spark, ctx.data)
      }
      val t1 = System.nanoTime()
      val digest = tr("spark.action") { actionSpan = tr.current; Digest(df) }
      val t2 = System.nanoTime()
      if (expected.get(q).contains(digest))
        Some((QuerySample(q, (t1 - t0) / 1e6, (t2 - t1) / 1e6),
          if (tr.isActive) PlanCounts.of(df.queryExecution.executedPlan) else null))
      else {
        ctx.result.failed += 1
        ctx.result.fail(s"$q output digest $digest, stored ${expected.getOrElse(q, "none")}")
        None
      }
    } catch {
      case NonFatal(e) =>
        ctx.result.failed += 1
        ctx.result.fail(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    // queries persist intermediates; drop them so later timings don't
    // pay earlier queries' memory pressure (what graft.Bench does)
    spark.catalog.clearCache()
    out.map { case (sample, plan) =>
      if (tr.isActive)
        traces += QueryTrace(q, constructSpan, sample.constructMs, actionSpan,
          sample.actionMs, plan, spark.sparkContext.getPersistentRDDs.size)
      sample
    }
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val expected = loadDigests(sys.props("graftbench.digests"))
    val res = ctx.result
    val tr = ctx.tracer
    // set-up: one untimed, checked round at the measured scale, so
    // build-once indexes, codegen and the relation cache are ready
    tr.setActive(false)
    val t0 = System.nanoTime()
    val warmMs = queries.map { q =>
      val q0 = System.nanoTime()
      runQuery(ctx, q, expected, mutable.Buffer.empty)
      f"$q=${(System.nanoTime() - q0) / 1e6}%.0f"
    }
    System.err.println(s"[graftbench] warm round ${warmMs.mkString(" ")}")
    val warmS = (System.nanoTime() - t0) / 1e9
    if (!tr.enabled) res.put("setup_s", sessionS + warmS, "s")

    val rng = new scala.util.Random(ctx.seed)
    val planned = math.max(1, math.ceil(ctx.seconds / RoundSeconds).toInt)
    // a traced run alternates untraced and traced rounds, starting and
    // ending untraced, so it needs an odd count of at least three
    val rounds = if (tr.enabled) math.max(3, planned | 1) else planned
    val samples = mutable.ArrayBuffer.empty[QuerySample]
    val roundMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val traces = mutable.ArrayBuffer.empty[QueryTrace]
    val gc0 = Main.gcSeconds
    val cpu0 = Main.cpuSeconds
    for (r <- 0 until rounds) {
      tr.setActive(tr.enabled && r % 2 == 1)
      val order = rng.shuffle(queries)
      val failedBefore = res.failed
      val rt0 = System.nanoTime()
      val got = tr(s"round") { order.flatMap(q => runQuery(ctx, q, expected, traces)) }
      val ms = (System.nanoTime() - rt0) / 1e6
      samples ++= got
      // a round with a failed query is not a round time
      if (res.failed == failedBefore) roundMs += ((tr.isActive, ms))
    }
    val gcS = Main.gcSeconds - gc0
    val cpuS = Main.cpuSeconds - cpu0
    tr.setActive(tr.enabled)
    tr.drain()
    val heapMb = Main.heapAfterGcMb()

    val medians = samples.groupBy(_.query).toSeq.sortBy(_._1)
      .map { case (q, s) => f"$q=${Stats.median(s.map(_.ms).toSeq)}%.0f" }
    println(f"[graftbench] batch_mix session_s=$sessionS%.2f warm_s=$warmS%.2f " +
      f"measured_cpu_s=$cpuS%.1f measured_gc_s=$gcS%.2f rounds_ms=" +
      roundMs.map(r => f"${r._2}%.0f").mkString(",") + " " + medians.mkString(" "))
    if (!tr.enabled) {
      val untraced = roundMs.map(_._2).toSeq
      if (untraced.nonEmpty) res.put("suite_s", Stats.median(untraced) / 1e3, "s")
      else res.fail("no round completed without a failure")
      val perQuery = samples.groupBy(_.query).values.map(s => Stats.median(s.map(_.ms).toSeq))
      if (perQuery.size == queries.size)
        res.put("query_geomean_ms", Stats.geomean(perQuery.toSeq), "ms")
      else res.fail("some query never completed")
      res.put("driver_heap_mb", heapMb, "MB")
    } else layerMetrics(ctx, traces.toSeq, roundMs.toSeq, gcS)
  }

  private final case class Resolved(t: QueryTrace, construct: JobStats, action: JobStats)

  /** Per-layer metrics of a traced run, each a total per traced round. */
  private def layerMetrics(ctx: Ctx, traces: Seq[QueryTrace],
      roundMs: Seq[(Boolean, Double)], gcS: Double): Unit = {
    val tr = ctx.tracer
    val res = ctx.result
    val nRounds = math.max(1, roundMs.count(_._1)).toDouble
    val full = traces.map(t => Resolved(t, tr.jobStats(tr.subtree(t.constructSpan)),
      tr.jobStats(tr.subtree(t.actionSpan))))
    def per(f: Resolved => Double): Double = full.map(f).sum / nRounds
    res.put("entry.construct_ms", per(_.t.constructMs), "ms")
    res.put("entry.construct_jobs", per(_.construct.jobs), "count")
    res.put("spark.action_ms", per(_.t.actionMs), "ms")
    res.put("spark.jobs", per(_.action.jobs), "count")
    res.put("spark.stages", per(_.action.stages), "count")
    res.put("spark.tasks", per(_.action.tasks), "count")
    res.put("spark.shuffle_read_bytes", per(_.action.shuffleRead), "bytes")
    res.put("spark.shuffle_write_bytes", per(_.action.shuffleWrite), "bytes")
    res.put("spark.spill_bytes", per(_.action.spill), "bytes")
    res.put("spark.peak_exec_mem_mb",
      if (full.isEmpty) 0.0 else full.map(_.action.peakExecMem).max / 1048576.0, "MB")
    res.put("spark.job_busy_s", per(_.action.busyMs) / 1e3, "s")
    res.put("spark.driver_gap_s", per(r => r.t.actionMs - r.action.busyMs) / 1e3, "s")
    res.put("plan.exchanges", per(_.t.plan.exchanges), "count")
    res.put("plan.broadcasts", per(_.t.plan.broadcasts), "count")
    res.put("plan.sort_merge_joins", per(_.t.plan.sortMergeJoins), "count")
    res.put("plan.scans", per(_.t.plan.scans), "count")
    graph.foreach { q =>
      val mine = full.filter(_.t.query == q)
      val n = math.max(1, mine.size).toDouble
      res.put(s"graph.$q.construct_ms", mine.map(_.t.constructMs).sum / n, "ms")
      res.put(s"graph.$q.jobs",
        mine.map(r => r.construct.jobs + r.action.jobs).sum / n, "count")
      res.put(s"graph.$q.driver_gap_s", mine.map(r =>
        r.t.constructMs + r.t.actionMs - r.construct.busyMs - r.action.busyMs).sum / n / 1e3, "s")
    }
    res.put("jvm.gc_s", gcS, "s")
    res.put("lifecycle.persisted_rdds_after_query", per(_.t.persistedAfter), "count")
    res.put("trace.overhead_ratio", Stats.overheadRatio(roundMs), "ratio")
    Layers.fill(res)
  }

  /** A few cheap catalog lines, unchecked: enough to load the classes
    * the batch workload needs.
    */
  def train(ctx: Ctx): Unit =
    Seq("q_cdc_pipeline", "q_scalar_funcs", "q_dsir_weights", "q_ann_ivf_indexed").foreach { q =>
      Digest(SparkEntry.queries(q)(ctx.spark, ctx.data))
      ctx.spark.catalog.clearCache()
    }

  /** Print the digest of every query `batch_mix` times, running
    * each twice: a query whose two digests differ is not deterministic
    * enough to gate on, and is reported instead of printed.
    */
  def recordDigests(ctx: Ctx): Unit = {
    val first = queries.map(q => q -> Digest(SparkEntry.queries(q)(ctx.spark, ctx.data)))
    ctx.spark.catalog.clearCache()
    first.foreach { case (q, d) =>
      val again = Digest(SparkEntry.queries(q)(ctx.spark, ctx.data))
      ctx.spark.catalog.clearCache()
      if (again == d) println(s"$q\t$d")
      else System.err.println(s"[graftbench] $q is not deterministic: $d then $again")
    }
  }

  /** Print the digest of each query's parquet dump written by
    * `graft.Verify` (one directory per query under `ctx.data`): the
    * output that the DuckDB oracle check compared.
    */
  def digestDumps(ctx: Ctx): Unit =
    queries.foreach { q =>
      println(s"$q\t${Digest(ctx.spark.read.parquet(s"${ctx.data}/$q"))}")
    }
}
