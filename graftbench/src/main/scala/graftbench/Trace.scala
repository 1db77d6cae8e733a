package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** One timed call into a layer. Times are `System.nanoTime`; `parent`
  * is the enclosing span's id, or -1 at the top.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** What the Spark scheduler did for one span's jobs. */
final case class JobStats(jobs: Int, stages: Int, tasks: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, peakExecMem: Long,
    busyMs: Double)

/** Spans around the benchmark's calls into the engine, plus a
  * SparkListener that files every job under the span that submitted
  * it (a thread-local job property). Everything stays in memory until
  * [[write]] at the end of the run. With `enabled = false` a span is a
  * plain call and no listener is registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "graftbench.span"
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 0

  private final class Job(val span: Int, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class Stage {
    var tasks = 0L; var read = 0L; var write = 0L; var spill = 0L; var peak = 0L
    var completed = false
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new Job(span, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.computeIfAbsent(e.stageInfo.stageId, _ => new Stage).completed = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new Stage)
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.read += m.shuffleReadMetrics.totalBytesRead
          s.write += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peak = math.max(s.peak, m.peakExecutionMemory)
        }
      }
  }
  private var active = false

  /** Start or stop recording. A traced run alternates active and
    * inactive rounds, and the ratio of their times is the tracing
    * overhead.
    */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    active = on
  }
  setActive(enabled)
  def isActive: Boolean = active

  /** Id of the innermost open span, or -1. */
  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  /** Run `body` inside a span named `name`. */
  def apply[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, System.nanoTime()) :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val (_, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, start, System.nanoTime())
        sc.setLocalProperty(SpanKey, stack.headOption.map(_._1.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Block until the listener bus has delivered every event posted so
    * far: a marker job is submitted last, and its end event arrives
    * after all earlier ones.
    */
  def drain(): Unit = if (active) {
    val marker = -2
    spark.sparkContext.setLocalProperty(SpanKey, marker.toString)
    spark.range(1).count()
    spark.sparkContext.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    def markerEnded = jobs.values.asScala.exists(j => j.span == marker && j.end >= 0)
    while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerEnded, "listener bus did not drain within 60 s")
  }

  /** Scheduler totals over the jobs submitted inside the given spans
    * (children included: a job carries its innermost span's id).
    */
  def jobStats(spanIds: Set[Int]): JobStats = {
    val mine = jobs.asScala.collect { case (id, j) if spanIds(j.span) => id -> j }
    val stageIds = mine.values.flatMap(_.stages).toSet
    val st = stageIds.toSeq.flatMap(s => Option(stages.get(s)))
    // busy time = union of the jobs' [start, end] intervals
    val intervals = mine.values.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    JobStats(mine.size, st.count(_.completed), st.map(_.tasks).sum,
      st.map(_.read).sum, st.map(_.write).sum, st.map(_.spill).sum,
      if (st.isEmpty) 0L else st.map(_.peak).max, busy.toDouble)
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = done.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(_.id).toSet.flatMap(walk) + id
    walk(root)
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover, summed by span name.
    */
  def selfTimeMs: Map[String, Double] = {
    val kids = done.groupBy(_.parent)
    done.toSeq.groupMapReduce(_.name) { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      (s.end - s.start - covered) / 1e6
    }(_ + _)
  }

  /** Write every span (with its parent) and the per-name self times. */
  def write(path: String): Unit = {
    val t0 = if (done.isEmpty) 0L else done.map(_.start).min
    val spanJson = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${(s.start - t0) / 1e6},"end_ms":${(s.end - t0) / 1e6}}"""
    }.mkString("[", ",\n", "]")
    val self = selfTimeMs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"self_ms":$self,\n"spans":$spanJson}\n""")
  }
}

/** Operator counts in the final adaptive plan of an executed query. */
final case class PlanCounts(exchanges: Int, broadcasts: Int, sortMergeJoins: Int, scans: Int)

object PlanCounts {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil // counted once, where it was built
      case o => o.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): PlanCounts = {
    val all = nodes(plan)
    PlanCounts(
      all.count(_.isInstanceOf[ShuffleExchangeExec]),
      all.count(_.isInstanceOf[BroadcastExchangeExec]),
      all.count(_.isInstanceOf[SortMergeJoinExec]),
      all.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]))
  }

  /** A file-scan SQL metric summed over every file scan that fed the
    * plan, including the scans that filled the caches it reads. A
    * cache read twice in one plan is counted once.
    */
  def scanMetric(plan: SparkPlan, name: String): Long = {
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      if (seen.put(p, ()) != null) Nil
      else {
        val below = p match {
          case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        (p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }) ++
          (below ++ p.subqueries).flatMap(scans)
      }
    scans(plan).flatMap(_.metrics.get(name)).map(_.value).sum
  }
}

/** Every per-layer metric, in report order. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "entry.construct_ms" -> "ms", "entry.construct_jobs" -> "count",
    "spark.action_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_mb" -> "MB", "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s",
    "plan.exchanges" -> "count", "plan.broadcasts" -> "count",
    "plan.sort_merge_joins" -> "count", "plan.scans" -> "count") ++
    BatchRounds.graph.flatMap(q => Seq(s"graph.$q.construct_ms" -> "ms",
      s"graph.$q.jobs" -> "count", s"graph.$q.driver_gap_s" -> "s")) ++ Seq(
    "cdc.decode_ms" -> "ms", "cdc.kept_ratio" -> "ratio",
    "quality.enrich_ms" -> "ms", "quality.valid_ratio" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_in" -> "count",
    "streaming.batch_ms" -> "ms", "index.lookup_ms" -> "ms", "ops.search_ms" -> "ms",
    "index.buckets_rewritten_per_batch" -> "count", "index.bytes_written_per_row" -> "bytes",
    "index.rows" -> "count", "index.files" -> "count", "index.files_read_per_lookup" -> "count",
    "search.rows_scanned_per_result" -> "ratio",
    "jvm.gc_s" -> "s", "lifecycle.persisted_rdds_after_query" -> "count",
    "trace.overhead_ratio" -> "ratio")

  /** Every per-layer metric a workload does not exercise reads 0. */
  def fill(res: Result): Unit = all.foreach { case (name, unit) =>
    if (!res.metrics.contains(name)) res.put(name, 0.0, unit)
  }
}
