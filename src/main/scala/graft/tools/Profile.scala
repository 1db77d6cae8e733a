package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.{Bench, Sessions, SparkEntry}

/** One Spark job of a profiled query: the phase that submitted it, its
  * wall time and its call site (stage name | first engine frame).
  */
final case class ProfiledJob(id: Int, phase: String, ms: Double, site: String)

/** What one query cost, phase by phase. Times are the minimum over the
  * passes; job counts, the job table, the plan counts and the plans come
  * from the last pass.
  */
final case class QueryProfile(query: String,
    constructMs: Double, constructJobs: Int,
    planMs: Double, planJobs: Int,
    actionMs: Double, actionJobs: Int, actionBusyMs: Double,
    jobs: Seq[ProfiledJob],
    exchanges: Int, broadcasts: Int, sortMergeJoins: Int,
    initialPlan: String, finalPlan: String)

/** The engine's profiler. It runs named `SparkEntry.queries` the way
  * Bench times them: one untimed warmup at the sf0.001 sibling
  * ([[Bench.warmUp]]), then [[Passes]] interleaved passes that clear the
  * cache after each query. Each run splits into three phases:
  * construct (the entry call), plan (optimized plus physical planning)
  * and action (`count`). Every job is filed under the phase that
  * submitted it through a thread-local job property, and the listener
  * bus is drained before a pass's jobs are read.
  *
  * Usage: `runMain graft.tools.Profile [q_a,q_b] [sfDir]`. With no names
  * it profiles every query; `sfDir` defaults to `SPARK_GRAFT_SF_DIR`.
  * Prints one JSON line per query, then `{"failed":[...]}`.
  */
object Profile {
  private val Passes = 3
  private val PhaseKey = "graft.profile.phase"

  private final class Job(val run: Int, val phase: String, val start: Long, val site: String) {
    @volatile var end = -1L
  }

  /** Files every job that carries a `run:phase` tag under that tag. */
  private final class Collector extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach { tag =>
        val Array(run, phase) = tag.split(":")
        jobs.put(e.jobId, new Job(run.toInt, phase, e.time, site(e)))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    /** Remove and return the jobs of one run, by job id. */
    def take(run: Int): Seq[(Int, Job)] = {
      val mine = jobs.asScala.toSeq.filter(_._2.run == run).sortBy(_._1)
      mine.foreach { case (id, _) => jobs.remove(id) }
      mine
    }
  }

  /** The stage name and the first `graft.*` frame outside `graft.tools`
    * of the job's last stage: the engine line that submitted it.
    */
  private def site(e: SparkListenerJobStart): String =
    e.stageInfos.lastOption.map { s =>
      val frame = s.details.split("\n")
        .find(f => f.contains("graft.") && !f.contains("graft.tools")).getOrElse("")
      s.name.takeWhile(_ != '\n').take(50) + " | " + frame.trim.take(80)
    }.getOrElse("?")

  /** Wall time covered by the union of the jobs' [start, end] intervals. */
  private def busyMs(jobs: Seq[Job]): Double =
    jobs.filter(_.end >= 0).sortBy(_.start).foldLeft((0L, Long.MinValue)) {
      case ((busy, reach), j) =>
        (busy + math.max(0L, j.end - math.max(j.start, reach)), math.max(reach, j.end))
    }._1.toDouble

  /** Every node of an executed plan, through adaptive wrappers and query
    * stages; a reused exchange counts once, where it was built.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  private def timed[T](sc: SparkContext, tag: String)(body: => T): (T, Double) = {
    sc.setLocalProperty(PhaseKey, tag)
    val t0 = System.nanoTime()
    try { val r = body; (r, (System.nanoTime() - t0) / 1e6) }
    finally sc.setLocalProperty(PhaseKey, null)
  }

  /** One run of one query, profiled on its own. */
  private def profileOnce(spark: SparkSession, collector: Collector, run: Int,
      name: String, query: (SparkSession, String) => DataFrame,
      sfDir: String): Try[QueryProfile] = {
    val sc = spark.sparkContext
    val result = Try {
      val (df, constructMs) = timed(sc, s"$run:construct")(query(spark, sfDir))
      val (_, planMs) = timed(sc, s"$run:plan") {
        df.queryExecution.optimizedPlan
        df.queryExecution.executedPlan
      }
      val (counted, actionMs) = timed(sc, s"$run:action") {
        val c = df.groupBy().count()
        c.collect()
        c
      }
      (df, counted.queryExecution.executedPlan, constructMs, planMs, actionMs)
    }
    GraftListenerBus.drain(sc)
    val jobs = collector.take(run)
    result.map { case (df, finalPlan, constructMs, planMs, actionMs) =>
      def of(phase: String) = jobs.map(_._2).filter(_.phase == phase)
      val all = nodes(finalPlan)
      QueryProfile(name, constructMs, of("construct").size, planMs, of("plan").size,
        actionMs, of("action").size, busyMs(of("action")),
        jobs.map { case (id, j) =>
          ProfiledJob(id, j.phase, if (j.end >= 0) (j.end - j.start).toDouble else -1.0, j.site)
        },
        all.count(_.isInstanceOf[ShuffleExchangeLike]),
        all.count(_.isInstanceOf[BroadcastExchangeLike]),
        all.count(_.isInstanceOf[SortMergeJoinExec]),
        df.queryExecution.explainString(FormattedMode), finalPlan.toString)
    }
  }

  /** Profile `names` at `sfDir`. Returns one record per query that ran
    * in every pass, and the names of the queries that threw; a query
    * that throws in any pass gets no record.
    */
  def run(spark: SparkSession, names: Seq[String],
      sfDir: String): (Seq[QueryProfile], Seq[String]) = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val warmFailures = Bench.warmUp(spark, names.map(all), sfDir)
    if (warmFailures > 0)
      System.err.println(s"[profile] warmup: $warmFailures/${names.size} queries " +
        s"failed against ${Bench.warmDir(sfDir)}")
    val sc = spark.sparkContext
    val collector = new Collector
    sc.addSparkListener(collector)
    // the last pass's record, with each time the minimum over the passes
    var best = Map.empty[String, Try[QueryProfile]]
    try for (pass <- 0 until Passes; (name, i) <- names.zipWithIndex) {
      val run = pass * names.size + i
      val now = try profileOnce(spark, collector, run, name, all(name), sfDir)
        finally spark.catalog.clearCache()
      best = best.updated(name, best.get(name).fold(now)(prev => for (p <- prev; c <- now)
        yield c.copy(constructMs = p.constructMs.min(c.constructMs),
          planMs = p.planMs.min(c.planMs), actionMs = p.actionMs.min(c.actionMs),
          actionBusyMs = p.actionBusyMs.min(c.actionBusyMs))))
    } finally {
      GraftListenerBus.drain(sc)
      sc.removeSparkListener(collector)
    }
    names.foreach(n => best(n).failed.foreach(e =>
      System.err.println(s"[profile] $n failed: $e")))
    (names.flatMap(best(_).toOption), names.filter(best(_).isFailure))
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  def main(args: Array[String]): Unit = {
    // query names never contain '/', a directory always does
    val (nameArg, dirArg) = args.toSeq match {
      case Seq(dir) if dir.contains('/') => (None, Some(dir))
      case a => (a.headOption, a.lift(1))
    }
    val names = nameArg.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val sfDir = dirArg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      sys.error("usage: graft.tools.Profile [q_a,q_b] sfDir (or set SPARK_GRAFT_SF_DIR)"))
    val spark = Sessions.local(Sessions.cpus)
    try {
      val (profiles, failed) = run(spark, names, sfDir)
      profiles.foreach(p => println(json.writeValueAsString(p)))
      println(json.writeValueAsString(Map("failed" -> failed)))
    } finally spark.stop()
  }
}
