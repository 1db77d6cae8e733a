package graft

import java.nio.file.{Files, Path}

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one lazy SparkSession per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  // one scratch root per suite, created on first use
  private var tempRoot: Option[Path] = None

  /** A fresh directory under this suite's scratch root; `afterAll`
    * deletes the root, so a suite leaves nothing behind in the temp dir.
    */
  def tempDir(prefix: String): String = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  /** Jobs started, and the task count of each stage that ran, while
    * `body` runs.
    */
  final class JobLog extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTasks.add(e.stageInfo.numTasks)
  }

  def logJobs[T](body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    GraftListenerBus.drain(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val r = body
      GraftListenerBus.drain(sc)
      (r, log)
    } finally sc.removeSparkListener(log)
  }

  /** Runs `body` from an empty CacheManager and asserts it left no
    * CacheManager entry and no new persisted RDD behind (RDDs persisted
    * outside the CacheManager are counted relative to before).
    */
  def assertNoCacheLeft[T](body: => T): T = {
    spark.catalog.clearCache()
    val persisted = persistedRddIds
    val out = body
    assert(spark.sharedState.cacheManager.isEmpty,
      "left a CacheManager entry behind")
    val leaked = persistedRddIds -- persisted
    assert(leaked.isEmpty, s"left persisted RDDs behind: $leaked")
    out
  }

  /** Ids of the RDDs Spark currently holds persisted. */
  def persistedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the RDDs behind `df`'s materialized (LogicalRDD) leaves:
    * the checkpoints and row caches its plan reads.
    */
  def leafRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  override def afterAll(): Unit =
    try tempRoot.foreach { root =>
      // a query still running would keep writing under the root
      spark.streams.active.foreach(_.stop())
      SparkSpec.deleteRecursively(root)
      tempRoot = None
    } finally super.afterAll()
}

object SparkSpec {
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally all.close()
    }

  // One session for the whole test JVM (Test/fork := true): suites
  // share it instead of churning contexts.
  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(scala.util.Try(deleteRecursively(warehouse)))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(s)
    s
  }
}
