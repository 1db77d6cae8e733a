package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
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
