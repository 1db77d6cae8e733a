package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps main on one execution path per native expression and one
  * session factory: the registration check lives only beside the
  * function table (GraftFunctions.call registers on demand), and a
  * session is built only in graft.Sessions.
  */
class OnePathSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def filesMentioning(token: String): Seq[String] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(token))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally files.close()
  }

  test("isRegistered( appears only in plans/CosineSimilarity.scala") {
    assert(filesMentioning("isRegistered(") ===
      Seq("graft/plans/CosineSimilarity.scala"))
  }

  test("SparkSession.builder appears only in Sessions.scala") {
    assert(filesMentioning("SparkSession.builder") ===
      Seq("graft/Sessions.scala"))
  }
}
