package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps main on one execution path per native expression, one
  * session factory and one profiler: the registration check lives only
  * beside the function table (GraftFunctions.call registers on demand),
  * a session is built only in graft.Sessions, and graft.tools.Profile is
  * the only job collector.
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

  private def mainSources: Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
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

  // one profiler: the dev mains are Profile and the two fixture generators
  private val tools = root.resolve("graft/tools")

  test("graft/tools holds only Profile, ScaleUp and ScaleUpMedia") {
    val files = Files.list(tools)
    try assert(files.iterator.asScala.map(_.getFileName.toString).toSeq.sorted ===
      Seq("Profile.scala", "ScaleUp.scala", "ScaleUpMedia.scala"))
    finally files.close()
  }

  test("SparkListener appears only in SessionCaches.scala and tools/Profile.scala") {
    assert(filesMentioning("SparkListener") ===
      Seq("graft/SessionCaches.scala", "graft/tools/Profile.scala"))
  }

  test("no Thread.sleep under graft/tools") {
    assert(!filesMentioning("Thread.sleep").exists(_.startsWith("graft/tools/")))
  }

  // the streaming layer: one sink scaffold, one batch-partition writer
  private lazy val pipelines =
    Files.readString(root.resolve("graft/streaming/Pipelines.scala"))

  private def count(text: String, token: String): Int =
    java.util.regex.Pattern.quote(token).r.findAllMatchIn(text).size

  /** The source of one member of Pipelines: from its `def` line to the
    * next member or doc comment at the object's indentation.
    */
  private def member(name: String): String = {
    val start = pipelines.indexOf(s"def $name(")
    assert(start >= 0, s"no def $name in Pipelines.scala")
    val next = "\n  (?:private |/\\*\\*|def |val |@)".r
      .findFirstMatchIn(pipelines.substring(start)).map(_.start)
      .getOrElse(pipelines.length - start)
    pipelines.substring(start, start + next)
  }

  test("Pipelines.scala starts every stream in one scaffold") {
    assert(count(pipelines, ".writeStream") === 1)
    assert(count(member("startSink"), ".writeStream") === 1)
  }

  test("Pipelines.scala dynamic-overwrites in the batch writer and the " +
      "retention fold only") {
    assert(count(pipelines, "partitionOverwriteMode") === 2)
    assert(count(member("writeBatchPartition"), "partitionOverwriteMode") === 1)
    assert(count(member("compactBatchOutputKeeping"),
      "partitionOverwriteMode") === 1)
  }

  test("StreamingQueryListener appears only inside the sink scaffold") {
    val inScaffold = count(member("startSink"), "StreamingQueryListener")
    assert(inScaffold > 0)
    assert(count(pipelines, "StreamingQueryListener") === inScaffold)
  }

  // the vector stores: one store over a codec, one literal/query-table
  // selection, one ingest write per codec-generic sink
  test("no per-store vector-index def remains in main") {
    val perStore = ("def (ivf|quantized|pq|residualPq)\\w*(AssignedForWrite|" +
      "TopKFromIndex|MultiTopKFromIndex\\w*|TopKRefined)").r
    val found = mainSources.flatMap { case (f, text) =>
      perStore.findAllIn(text).map(d => s"$f: $d")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("batchedServeLiteralMaxQ appears nowhere in main") {
    assert(filesMentioning("batchedServeLiteralMaxQ").isEmpty)
  }

  test("Pipelines.scala writes cell partitions through " +
      "writeBatchPartition once") {
    val cellWrites = "writeBatchPartition\\((?:[^()]|\\([^()]*\\))*\"cell\"".r
    assert(cellWrites.findAllIn(pipelines).size === 1)
  }

  // one owner for every materialized frame
  test("unpersist( appears in main only in Artifacts.scala") {
    assert(filesMentioning("unpersist(") === Seq("graft/Artifacts.scala"))
  }

  test("the replaced release helpers are gone") {
    Seq("def freeLocalCheckpoint", "def releaseArtifact",
        "def releaseOnFirstAction").foreach { d =>
      assert(filesMentioning(d).isEmpty, d)
    }
  }

  test("main implements QueryExecutionListener once") {
    val impls = mainSources.map { case (_, text) =>
      "QueryExecutionListener\\s*\\{".r.findAllIn(text).size
    }.sum
    assert(impls === 1)
  }

  // the product cache: CacheOps.snapshot is the reference's TTL cache
  private val materializeAllowed = Map("graft/ops/CacheOps.scala" -> 1)

  test("localCheckpoint( and .persist() appear outside Artifacts.scala " +
      "only at the allow-list") {
    val found = mainSources.collect {
      case (f, text) if f != "graft/Artifacts.scala" &&
          count(text, "localCheckpoint(") + count(text, ".persist()") > 0 =>
        f -> (count(text, "localCheckpoint(") + count(text, ".persist()"))
    }.toMap
    assert(found === materializeAllowed)
  }
}
