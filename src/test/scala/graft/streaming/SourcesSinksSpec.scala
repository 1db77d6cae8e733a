package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SURVEY §2.1 source/sink shapes: S4/S5 append writes, S9 Kafka JSON
  * sink projection, S11/S12 blob put/get, J2 stream-static
  * enrichment join, ST8 fan-out.
  */
class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  test("S4/S5: append write accumulates rows") {
    val dir = tempDir("graft-append") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("S11/S12: blob put + binaryFile get") {
    val dir = Paths.get(tempDir("graft-blob"))
    val f = dir.resolve("42/content")
    Files.createDirectories(f.getParent)
    Files.write(f, "blob bytes here".getBytes)
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "content")
      .option("recursiveFileLookup", "true")
      .load(dir.toString)
    val r = blobs.select($"path", $"content").head
    assert(r.getString(0).endsWith("42/content"))
    assert(new String(r.getAs[Array[Byte]](1)) === "blob bytes here")
  }

  test("S9: Kafka JSON sink projection round-trips through from_json") {
    val df = Seq((7L, "ok", 1.5)).toDF("doc_id", "status", "score")
    val wire = Pipelines.toKafkaJson(df, "doc_id")
    assert(wire.columns.toSeq === Seq("key", "value"))
    val back = wire.select(
      from_json($"value", org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, status STRING, score DOUBLE")).as("r"))
      .select("r.*").head
    assert(back.getLong(0) === 7L && back.getString(1) === "ok" && back.getDouble(2) === 1.5)
  }

  test("J2: stream-static enrichment join attaches blob content") {
    implicit val sqlCtx = spark.sqlContext
    val content = Seq(("1/content", "text one"), ("3/content", "text three"))
      .toDF("s3_key", "content")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "s3_key")
    val q = Pipelines.enrichWithContent(stream, content)
      .writeStream.format("memory").queryName("j2_out")
      .outputMode("append").start()
    mem.addData(Seq((1L, "1/content"), (2L, "2/content")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("j2_out").orderBy("doc_id").collect()
    assert(rows(0).getAs[Boolean]("has_content"))
    assert(rows(0).getAs[String]("blob_content") === "text one")
    assert(!rows(1).getAs[Boolean]("has_content"))
  }

  test("ST8: one source fans out to two independent streaming queries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("id", "kind")
    val q1 = src.filter($"kind" === "a").writeStream
      .format("memory").queryName("fan_a").outputMode("append").start()
    val q2 = src.groupBy($"kind").count().writeStream
      .format("memory").queryName("fan_b").outputMode("complete").start()
    mem.addData(Seq((1L, "a"), (2L, "b"), (3L, "a")))
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    assert(spark.table("fan_a").count() === 2)
    assert(spark.table("fan_b").count() === 2) // kinds a,b
  }
}
