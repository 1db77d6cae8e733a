package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import graft.{SparkSpec, Tables}
import graft.cdc.Cdc
import graft.similarity.{VectorCodec, VectorStore}

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def envelopeRows: Seq[(String, String)] =
    Cdc.syntheticEnvelopes(Tables.documents(spark, sfDir))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  test("streaming quality pipeline ≡ batch transform (parity)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val streamDf = mem.toDF().toDF("key", "value")
    val q = Pipelines.enrichedProjection(Pipelines.qualityEnrich(streamDf))
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    val rows = envelopeRows
    mem.addData(rows.take(rows.length / 2))
    mem.addData(rows.drop(rows.length / 2))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("enriched_out").orderBy("doc_id").collect()
    val batch = Pipelines.enrichedProjection(
      Pipelines.qualityEnrich(
        Cdc.syntheticEnvelopes(Tables.documents(spark, sfDir))))
      .orderBy("doc_id").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stateful view stats accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val streamDf = mem.toDF().toDF("user_id", "event_type", "props")
    val q = Pipelines.viewStatsStream(streamDf)
      .writeStream.format("memory").queryName("stats_out")
      .outputMode("complete").start()
    mem.addData(Seq((1L, "view", """{"k": 7}"""), (2L, "view", """{"k": 7}""")))
    mem.addData(Seq((1L, "view", """{"k": 7}"""), (3L, "click", """{"k": 7}""")))
    q.processAllAvailable(); q.stop()
    val r = spark.table("stats_out").filter($"doc_id" === 7L).head
    assert(r.getAs[Long]("total_views") === 3L)  // click excluded, replay counted
    assert(r.getAs[Long]("unique_views") === 2L) // users 1,1,2
  }

  test("end-to-end: CDC stream → enrich → index sink → search ≡ batch search") {
    // the reference's flagship lifecycle (SURVEY §3.1): document event →
    // quality enrichment → searchable index → GET /search
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-e2e")
    val mem = MemoryStream[(String, String)]
    val enriched = Pipelines.qualityEnrich(mem.toDF().toDF("key", "value"))
    val q = Pipelines.startIndexSink(enriched, s"$dir/index", s"$dir/ckpt")
    val rows = envelopeRows
    mem.addData(rows.take(rows.length / 2))
    q.processAllAvailable()
    mem.addData(rows.drop(rows.length / 2))
    q.processAllAvailable(); q.stop()
    val index = Pipelines.readIndex(spark, s"$dir/index")
    val (viaIndex, viaBatch) = assertNoCacheLeft {
      (graft.ops.SearchOps.searchEnriched(
        index, "merge", minQualityScore = 50.0, excludePii = true, size = 20)
        .collect().map(_.toSeq),
      graft.ops.SearchOps.searchEnriched(
        Pipelines.qualityEnrich(
          Cdc.syntheticEnvelopes(Tables.documents(spark, sfDir))),
        "merge", minQualityScore = 50.0, excludePii = true, size = 20)
        .collect().map(_.toSeq))
    }
    assert(viaIndex.nonEmpty)
    assert(viaIndex.toSeq === viaBatch.toSeq)
  }

  test("staged enrichment ≡ one-shot content join; s3_key merge join " +
      "plans zero exchanges on co-bucketed tables") {
    val docs = Tables.documents(spark, sfDir).limit(200)
    val flat = Cdc.pipeline(Cdc.syntheticEnvelopes(docs))
    val content = docs.filter(col("doc_id") % 3 =!= 0)
      .select(concat(col("doc_id"), lit("/content")).as("s3_key"),
        col("text").as("content"))
    try {
      Pipelines.stageEnrichInputs(flat, content, "t_enr_flat",
        "t_enr_content")
      val staged = Pipelines.enrichWithContentStaged(spark, "t_enr_flat",
        "t_enr_content")
        .select(col("doc_id"), col("s3_key"), col("has_content"),
          length(col("blob_content")).cast("long").as("content_len"))
      val oneShot = Pipelines.enrichWithContent(flat, content)
        .select(col("doc_id"), col("s3_key"), col("has_content"),
          length(col("blob_content")).cast("long").as("content_len"))
      assert(staged.collect().map(_.toSeq).toSet ===
        oneShot.collect().map(_.toSeq).toSet)
      // the content join must run bucket-to-bucket: an SMJ on s3_key
      // with no Exchange anywhere beneath it
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        p +: kids.flatMap(allNodes)
      }
      val ex = staged.queryExecution.executedPlan
      val keyJoin = allNodes(ex).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.map(_.toString).exists(_.contains("s3_key#")) => j
      }
      assert(keyJoin.nonEmpty, ex.toString)
      keyJoin.foreach { j =>
        assert(!allNodes(j).tail.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
          j.toString)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_enr_flat")
      spark.sql("DROP TABLE IF EXISTS t_enr_content")
    }
  }

  test("streaming dedup drops cross-batch replays; state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Pipelines.dedupedStream(
      mem.toDF().toDF("event_id", "ts", "payload"), "event_id", "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData(Seq((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(0), "a")))
    q.processAllAvailable()
    mem.addData(Seq((1L, ts(0), "a"), (3L, ts(2), "c"))) // replay of id 1
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L)) // each id exactly once
  }

  test("id-only streaming dedup collapses re-stamped retries of the same id") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Pipelines.dedupedStreamById(
      mem.toDF().toDF("event_id", "ts", "payload"), "event_id", "ts")
      .writeStream.format("memory").queryName("dedup_id_out")
      .outputMode("append").start()
    // same id retried with a LATER timestamp: byte-level dedup would
    // keep both; id-level dedup keeps the first arrival
    mem.addData(Seq((1L, ts(0), "a"), (2L, ts(1), "b")))
    q.processAllAvailable()
    mem.addData(Seq((1L, ts(3), "a-retry"), (3L, ts(4), "c")))
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_id_out")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out === Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("stream-stream purchase⋈view join ≡ batch join (parity)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val purchaseRows = Seq(
      (10L, 1L, ts(20)),  // views at 12,19 within 10 min; 5 too old
      (11L, 1L, ts(40)),  // no views in (30,40]
      (12L, 2L, ts(9)))   // view at 9 (equal ts) qualifies
    val viewRows = Seq(
      (100L, 1L, ts(5)), (101L, 1L, ts(12)), (102L, 1L, ts(19)),
      (103L, 2L, ts(9)), (104L, 3L, ts(20)))
    val pMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val vMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val toDf = (m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =>
      m.toDF().toDF("event_id", "user_id", "ts")
    val q = Pipelines.purchaseViewJoin(toDf(pMem), toDf(vMem))
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    pMem.addData(purchaseRows)
    vMem.addData(viewRows)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin_out")
      .orderBy("purchase_id", "view_id").collect().map(_.toSeq)
    val batch = Pipelines.purchaseViewJoin(
      purchaseRows.toDF("event_id", "user_id", "ts"),
      viewRows.toDF("event_id", "user_id", "ts"))
      .orderBy("purchase_id", "view_id").collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.map(r => (r(0), r(2))).toSet ===
      Set((10L, 101L), (10L, 102L), (12L, 103L)))
  }

  test("index upsert: last write per key wins by (version, ts)") {
    val v1 = Seq((1L, 1, 100L, "a"), (2L, 1, 100L, "b")).toDF("doc_id", "version", "ts_ms", "payload")
    val v2 = Seq((1L, 2, 200L, "a2"), (3L, 1, 100L, "c")).toDF("doc_id", "version", "ts_ms", "payload")
    val merged = Pipelines.upsertByKey(v1, v2, "doc_id", Seq("version", "ts_ms"))
      .orderBy("doc_id").collect()
    assert(merged.length === 3)
    assert(merged(0).getAs[String]("payload") === "a2") // updated
    assert(merged(1).getAs[String]("payload") === "b")  // untouched
    assert(merged(2).getAs[String]("payload") === "c")  // inserted
    // idempotent under replay of the same batch
    val again = Pipelines.upsertByKey(
      Pipelines.upsertByKey(v1, v2, "doc_id", Seq("version", "ts_ms")),
      v2, "doc_id", Seq("version", "ts_ms"))
    assert(again.count() === 3)
  }

  test("streaming index sink merges micro-batches into the index table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-index")
    val mem = MemoryStream[(String, String)]
    val streamDf = mem.toDF().toDF("key", "value")
    val enriched = Pipelines.qualityEnrich(streamDf)
      .select($"doc_id", $"version", $"ts_ms", $"quality_score")
    val q = Pipelines.startIndexSink(enriched, s"$dir/index", s"$dir/ckpt")
    val rows = envelopeRows
    mem.addData(rows.take(100))
    q.processAllAvailable()
    val afterFirst = Pipelines.readIndex(spark, s"$dir/index").count()
    mem.addData(rows.take(100)) // exact replay: idempotent
    mem.addData(rows.slice(100, 200))
    q.processAllAvailable(); q.stop()
    val index = Pipelines.readIndex(spark, s"$dir/index")
    assert(afterFirst > 0)
    assert(index.count() > afterFirst)
    assert(index.groupBy("doc_id").count().filter($"count" > 1).count() === 0)
  }

  test("index sink rewrites only the buckets a micro-batch touches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-dirty")
    val mem = MemoryStream[(String, String)]
    val enriched = Pipelines.qualityEnrich(mem.toDF().toDF("key", "value"))
      .select($"doc_id", $"version", $"ts_ms", $"quality_score")
    val q = Pipelines.startIndexSink(enriched, s"$dir/index", s"$dir/ckpt")
    val rows = envelopeRows
    mem.addData(rows.take(200)) // spread docs across many buckets
    q.processAllAvailable()
    // snapshot each bucket's physical file set (task-UUID part names:
    // any rewrite produces different files)
    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$dir/index")
      root.listFiles().filter(_.getName.startsWith("__bucket=")).map { d =>
        d.getName -> d.listFiles().map(_.getName).toSet
      }.toMap
    }
    val before = bucketFiles()
    assert(before.size > 1) // the point of bucketing: many buckets exist
    // ONE document — whose op survives the CDC filter (deletes and
    // snapshot reads, doc_id % 20 ∈ {0,1}, never reach the index)
    val survivor = rows.drop(200)
      .find(r => { val id = r._1.toLong; id % 20 > 1 }).get
    mem.addData(Seq(survivor))
    q.processAllAvailable(); q.stop()
    val after = bucketFiles()
    val changed = (before.keySet ++ after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed.size === 1) // one doc → one bucket dir rewritten
    // and the untouched buckets' rows are still all there
    val index = Pipelines.readIndex(spark, s"$dir/index")
    assert(index.count() >= before.size)
    assert(index.groupBy("doc_id").count().filter($"count" > 1).count() === 0)
  }

  test("index sink heals a crash caught between the rotation renames") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-heal")
    val mem = MemoryStream[(String, String)]
    val enriched = Pipelines.qualityEnrich(mem.toDF().toDF("key", "value"))
      .select($"doc_id", $"version", $"ts_ms", $"quality_score")
    val q = Pipelines.startIndexSink(enriched, s"$dir/index", s"$dir/ckpt")
    val rows = envelopeRows
    mem.addData(rows.take(200))
    q.processAllAvailable()
    val before = Pipelines.readIndex(spark, s"$dir/index")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // simulate the crash window: a bucket was rotated to the backup
    // root but its replacement never installed (live dir missing)
    val root = new java.io.File(s"$dir/index")
    val victim = root.listFiles().filter(_.getName.startsWith("__bucket=")).head
    val bakRoot = new java.io.File(s"$dir/index__bak")
    assert(bakRoot.mkdirs())
    assert(victim.renameTo(new java.io.File(bakRoot, victim.getName)))
    // next micro-batch must first promote the backup, then merge
    val survivor = rows.drop(200)
      .find(r => { val id = r._1.toLong; id % 20 > 1 }).get
    mem.addData(Seq(survivor))
    q.processAllAvailable(); q.stop()
    val after = Pipelines.readIndex(spark, s"$dir/index")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(before.subsetOf(after)) // nothing lost to the "crash"
    assert(after.contains(survivor._1.toLong))
    assert(!bakRoot.exists()) // backup root cleaned up
  }

  test("bucketed index point lookup prunes to one bucket partition") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-probe")
    val mem = MemoryStream[(String, String)]
    val enriched = Pipelines.qualityEnrich(mem.toDF().toDF("key", "value"))
      .select($"doc_id", $"version", $"ts_ms", $"quality_score")
    val q = Pipelines.startIndexSink(enriched, s"$dir/index", s"$dir/ckpt")
    mem.addData(envelopeRows.take(200))
    q.processAllAvailable(); q.stop()
    val someId = Pipelines.readIndex(spark, s"$dir/index")
      .select("doc_id").head.getLong(0)
    val lookup = Pipelines.indexPointLookup(spark, s"$dir/index",
      "doc_id", lit(someId))
    assert(lookup.count() === 1)
    assert(lookup.head.getAs[Long]("doc_id") === someId)
    // the physical scan must carry the bucket as a partition filter
    val physical = lookup.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.contains("__bucket"))
  }

  /** A sink on a (doc_id, version, ts_ms, quality_score) projection of
    * the CDC stream, fed the first `preload` envelope rows.
    */
  private def preloadedSink(dir: String, preload: Int)(
      implicit sqlCtx: org.apache.spark.sql.SQLContext)
      : (MemoryStream[(String, String)], StreamingQuery) = {
    val mem = MemoryStream[(String, String)]
    val enriched = Pipelines.qualityEnrich(mem.toDF().toDF("key", "value"))
      .select($"doc_id", $"version", $"ts_ms", $"quality_score")
    val q = Pipelines.startIndexSink(enriched, s"$dir/index", s"$dir/ckpt")
    mem.addData(envelopeRows.take(preload))
    q.processAllAvailable()
    (mem, q)
  }

  private def bucketOf(key: Column): Int =
    spark.range(1).select(Pipelines.indexBucket(key, 32)).head.getInt(0)

  /** Survivors of the CDC op filter (deletes and snapshot reads,
    * doc_id % 20 ∈ {0,1}, never reach the index) past the preload.
    */
  private def survivors(from: Int): Seq[(String, String)] =
    envelopeRows.drop(from).filter(_._1.toLong % 20 > 1)

  test("index point lookup: one job, one bucket directory listed; " +
      "building readIndex runs no job") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-pinned")
    val (_, q) = preloadedSink(dir, 200)
    q.stop()
    val (_, readLog) = logJobs(Pipelines.readIndex(spark, s"$dir/index"))
    assert(readLog.jobs.get === 0) // the schema is pinned, not inferred
    val ids = Pipelines.readIndex(spark, s"$dir/index")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val id = ids.head
    val (rows, lookupLog) = logJobs(Pipelines.indexPointLookup(spark,
      s"$dir/index", "doc_id", lit(id)).collect())
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq === Seq(id))
    assert(lookupLog.jobs.get === 1)
    val lookup = Pipelines.indexPointLookup(spark, s"$dir/index", "doc_id",
      lit(id))
    val roots = lookup.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths
    }.flatten
    assert(roots.map(_.getName) === Seq(s"__bucket=${bucketOf(lit(id))}"))
  }

  test("index point lookup: after one warm lookup, a lookup of another " +
      "key in another bucket compiles no class") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-probe-codegen")
    val (_, q) = preloadedSink(dir, 200)
    q.stop()
    val ids = Pipelines.readIndex(spark, s"$dir/index")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val warm = ids.head
    val other = ids.find(i => bucketOf(lit(i)) != bucketOf(lit(warm))).get
    def lookup(id: Long): Seq[Long] =
      Pipelines.indexPointLookup(spark, s"$dir/index", "doc_id", lit(id))
        .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(lookup(warm) === Seq(warm))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(lookup(other) === Seq(other))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled)
  }

  test("index point lookup casts the probe to the key type: an Int " +
      "literal finds its Long key") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-probe-int")
    val (_, q) = preloadedSink(dir, 200)
    q.stop()
    // xxhash64 of an Int and of a Long differ: the probe must be cast
    // to the key's type before it picks a bucket
    val id = Pipelines.readIndex(spark, s"$dir/index")
      .select("doc_id").collect().map(_.getLong(0))
      .find(i => bucketOf(lit(i.toInt)) != bucketOf(lit(i))).get
    val hit = Pipelines.indexPointLookup(spark, s"$dir/index", "doc_id",
      lit(id.toInt)).collect()
    assert(hit.map(_.getAs[Long]("doc_id")).toSeq === Seq(id))
  }

  test("index sink batch: at most 3 jobs, its write stage one task per " +
      "dirty bucket up to the default parallelism") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-jobs")
    val (mem, q) = preloadedSink(dir, 200)
    val parallelism = spark.sparkContext.defaultParallelism
    val rest = survivors(200)
    // three documents in three distinct buckets, then many buckets
    val three = rest.groupBy(r => bucketOf(lit(r._1.toLong))).values
      .map(_.head).take(3).toSeq
    for (batch <- Seq(three, rest.filterNot(three.contains).take(40))) {
      val dirty = batch.map(r => bucketOf(lit(r._1.toLong))).distinct.size
      assert(dirty > 1)
      val (_, log) = logJobs { mem.addData(batch); q.processAllAvailable() }
      assert(log.jobs.get <= 3, s"$dirty dirty buckets")
      assert(log.stageTasks.toArray.last === math.min(dirty, parallelism),
        s"$dirty dirty buckets")
    }
    q.stop()
    val index = Pipelines.readIndex(spark, s"$dir/index")
    assert(index.groupBy("doc_id").count().filter($"count" > 1).count() === 0)
  }

  test("index sink refuses a batch whose nBuckets or schema differs " +
      "from the pinned layout, leaving the index byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-mismatch")
    val (_, q) = preloadedSink(dir, 100)
    q.stop()
    val root = new java.io.File(s"$dir/index")
    assert(new java.io.File(root, "_index.json").isFile)
    def snapshot(): Map[String, Seq[Byte]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(f => root.toPath.relativize(f.toPath).toString ->
        Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = snapshot()
    val rows = survivors(100).take(10)
    // another bucket count on restart
    val mem2 = MemoryStream[(String, String)]
    val q2 = Pipelines.startIndexSink(
      Pipelines.qualityEnrich(mem2.toDF().toDF("key", "value"))
        .select($"doc_id", $"version", $"ts_ms", $"quality_score"),
      s"$dir/index", s"$dir/ckpt2", nBuckets = 16)
    mem2.addData(rows)
    val e2 = intercept[StreamingQueryException](q2.processAllAvailable())
    q2.stop()
    assert(e2.getMessage.contains("32 buckets") && e2.getMessage.contains("16 buckets"))
    assert(snapshot() === before)
    // another schema (a column dropped)
    val mem3 = MemoryStream[(String, String)]
    val q3 = Pipelines.startIndexSink(
      Pipelines.qualityEnrich(mem3.toDF().toDF("key", "value"))
        .select($"doc_id", $"version", $"ts_ms"),
      s"$dir/index", s"$dir/ckpt3")
    mem3.addData(rows)
    val e3 = intercept[StreamingQueryException](q3.processAllAvailable())
    q3.stop()
    assert(e3.getMessage.contains("pinned"))
    assert(snapshot() === before)
  }

  test("index sink breaks (version, ts_ms) ties as the batch upsertByKey " +
      "replay does") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-tie")
    val mem = MemoryStream[(Long, Int, Long, String)]
    val q = Pipelines.startIndexSink(
      mem.toDF().toDF("doc_id", "version", "ts_ms", "payload"),
      s"$dir/index", s"$dir/ckpt")
    // tied on every version column: only the content hash picks one
    val tied = Seq((7L, 1, 100L, "a"), (7L, 1, 100L, "b"))
    mem.addData(tied)
    q.processAllAvailable(); q.stop()
    val df = tied.toDF("doc_id", "version", "ts_ms", "payload")
    val replay = Pipelines.upsertByKey(df.limit(0), df, "doc_id",
      Seq("version", "ts_ms"))
    assert(Pipelines.readIndex(spark, s"$dir/index").collect().toSeq ===
      replay.collect().toSeq)
    // a probe whose bucket has no directory reads nothing and finds nothing
    val other = (0L until 64L).find(k => bucketOf(lit(k)) != bucketOf(lit(7L))).get
    assert(Pipelines.indexPointLookup(spark, s"$dir/index", "doc_id",
      lit(other)).count() === 0)
  }

  test("windowed counts honor event-time tumbling windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val streamDf = mem.toDF().toDF("ts", "event_type")
    val q = Pipelines.windowedEventCounts(streamDf, "ts")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData(Seq((t(10, 5), "view"), (t(10, 55), "view"), (t(11, 5), "view")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_out").orderBy("window_start").collect()
    assert(rows.map(_.getAs[Long]("n_events")).toSeq === Seq(2L, 1L))
  }

  test("custom-state view stats dedupe users per key (ST4 + TTL shape)") {
    // an armed ProcessingTimeTimeout keeps bounded runs alive with
    // no-data batches, so the harness drives the TTL-disarmed form
    // (Duration.ZERO → NoTimeout) with processAllAvailable
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (doc_id, user_id)
    val q = Pipelines.viewStatsWithState(mem.toDS(), java.time.Duration.ZERO)
      .toDF("doc_id", "total_views", "unique_views")
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    mem.addData(Seq((7L, 1L), (7L, 2L)))
    q.processAllAvailable()
    mem.addData(Seq((7L, 1L), (8L, 9L)))
    q.processAllAvailable(); q.stop()
    val last = spark.table("state_out").filter($"doc_id" === 7L)
      .orderBy($"total_views".desc).head
    assert(last.getAs[Long]("total_views") === 3L)  // state carried across batches
    assert(last.getAs[Long]("unique_views") === 2L) // user 1 deduped
    val d8 = spark.table("state_out").filter($"doc_id" === 8L).head
    assert(d8.getAs[Long]("total_views") === 1L)
  }

  test("streaming near-dup index: cross-batch dedup, replay-idempotent") {
    val indexDir = tempDir("graft_neardup_idx") + "/idx"
    def ids() = spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet
    val fox = "the quick brown fox jumps over the lazy dog near the river bank"
    val foxCopy = "the quick brown fox jumps over the lazy dog near the river"
    // batch 0: two unrelated docs — both admitted
    Pipelines.processNearDupBatch(
      Seq((1L, fox), (2L, "completely different content about spark query engines and shuffles"))
        .toDF("doc_id", "text"), indexDir, 0L)
    assert(ids() === Set(1L, 2L))
    // batch 1: a near-copy of an INDEXED doc drops, fresh doc admitted
    Pipelines.processNearDupBatch(
      Seq((3L, foxCopy), (4L, "fresh material on watermarks checkpoints and state stores"))
        .toDF("doc_id", "text"), indexDir, 1L)
    assert(ids() === Set(1L, 2L, 4L))
    // checkpoint REPLAY of batch 1: survivors must overwrite their own
    // partition, not duplicate and not self-drop against their own
    // indexed signatures
    Pipelines.processNearDupBatch(
      Seq((3L, foxCopy), (4L, "fresh material on watermarks checkpoints and state stores"))
        .toDF("doc_id", "text"), indexDir, 1L)
    assert(ids() === Set(1L, 2L, 4L))
    assert(spark.read.parquet(indexDir).count() === 3) // no duplicate rows
  }

  test("streaming near-dup sink end-to-end over MemoryStream micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft_neardup_e2e")
    val indexDir = base + "/idx"
    val fox = "the quick brown fox jumps over the lazy dog near the river bank"
    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupIndexingSink(
      mem.toDS().toDF("doc_id", "text"), indexDir, base + "/ckpt")
    try {
      mem.addData(Seq((1L, fox)))
      q.processAllAvailable()
      mem.addData(Seq(
        (2L, "the quick brown fox jumps over the lazy dog near the river"),
        (3L, "unrelated corpus material about query optimizers and joins")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // 2 was a near-copy of batch-0's doc 1
  }

  test("streaming segment dedup: cross-batch first occurrence, replay-idempotent") {
    val base = tempDir("graft_segdedup")
    val indexDir = base + "/idx"; val outDir = base + "/out"
    def docs() = spark.read.parquet(outDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch 0: doc 2's opener repeats doc 1's (within-batch dedup)
    Pipelines.processSegmentDedupBatch(
      Seq((1L, "a b c d e f"), (2L, "a b c x y z")).toDF("doc_id", "text"),
      indexDir, outDir, 0L)
    assert(docs() === Map(1L -> "a b c d e f", 2L -> "x y z"))
    // batch 1: doc 3 is entirely already-seen segments → absent from
    // the corpus; doc 4 keeps only its new tail
    Pipelines.processSegmentDedupBatch(
      Seq((3L, "d e f x y z"), (4L, "x y z q r s")).toDF("doc_id", "text"),
      indexDir, outDir, 1L)
    assert(docs() === Map(1L -> "a b c d e f", 2L -> "x y z", 4L -> "q r s"))
    // checkpoint REPLAY of batch 1: the probe excludes the batch's own
    // index partition, so nothing self-drops and nothing duplicates
    Pipelines.processSegmentDedupBatch(
      Seq((3L, "d e f x y z"), (4L, "x y z q r s")).toDF("doc_id", "text"),
      indexDir, outDir, 1L)
    assert(docs() === Map(1L -> "a b c d e f", 2L -> "x y z", 4L -> "q r s"))
    // index = abc, def, xyz (batch 0) + qrs (batch 1), exactly once
    assert(spark.read.parquet(indexDir).count() === 4)
  }

  test("compactBatchOutputKeeping on the near-dup signature catalog: " +
      "later batches still dedup against the folded history") {
    val indexDir = tempDir("graft_ndret") + "/idx"
    Pipelines.processNearDupBatch(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"), indexDir, 0L)
    Pipelines.processNearDupBatch(
      Seq((2L, "completely different material about spark physical plans"))
        .toDF("doc_id", "text"), indexDir, 1L)
    val before = spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet
    Pipelines.compactBatchOutputKeeping(spark, indexDir, Seq("1"))
    assert(spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet === before)
    // a copy of the FOLDED batch's doc must still be dropped — the
    // probe reads the whole catalog, fold included
    Pipelines.processNearDupBatch(
      Seq((3L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"), indexDir, 2L)
    assert(spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet === before)
    // kept batch stays addressable by name, folded names are gone
    // (batch 2 was fully dropped, so it wrote no partition at all)
    assert(spark.read.parquet(indexDir)
      .select("batch_id").collect().map(_.get(0).toString).toSet
      === Set("-1", "1"))
    // REFOLD: a second retention re-folds the prior collapse
    // partition idempotently — contents invariant, and the catalog
    // still dedups against the twice-folded history
    Pipelines.compactBatchOutputKeeping(spark, indexDir, Seq("1"))
    assert(spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet === before)
    assert(spark.read.parquet(indexDir)
      .select("batch_id").collect().map(_.get(0).toString).toSet
      === Set("-1", "1"))
    Pipelines.processNearDupBatch(
      Seq((4L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"), indexDir, 3L)
    assert(spark.read.parquet(indexDir)
      .select("id").collect().map(_.getLong(0)).toSet === before)
  }

  test("compactBatchOutputKeeping: catalog retention folds all but the " +
      "kept batches, full contents invariant, kept batch addressable, " +
      "folded names gone, replay semantics intact") {
    val base = tempDir("graft_segret_spec")
    val indexDir = base + "/idx"; val outDir = base + "/out"
    (0L to 2L).foreach { b =>
      Pipelines.processSegmentDedupBatch(
        Seq((b * 10 + 1, s"seg$b one two three"),
          (b * 10 + 2, s"seg$b one two alt tail $b"))
          .toDF("doc_id", "text"),
        indexDir, outDir, b)
    }
    def all(dir: String) = spark.read.parquet(dir)
      .drop("batch_id").collect()
      .map(_.toSeq).toSet
    val idxBefore = all(indexDir); val outBefore = all(outDir)
    Pipelines.compactBatchOutputKeeping(spark, indexDir, Seq("2"))
    Pipelines.compactBatchOutputKeeping(spark, outDir, Seq("2"))
    // full contents invariant on both tables
    assert(all(indexDir) === idxBefore)
    assert(all(outDir) === outBefore)
    // kept batch still addressable by name; folded names gone; the
    // collapse partition is the reserved -1 (never a real micro-batch)
    val byBatch = spark.read.parquet(outDir)
      .select("batch_id").collect().map(_.get(0).toString).toSet
    assert(byBatch === Set("2", "-1"))
    assert(spark.read.parquet(outDir)
      .filter(col("batch_id").cast("string") === "2").count() > 0)
    // integral partition type survives the fold, so the sink's
    // numeric self-exclusion probe keeps working: a LATER batch
    // still dedups against the folded history
    Pipelines.processSegmentDedupBatch(
      Seq((99L, "seg0 one two brand new end")).toDF("doc_id", "text"),
      indexDir, outDir, 3L)
    val d99 = spark.read.parquet(outDir)
      .filter(col("doc_id") === 99L).select("text").head().getString(0)
    assert(d99 === "brand new end", "folded history lost by the probe")
    // guards: unknown kept name, the collapse key itself
    intercept[IllegalArgumentException] {
      Pipelines.compactBatchOutputKeeping(spark, outDir, Seq("7"))
    }
    intercept[IllegalArgumentException] {
      Pipelines.compactBatchOutputKeeping(spark, outDir, Seq("-1"))
    }
    // as-of: the prefix up to batch 2 (which now includes the -1
    // fold — all strictly-older history) equals the pre-retention
    // contents; a prefix INSIDE the folded window is gone by design,
    // and the fold always rides along (batch_id -1 <= any prefix)
    val asOf2 = Pipelines.readBatchOutputAsOf(spark, outDir, 2L)
      .drop("batch_id").collect().map(_.toSeq).toSet
    assert(asOf2 === outBefore)
    // repeated retention is idempotent (the old collapse partition
    // folds again)
    Pipelines.compactBatchOutputKeeping(spark, outDir, Seq("3"))
    assert(all(outDir) ===
      outBefore + Seq(99L, "brand new end", 1L, 2L))
    // post-second-retention as-of(2) excludes the kept batch 3 only
    assert(Pipelines.readBatchOutputAsOf(spark, outDir, 2L)
      .drop("batch_id").collect().map(_.toSeq).toSet === outBefore)
    // a non-batch-stamped table is rejected loudly
    val plain = tempDir("graft_asof_plain") + "/t"
    Seq((1L, "x")).toDF("doc_id", "text").write.parquet(plain)
    intercept[IllegalArgumentException] {
      Pipelines.readBatchOutputAsOf(spark, plain, 1L)
    }
  }

  test("streaming segment dedup sink ≡ one-shot batch dedup (id order)") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft_segdedup_e2e")
    val rows = Seq((1L, "a b c d e f"), (2L, "a b c n o p"))
    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.segmentDedupSink(mem.toDS().toDF("doc_id", "text"),
      base + "/idx", base + "/out", base + "/ckpt")
    try {
      mem.addData(Seq(rows(0)))
      q.processAllAvailable()
      mem.addData(Seq(rows(1)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(base + "/out")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // batches arrived in ascending id order, so the online result is
    // exactly the one-shot corpus dedup
    val twin = graft.dedup.Dedup.segmentDedup(
      rows.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === twin)
    assert(out === Map(1L -> "a b c d e f", 2L -> "n o p"))
  }

  test("streaming curation ≡ one-shot curate on ascending arrival; telemetry persists") {
    import graft.textanalysis.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft_curation_stream")
    val benchmark = Seq((900L, "alpha beta gamma delta", "bench"))
      .toDF("doc_id", "text", "source")
    // one offender per gate, one duplicate pair, one clean survivor
    // (the CurationSpec fixture)
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "src0"),
      (2L, "the quick brown fox jumps over the lazy dog", "src0"),
      (3L, ("a b " * 12).trim, "src0"),
      (4L, "alpha beta gamma delta", "src0"))
    val corpus = rows.toDF("doc_id", "text", "source")
    // frozen model = the reference-corpus artifact; training it on
    // the full corpus makes the stream's scores equal the one-shot's
    TextAnalysis.writeLmModel(TextAnalysis.lmTrain(corpus), base + "/model")
    val mem = MemoryStream[(Long, String, String)]
    val q = Pipelines.curationSink(
      mem.toDS().toDF("doc_id", "text", "source"), benchmark,
      base + "/model", base + "/idx", base + "/out", base + "/tele",
      base + "/ckpt")
    try {
      mem.addData(rows.take(2)) // the duplicate pair
      q.processAllAvailable()
      mem.addData(rows.drop(2)) // both gate offenders
      q.processAllAvailable()
    } finally q.stop()
    def outRows() = spark.read.parquet(base + "/out")
      .select("doc_id", "source", "lm_nll").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val twin = graft.curation.Curation.curate(corpus, benchmark)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // ascending-id arrival ⇒ first-arrival dedup ≡ min-id dedup, and
    // the frozen model ≡ the corpus-trained one: exact parity
    assert(outRows() === twin)
    assert(outRows().map(_._1) === Set(1L))
    // telemetry: one row per batch, totals = the observed readout
    val tele = spark.read.parquet(base + "/tele").collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(tele.keySet === Set(0L, 1L))
    assert(tele.values.map(_.getAs[Long]("docs_in")).sum === 4L)
    assert(tele.values.map(_.getAs[Long]("dropped_repetitive")).sum === 1L)
    assert(tele.values.map(_.getAs[Long]("dropped_contaminated")).sum === 1L)
    assert(tele.values.map(_.getAs[Long]("dropped_unusual")).sum === 0L)
    assert(tele.values.map(_.getAs[Long]("kept")).sum === 1L)
    // checkpoint replay of batch 1: the index probe excludes its own
    // partition — nothing self-drops, nothing duplicates, telemetry
    // partition rewrites identically
    Pipelines.processCurationBatch(rows.drop(2).toDF("doc_id", "text", "source"),
      benchmark, TextAnalysis.readLmModel(spark, base + "/model"),
      base + "/idx", base + "/out", base + "/tele", 1L)
    assert(outRows() === twin)
    assert(spark.read.parquet(base + "/tele").count() === 2L)
  }

  test("streaming trending state: versioned merge tracks the batch op, replay-safe") {
    import graft.ops.StatsOps
    val h = 3600000000L // 1 h half-life, micros
    val stateDir = tempDir("graft_trending") + "/state"
    def ev(rows: Seq[(Long, Long, String, Double)]) =
      rows.map { case (id, tus, tp, v) => (id, tus * 1000L, 1L, tp, v) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    val b0 = ev(Seq((1L, 0L, "view", 8.0), (2L, h, "view", 8.0)))
    val b1 = ev(Seq((3L, 2 * h, "view", 8.0), (4L, 2 * h, "click", 2.0)))
    Pipelines.processTrendingBatch(b0, stateDir, 0L, h)
    // a single batch is EXACTLY the batch operator
    val s0 = Pipelines.readTrendingScores(spark, stateDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(s0 === Map("view" -> 12.0)) // 8 + 8/2
    Pipelines.processTrendingBatch(b1, stateDir, 1L, h)
    val s1 = Pipelines.readTrendingScores(spark, stateDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // incremental ≡ one-shot recompute within the ±1-micro-per-merge
    // drift bound (here the decays are exact powers of two: equal)
    val oneShot = StatsOps.trendingByType(b0.unionByName(b1), h)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(s1.keySet === oneShot.keySet)
    s1.foreach { case (k, v) => assert(math.abs(v - oneShot(k)) <= 1e-5, k) }
    assert(s1("view") === 14.0) // 8/4 + 8/2 + 8
    // REPLAY of batch 1: reads version 0 again (still on disk) and
    // rewrites v=1 with the identical state — no double count
    Pipelines.processTrendingBatch(b1, stateDir, 1L, h)
    val s1r = Pipelines.readTrendingScores(spark, stateDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(s1r === s1)
    // reading before any batch committed: empty result, not a crash
    val fresh = tempDir("graft_trending_empty") + "/state"
    assert(Pipelines.readTrendingScores(spark, fresh).count() === 0L)
    // a FRESH checkpoint over an old state dir must fail fast: batch 0
    // finds no version below it but versions above — silently ignoring
    // and then purging the old run's state would be unrecoverable
    val dir2 = tempDir("graft_trending_stale") + "/state"
    Pipelines.processTrendingBatch(b0, dir2, 99L, h) // dead run's state
    val e = intercept[IllegalStateException] {
      Pipelines.processTrendingBatch(b1, dir2, 0L, h) // fresh checkpoint
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    // mid-stream, versions ABOVE the live batch are a dead
    // incarnation's leftovers: purged on the next live write so they
    // never shadow the live chain in newest-version reads
    val dir3 = tempDir("graft_trending_dead") + "/state"
    Pipelines.processTrendingBatch(b0, dir3, 0L, h)  // live v=0
    Pipelines.processTrendingBatch(b0, dir3, 99L, h) // dead run's v=99
    Pipelines.processTrendingBatch(b1, dir3, 1L, h)  // live continues
    val revived = Pipelines.readTrendingScores(spark, dir3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // v=99 is gone; the readout is the live chain b0 ⊕ b1
    assert(revived === s1)
  }

  test("trendingSink over micro-batches ≡ direct processTrendingBatch calls") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000000L // 1 h half-life, micros
    val b0 = Seq((1L, 0L, 1L, "view", 8.0), (2L, h * 1000L, 1L, "view", 8.0))
    val b1 = Seq((3L, 2 * h * 1000L, 1L, "view", 8.0),
      (4L, 2 * h * 1000L, 1L, "click", 2.0))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val base = tempDir("graft_trending_sink")
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val q = Pipelines.trendingSink(mem.toDF().toDF(cols: _*),
      base + "/state", base + "/ckpt", h)
    try {
      mem.addData(b0); q.processAllAvailable()
      mem.addData(b1); q.processAllAvailable()
    } finally q.stop()
    Pipelines.processTrendingBatch(b0.toDF(cols: _*), base + "/direct", 0L, h)
    Pipelines.processTrendingBatch(b1.toDF(cols: _*), base + "/direct", 1L, h)
    def scores(dir: String) =
      Pipelines.readTrendingScores(spark, dir).collect().toSeq
    assert(scores(base + "/state") === scores(base + "/direct"))
    assert(scores(base + "/state").map(_.getString(0)) === Seq("click", "view"))
  }

  test("view-stats state is constant-size in visitor count (HLL blob)") {
    // 1k then 99k more distinct visitors through the same state key:
    // the blob must stay under the lgK=12 HLL_4 compact bound instead
    // of growing with the visitor set (the 100 TB viral-doc property)
    val s1 = Pipelines.updatedViewState(None, (1L to 1000L).iterator)
    val s2 = Pipelines.updatedViewState(Some(s1), (1001L to 100000L).iterator)
    assert(s2.total === 100000L)
    assert(s1.sketch.length <= 3000 && s2.sketch.length <= 3000)
    val est = Pipelines.viewStateEstimate(s2).toDouble
    // 3σ of the lgK=12 rel. std. error (1.04/√4096 ≈ 1.6%)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.05)
    // small cardinalities stay exact (sketch list/set mode) — the
    // streaming spec above relies on exact dedup at test scale
    val small = Pipelines.updatedViewState(None, Iterator(1L, 2L, 1L))
    assert(small.total === 3L)
    assert(Pipelines.viewStateEstimate(small) === 2L)
  }

  test("batch cores release their localCheckpoint storage blocks") {
    import graft.textanalysis.TextAnalysis
    val tmp = tempDir("graft_lmfree")
    TextAnalysis.writeLmModel(
      TextAnalysis.lmTrain(Seq((1L, "a b")).toDF("doc_id", "text")),
      s"$tmp/model")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Pipelines.processLmGateBatch(
      Seq((10L, "a b"), (11L, "a b")).toDF("doc_id", "text"),
      s"$tmp/model", s"$tmp/out", 0L, nllThreshold = 100.0)
    // Dataset.unpersist would leave the checkpointed RDD's blocks
    // pinned until GC; the sink must free them deterministically
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("streaming BM25 index ingest ≡ one-shot rebuild; replay-idempotent") {
    import graft.ops.SearchOps
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_bm25sink")
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c d"),
      (4L, "d d b")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.bm25IndexSink(mem.toDF().toDF("doc_id", "text"),
      s"$tmp/idx", s"$tmp/ckpt")
    mem.addData(Seq((1L, "a b a"), (2L, "b c")))
    q.processAllAvailable()
    mem.addData(Seq((3L, "a c c d"), (4L, "d d b")))
    q.processAllAvailable(); q.stop()
    val full = tempDir("graft_bm25full")
    SearchOps.writeBm25Index(docs, full)
    def served(dir: String) = SearchOps.searchBm25FromIndex(spark, dir,
      Seq("a", "d"), 10).collect().toSeq
    assert(served(s"$tmp/idx") === served(full))
    assert(served(s"$tmp/idx").nonEmpty)
    // crash-replay of batch 0 overwrites exactly its own partitions
    Pipelines.processBm25IngestBatch(
      Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text"), s"$tmp/idx", 0L)
    assert(served(s"$tmp/idx") === served(full))
    val ledger = spark.read.parquet(s"$tmp/idx/stats").collect()
    assert(ledger.length === 2) // one row per batch, replay added none
    assert(ledger.map(_.getAs[Long]("n_docs")).sum === 4L)
    // empty batches are a no-op, never an unreadable footerless dir
    Pipelines.processBm25IngestBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$tmp/idx2", 0L)
    assert(!new java.io.File(s"$tmp/idx2").exists())
  }

  test("streaming BM25 erasure: tombstoned via the sink ≡ rebuild on " +
      "the remaining docs; crash-replay a no-op") {
    import graft.ops.SearchOps
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_bm25del")
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c d"),
      (4L, "d d b")).toDF("doc_id", "text")
    SearchOps.writeBm25Index(docs, s"$tmp/idx")
    val mem = MemoryStream[Long]
    val q = Pipelines.bm25DeleteSink(mem.toDF().toDF("doc_id"),
      s"$tmp/idx", s"$tmp/ckpt")
    mem.addData(2L)
    q.processAllAvailable()
    mem.addData(4L)
    q.processAllAvailable(); q.stop()
    val reb = tempDir("graft_bm25rb")
    SearchOps.writeBm25Index(
      docs.filter(org.apache.spark.sql.functions.col("doc_id").isin(1L, 3L)),
      reb)
    def served(dir: String) = SearchOps.searchBm25FromIndex(spark, dir,
      Seq("a", "d"), 10).collect().toSeq
    assert(served(s"$tmp/idx") === served(reb))
    // crash-replay of delete batch 0 is a no-op on served state
    Pipelines.processBm25DeleteBatch(Seq(2L).toDF("doc_id"),
      s"$tmp/idx", 0L)
    assert(served(s"$tmp/idx") === served(reb))
    // a SECOND delete stream (fresh checkpoint ⇒ batch ids restart
    // at 0) under its own keyPrefix must not clobber the first
    // stream's tombstones — doc 2 stays erased, doc 1 goes too
    Pipelines.processBm25DeleteBatch(Seq(1L).toDF("doc_id"),
      s"$tmp/idx", 0L, keyPrefix = "sweep2")
    val reb13 = tempDir("graft_bm25rb2")
    SearchOps.writeBm25Index(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") === 3L), reb13)
    assert(served(s"$tmp/idx") === served(reb13))
    // and the IVF twin erases through its sink the same way
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sfDir).limit(40)
      .select("vec_id", "embedding").cache()
    val cents = Similarity.seedCentroids(emb, 4)
    VectorStore.write(VectorCodec.Float, emb, cents, s"$tmp/ivf")
    val mem2 = MemoryStream[Long]
    val q2 = Pipelines.ivfDeleteSink(mem2.toDF().toDF("vec_id"),
      s"$tmp/ivf", s"$tmp/ckpt2")
    val delIds = emb.collect().map(_.getLong(0)).sorted.take(5)
    mem2.addData(delIds.toSeq)
    q2.processAllAvailable(); q2.stop()
    val rebIvf = tempDir("graft_ivfrb")
    VectorStore.write(VectorCodec.Float,
      emb.filter(!org.apache.spark.sql.functions.col("vec_id")
        .isin(delIds.map(Long.box).toSeq: _*)), cents, rebIvf)
    val qv = emb.orderBy(org.apache.spark.sql.functions.col("vec_id").desc)
      .head.getSeq[Float](1).map(_.toDouble).toVector
    assert(VectorStore.topKFromIndex(VectorCodec.Float,
      Similarity.readIvfIndex(spark, s"$tmp/ivf"), cents, qv, 10, 2)
        .collect().toSeq ===
      VectorStore.topKFromIndex(VectorCodec.Float,
        spark.read.parquet(rebIvf), cents,
        qv, 10, 2).collect().toSeq)
    // the sink registered prefix "stream": a MANUAL delete under a
    // sink-shaped key would be resurrected by a checkpoint replay —
    // rejected loudly; non-digit suffixes stay allowed
    intercept[IllegalArgumentException] {
      Similarity.deleteFromIvfIndex(
        emb.limit(1).select(col("vec_id")), s"$tmp/ivf", "stream-5")
    }
    Similarity.deleteFromIvfIndex(
      emb.limit(1).select(col("vec_id")), s"$tmp/ivf", "stream-x")
    emb.unpersist()
  }

  test("fused admissionSink ≡ the batch composition of its three gates; " +
      "one shared tokenize pass; crash-replay a no-op") {
    import graft.curation.Serving
    import graft.textanalysis.TextAnalysis
    import graft.quality.NbClassifier
    import graft.selection.Dsir
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_admit")
    val docs = Tables.documents(spark, sfDir).limit(120)
      .select("doc_id", "text", "lang", "n_chars").cache()
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val held = docs.filter(col("doc_id") % 4 === 0)
    TextAnalysis.writeLmModel(TextAnalysis.lmTrain(train), s"$tmp/lm")
    NbClassifier.writeNbModel(spark,
      NbClassifier.nbTrain(train, col("n_chars") >= 300, 1024), s"$tmp/nb")
    Dsir.writeDsirModel(spark,
      Dsir.dsirTrainWith(docs, col("lang") === "en", 1024), s"$tmp/dsir")
    val mem = MemoryStream[Long]
    val q = Pipelines.admissionSink(
      mem.toDS().toDF("doc_id").join(docs.select("doc_id", "text"), "doc_id"),
      s"$tmp/lm", s"$tmp/nb", s"$tmp/dsir", s"$tmp/out", s"$tmp/ckpt")
    val ids = held.select("doc_id").collect().map(_.getLong(0)).sorted
    try Seq(0L, 4L).foreach { m =>
      mem.addData(ids.filter(_ % 8 == m).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "lm_nll", "nb_d6", "dsir_logw")
      .collect().map(_.toString).sorted.toSeq
    // batch composition: the three gates applied independently to the
    // same held-out frame, intersected — fused must equal composed
    val lm = Serving.collectLmLiteral(
      TextAnalysis.readLmModel(spark, s"$tmp/lm"))
    val nb = NbClassifier.readNbModel(spark, s"$tmp/nb")
    val dsir = Dsir.readDsirModel(spark, s"$tmp/dsir")
    val scored = Serving.admissionScores(
      held.select("doc_id", "text"), lm, nb, dsir)
    val composed = Serving.admit(scored).toDF()
      .select("doc_id", "lm_nll", "nb_d6", "dsir_logw")
      .collect().map(_.toString).sorted.toSeq
    assert(out === composed && out.nonEmpty)
    // the fused projection tokenizes ONCE: exactly one split() in the
    // optimized plan — three daisy-chained gate sinks would carry one
    // each, and a collapsed/pushed-down plan would re-inline __ws
    // into every gate subtree
    val plan = scored.queryExecution.optimizedPlan.toString
    assert("split\\(".r.findAllIn(plan).size === 1, plan)
    // crash-replay of admission batch 0 rewrites identical rows into
    // its own partition — served output unchanged
    val before = out
    Pipelines.processAdmissionBatch(
      held.filter(col("doc_id") % 8 === 0).select("doc_id", "text"),
      lm, nb, dsir, s"$tmp/out", 0L)
    assert(out === before)
    docs.unpersist()
  }

  test("streaming gram-index erasure: sink-erased ≡ retrain on the " +
      "remaining docs; crash-replay a no-op; manual sink-shaped keys " +
      "rejected in both maintenance directions") {
    import graft.textanalysis.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_memdel_sink")
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "x y z w v u t s"), (4L, "p q r s t u v w"),
      (5L, "a b c d e x y z")).toDF("doc_id", "text")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(docs, 3), s"$tmp/idx")
    val mem = MemoryStream[Long]
    val q = Pipelines.memorizationDeleteSink(
      mem.toDS().toDF("doc_id").join(docs, "doc_id"), s"$tmp/idx",
      s"$tmp/ckpt", n = 3)
    try {
      // prefix reserved from sink START — before any batch ran
      intercept[IllegalArgumentException] {
        TextAnalysis.deleteFromMemorizationIndex(
          docs.limit(1), s"$tmp/idx", "stream-7", 3)
      }
      mem.addData(2L)
      q.processAllAvailable()
      mem.addData(5L)
      q.processAllAvailable()
    } finally q.stop()
    def served(dir: String) = TextAnalysis
      .readMemorizationIndexMerged(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val reb = tempDir("graft_memdel_reb")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(
        docs.filter(col("doc_id").isin(1L, 3L, 4L)), 3), reb)
    assert(served(s"$tmp/idx") ===
      TextAnalysis.readMemorizationIndex(spark, reb)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet)
    // crash-replay of delete batch 0 recomputes identical negated
    // counts and overwrites its own partition — a no-op on the serve
    Pipelines.processMemorizationDeleteBatch(
      docs.filter(col("doc_id") === 2L), s"$tmp/idx", 0L, n = 3)
    assert(served(s"$tmp/idx") ===
      TextAnalysis.readMemorizationIndex(spark, reb)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet)
    // the INGEST sink reserves its prefix too: a manual append shaped
    // "<prefix>-N" on a stream-fed index fails loudly
    val mem2 = MemoryStream[Long]
    val q2 = Pipelines.memorizationIndexSink(
      mem2.toDS().toDF("doc_id").join(docs, "doc_id"), s"$tmp/idx",
      s"$tmp/ckpt2", n = 3)
    try {
      intercept[IllegalArgumentException] {
        TextAnalysis.appendToMemorizationIndex(
          docs.limit(1), s"$tmp/idx", "stream-3", 3)
      }
    } finally q2.stop()
    // non-sink-shaped manual keys stay allowed in both directions
    TextAnalysis.deleteFromMemorizationIndex(
      docs.filter(col("doc_id") === 4L), s"$tmp/idx", "manual-del", 3)
    TextAnalysis.appendToMemorizationIndex(
      docs.filter(col("doc_id") === 4L), s"$tmp/idx", "manual-add", 3)
    assert(served(s"$tmp/idx") ===
      TextAnalysis.readMemorizationIndex(spark, reb)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet)
  }

  test("fullAdmissionSink: the join-shaped dup gate composes with the " +
      "row-local gates as one decision; planted duplicates rejected; " +
      "replay a no-op") {
    import graft.curation.Serving
    import graft.textanalysis.TextAnalysis
    import graft.quality.NbClassifier
    import graft.selection.Dsir
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_admitf")
    val docs = Tables.documents(spark, sfDir).limit(120)
      .select("doc_id", "text", "lang", "n_chars").cache()
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val held = docs.filter(col("doc_id") % 4 === 0)
    TextAnalysis.writeLmModel(TextAnalysis.lmTrain(train), s"$tmp/lm")
    NbClassifier.writeNbModel(spark,
      NbClassifier.nbTrain(train, col("n_chars") >= 300, 1024), s"$tmp/nb")
    Dsir.writeDsirModel(spark,
      Dsir.dsirTrainWith(docs, col("lang") === "en", 1024), s"$tmp/dsir")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(train, 5), s"$tmp/gram")
    // stream = held quarter + verbatim re-ingests of train docs that
    // PASS the row-local gates (chosen by scoring the train set
    // first), so dup_frac = 1.0 is guaranteed to be their decisive
    // rejector
    val lm0 = Serving.collectLmLiteral(
      TextAnalysis.readLmModel(spark, s"$tmp/lm"))
    val nb0 = NbClassifier.readNbModel(spark, s"$tmp/nb")
    val dsir0 = Dsir.readDsirModel(spark, s"$tmp/dsir")
    val passingTrain = Serving.admit(Serving.admissionScores(
        train.select("doc_id", "text"), lm0, nb0, dsir0)).toDF()
      .select("doc_id").limit(8)
    assert(passingTrain.count() > 0,
      "fixture lost its teeth: no train doc passes the row-local gates")
    val planted = train.join(passingTrain, "doc_id")
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val corpus = docs.select("doc_id", "text").unionByName(planted)
    val mem = MemoryStream[Long]
    val q = Pipelines.fullAdmissionSink(
      mem.toDS().toDF("doc_id").join(corpus, "doc_id"),
      s"$tmp/lm", s"$tmp/nb", s"$tmp/dsir", s"$tmp/gram",
      s"$tmp/out", s"$tmp/ckpt")
    val heldIds = held.select("doc_id").collect().map(_.getLong(0)).sorted
    val plantedIds = planted.select("doc_id").collect()
      .map(_.getLong(0)).sorted
    try {
      mem.addData(heldIds.filter(_ % 8 == 0).toIndexedSeq)
      q.processAllAvailable()
      mem.addData((heldIds.filter(_ % 8 == 4) ++ plantedIds).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$tmp/out")
    val outIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // no planted duplicate survives the dup gate
    assert(plantedIds.forall(id => !outIds(id)))
    // ...and the dup gate was the DECISIVE rejector: every planted
    // doc passes all three row-local gates by construction
    val streamed = corpus.join(
      (heldIds ++ plantedIds).toSeq.toDF("doc_id"), "doc_id")
    val rowLocalPass = Serving.admit(
      Serving.admissionScores(streamed, lm0, nb0, dsir0)).toDF()
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plantedIds.forall(rowLocalPass))
    // fused stream ≡ batch composition: row-local pass ∩ dup gate
    val index = TextAnalysis.readMemorizationIndexMerged(spark, s"$tmp/gram")
    val dupOk = TextAnalysis.memorizationProbe(streamed, index, 5)
      .filter(col("dup_frac").isNull || col("dup_frac") <= 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(outIds === (rowLocalPass intersect dupOk))
    // one tokenize pass: both gate consumers read the materialized
    // barrier — no split() below it in the served rows' plan
    // (asserted indirectly: a replayed batch recomputes identical
    // rows and overwrites only its own partition)
    val before = out.collect().map(_.toString).sorted.toSeq
    Pipelines.processFullAdmissionBatch(
      corpus.join(heldIds.filter(_ % 8 == 0).toSeq.toDF("doc_id"), "doc_id"),
      lm0, nb0, dsir0, index, s"$tmp/out", 0L)
    assert(spark.read.parquet(s"$tmp/out").collect()
      .map(_.toString).sorted.toSeq === before)
    docs.unpersist()
  }

  test("compaction preserves stream-prefix reservations — the collision " +
      "guard stays armed after the root rewrite") {
    import graft.ops.SearchOps
    import graft.similarity.Similarity
    import graft.textanalysis.TextAnalysis
    val tmp = tempDir("graft_cmp_guard")
    // IVF: compactIvfIndex overwrites the ROOT path — without the
    // re-registration the _delete_streams marker vanishes and a
    // manual sink-shaped key passes the guard again
    val emb = Tables.embeddings(spark, sfDir).limit(30)
      .select("vec_id", "embedding")
    val cents = Similarity.seedCentroids(emb, 4)
    VectorStore.write(VectorCodec.Float, emb, cents, s"$tmp/ivf")
    Similarity.registerIvfDeleteStreamPrefix(spark, s"$tmp/ivf", "sweeper")
    Similarity.deleteFromIvfIndex(emb.limit(3).select(col("vec_id")),
      s"$tmp/ivf", "d1")
    Similarity.compactIvfIndex(spark, s"$tmp/ivf")
    intercept[IllegalArgumentException] {
      Similarity.deleteFromIvfIndex(emb.limit(1).select(col("vec_id")),
        s"$tmp/ivf", "sweeper-5")
    }
    // gram index: compactMemorizationIndex also rewrites the root —
    // BOTH maintenance-direction markers must survive
    val docs = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "c d e f"))
      .toDF("doc_id", "text")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(docs, 3), s"$tmp/gram")
    TextAnalysis.registerMemStreamPrefix(spark, s"$tmp/gram", "ing",
      "_ingest_streams")
    TextAnalysis.registerMemStreamPrefix(spark, s"$tmp/gram", "del",
      "_delete_streams")
    TextAnalysis.deleteFromMemorizationIndex(
      docs.filter(col("doc_id") === 2L), s"$tmp/gram", "d1", 3)
    TextAnalysis.compactMemorizationIndex(spark, s"$tmp/gram")
    intercept[IllegalArgumentException] {
      TextAnalysis.appendToMemorizationIndex(
        docs.limit(1), s"$tmp/gram", "ing-3", 3)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.deleteFromMemorizationIndex(
        docs.limit(1), s"$tmp/gram", "del-0", 3)
    }
    // BM25: compactBm25Index rewrites subdirs only — the root marker
    // survives by construction; pin it anyway
    val bdocs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    SearchOps.writeBm25Index(bdocs, s"$tmp/bm25")
    SearchOps.registerDeleteStreamPrefix(spark, s"$tmp/bm25", "sweeper")
    SearchOps.deleteFromBm25Index(Seq(2L).toDF("doc_id"), s"$tmp/bm25", "d1")
    SearchOps.compactBm25Index(spark, s"$tmp/bm25")
    intercept[IllegalArgumentException] {
      SearchOps.deleteFromBm25Index(Seq(1L).toDF("doc_id"),
        s"$tmp/bm25", "sweeper-5")
    }
  }

  test("delete-stream prefixes register at sink START; all-digit manual " +
      "append keys are rejected (ingest-sink collision class)") {
    import graft.ops.SearchOps
    import graft.similarity.Similarity
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_guard")
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    SearchOps.writeBm25Index(docs, s"$tmp/idx")
    val mem = MemoryStream[Long]
    // sink started but NO batch has run yet — the prefix must already
    // be reserved: a manual sink-shaped key accepted in this window
    // would be silently resurrected by the stream's first replay
    val q = Pipelines.bm25DeleteSink(mem.toDF().toDF("doc_id"),
      s"$tmp/idx", s"$tmp/ckpt", keyPrefix = "sweeper")
    try {
      intercept[IllegalArgumentException] {
        SearchOps.deleteFromBm25Index(Seq(1L).toDF("doc_id"),
          s"$tmp/idx", "sweeper-3")
      }
    } finally q.stop()
    val emb = Tables.embeddings(spark, sfDir).limit(20)
      .select("vec_id", "embedding")
    val cents = Similarity.seedCentroids(emb, 4)
    VectorStore.write(VectorCodec.Float, emb, cents, s"$tmp/ivf")
    val mem2 = MemoryStream[Long]
    val q2 = Pipelines.ivfDeleteSink(mem2.toDF().toDF("vec_id"),
      s"$tmp/ivf", s"$tmp/ckpt2", keyPrefix = "sweeper")
    try {
      intercept[IllegalArgumentException] {
        Similarity.deleteFromIvfIndex(emb.limit(1).select(col("vec_id")),
          s"$tmp/ivf", "sweeper-0")
      }
    } finally q2.stop()
    // all-digit manual append keys collide with the ingest sinks' raw
    // numeric micro-batch partitions — rejected loudly in every family
    intercept[IllegalArgumentException] {
      SearchOps.appendToBm25Index(docs, s"$tmp/idx", "5")
    }
    intercept[IllegalArgumentException] {
      VectorStore.append(VectorCodec.Float, emb, cents, s"$tmp/ivf", "7")
    }
    intercept[IllegalArgumentException] {
      VectorStore.append(VectorCodec.Int8, emb, cents, s"$tmp/qivf", "7")
    }
    intercept[IllegalArgumentException] {
      VectorStore.append(VectorCodec.Pq(
          Similarity.pqBuild(emb, m = 8, ksub = 4, iterations = 1)),
        emb, cents, s"$tmp/pq", "7")
    }
  }

  test("streaming IVF index ingest ≡ one-shot rebuild; replay-idempotent") {
    import graft.similarity.Similarity
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_ivfsink")
    val emb = Tables.embeddings(spark, sfDir).limit(60)
      .select("vec_id", "embedding").cache()
    val cents = Similarity.seedCentroids(emb, 4)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val mem = MemoryStream[Long]
    val q = Pipelines.vectorIndexSink(
      mem.toDS().toDF("vec_id").join(emb, "vec_id"), VectorCodec.Float, cents,
      s"$tmp/idx", s"$tmp/ckpt")
    try {
      (0L until 2L).foreach { b =>
        mem.addData(ids.filter(_ % 2 == b).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val full = tempDir("graft_ivffull")
    VectorStore.write(VectorCodec.Float, emb, cents, full)
    def entries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(entries(s"$tmp/idx") === entries(full))
    // crash-replay of batch 0 overwrites exactly its own partitions
    Pipelines.processVectorIngestBatch(
      emb.filter(col("vec_id") % 2 === 0), VectorCodec.Float,
        cents, s"$tmp/idx", 0L)
    assert(entries(s"$tmp/idx") === entries(full))
    assert(spark.read.parquet(s"$tmp/idx").count() === emb.count())
    // as-of batch 0: the snapshot is exactly batch 0's vectors, and
    // a tombstone erases retroactively — history never resurrects
    val snap0 = Similarity.readIvfIndexAsOf(spark, s"$tmp/idx", 0L)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(snap0 === ids.filter(_ % 2 == 0).toSet)
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") === ids.head).select(col("vec_id")),
      s"$tmp/idx", "d1")
    assert(Similarity.readIvfIndexAsOf(spark, s"$tmp/idx", 0L)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet ===
      snap0 - ids.head)
    // a name-keyed (batch-written) index rejects the numeric-prefix
    // clock — its history travels by batch NAME instead
    intercept[IllegalArgumentException] {
      Similarity.readIvfIndexAsOf(spark, full, 0L)
    }
    assert(Similarity.readIvfIndexAsOf(spark, full, Seq("build"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet ===
      ids.toSet)
    // and the stream-built index's numeric ids work as names too
    assert(Similarity.readIvfIndexAsOf(spark, s"$tmp/idx", Seq("0"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet ===
      snap0 - ids.head)
    // the COMPRESSED twin: int8 entries stream through the quantized
    // sink into the same (cell, batch_id) layout, stream-built ≡
    // rebuild entry for entry, replay a no-op
    val mem2 = MemoryStream[Long]
    val q2 = Pipelines.vectorIndexSink(
      mem2.toDS().toDF("vec_id").join(emb, "vec_id"), VectorCodec.Int8, cents,
      s"$tmp/qidx", s"$tmp/qckpt")
    try {
      (0L until 2L).foreach { b =>
        mem2.addData(ids.filter(_ % 2 == b).toIndexedSeq)
        q2.processAllAvailable()
      }
    } finally q2.stop()
    val qFull = tempDir("graft_qivffull")
    VectorStore.write(VectorCodec.Int8, emb, cents, qFull)
    def qEntries(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("scale"), col("qvec"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2), r.getLong(3)))
      .toSet
    assert(qEntries(s"$tmp/qidx") === qEntries(qFull))
    Pipelines.processVectorIngestBatch(
      emb.filter(col("vec_id") % 2 === 0), VectorCodec.Int8,
        cents, s"$tmp/qidx", 0L)
    assert(qEntries(s"$tmp/qidx") === qEntries(qFull))
    assert(spark.read.parquet(s"$tmp/qidx").count() === emb.count())
    emb.unpersist()
  }

  test("streaming gram-index ingest ≡ retrain-on-union; crash-replay " +
      "a no-op on consolidated counts") {
    import graft.textanalysis.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_memsink")
    val all = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"),
      (4L, "a b c d e f"), (5L, "x y z w v q"), (6L, "m n o p q r"))
      .toDF("doc_id", "text")
    // base = docs 1-2 written; docs 3-6 stream in as two batches
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(all.filter(col("doc_id") <= 2), 5),
      s"$tmp/idx")
    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.memorizationIndexSink(
      mem.toDF().toDF("doc_id", "text"), s"$tmp/idx", s"$tmp/ckpt")
    mem.addData(Seq((3L, "x y z w v u"), (4L, "a b c d e f")))
    q.processAllAvailable()
    mem.addData(Seq((5L, "x y z w v q"), (6L, "m n o p q r")))
    q.processAllAvailable(); q.stop()
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = counts(TextAnalysis.memorizationIndex(all, 5))
    assert(counts(
      TextAnalysis.readMemorizationIndexMerged(spark, s"$tmp/idx")) === want)
    // crash-replay of micro-batch 0 dynamic-overwrites its own
    // partition — consolidated counts unchanged
    Pipelines.processMemorizationIngestBatch(
      Seq((3L, "x y z w v u"), (4L, "a b c d e f")).toDF("doc_id", "text"),
      s"$tmp/idx", 0L)
    assert(counts(
      TextAnalysis.readMemorizationIndexMerged(spark, s"$tmp/idx")) === want)
    // empty batches are a no-op; empty prefix fails loudly even empty
    Pipelines.processMemorizationIngestBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$tmp/idx", 2L)
    assert(counts(
      TextAnalysis.readMemorizationIndexMerged(spark, s"$tmp/idx")) === want)
    intercept[IllegalArgumentException] {
      Pipelines.processMemorizationIngestBatch(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$tmp/idx", 2L,
        keyPrefix = "")
    }
    // and the streamed batches are time-travelable like any appends:
    // base + batch 0 only ≡ retrain on docs 1-4
    assert(counts(TextAnalysis.readMemorizationIndexAsOf(spark,
      s"$tmp/idx", Seq("build", "stream-0"))) ===
      counts(TextAnalysis.memorizationIndex(
        all.filter(col("doc_id") <= 4), 5)))
  }

  test("streaming LM gate filters against the frozen model; replay-idempotent") {
    import graft.textanalysis.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_lmgate")
    // model: "a b" is the common transition (nll ln 1.75 ≈ 0.56),
    // "c d" rarer (ln 2.5 ≈ 0.92), unseen grams ln 4 ≈ 1.39
    val ref = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "c d"))
      .toDF("doc_id", "text")
    TextAnalysis.writeLmModel(TextAnalysis.lmTrain(ref), s"$tmp/model")

    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.lmGateSink(mem.toDF().toDF("doc_id", "text"),
      s"$tmp/model", s"$tmp/out", s"$tmp/ckpt", nllThreshold = 0.7)
    mem.addData(Seq((10L, "a b"), (11L, "c d")))      // 11 over threshold
    q.processAllAvailable()
    mem.addData(Seq((12L, "a b a b"), (13L, "a b"))) // 12's "b a" unseen
    q.processAllAvailable(); q.stop()

    def surviving() = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving() === Set(10L, 13L))
    // crash-replay of batch 0 rewrites only its own partition
    Pipelines.processLmGateBatch(
      Seq((10L, "a b"), (11L, "c d")).toDF("doc_id", "text"),
      s"$tmp/model", s"$tmp/out", 0L, nllThreshold = 0.7)
    assert(surviving() === Set(10L, 13L))
    assert(spark.read.parquet(s"$tmp/out").count() === 2) // no duplicates
    // an empty first batch never creates an unreadable footerless dir
    Pipelines.processLmGateBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      s"$tmp/model", s"$tmp/out2", 0L, nllThreshold = 0.7)
    assert(!new java.io.File(s"$tmp/out2").exists())
  }

  test("streaming DSIR gate ≡ batch score-and-filter; replay-idempotent") {
    import graft.selection.Dsir
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_dsirgate")
    val pool = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog ran to the park", "en"),
      (3L, "der hund lief zum park", "de"),
      (4L, "el gato y el perro", "es"),
      (5L, "the cat and the dog", "en"))
      .toDF("doc_id", "text", "lang")
    val model = Dsir.dsirTrainWith(pool, col("lang") === "en", 32)
    Dsir.writeDsirModel(spark, model, s"$tmp/model")
    // a threshold between the english and non-english score bands
    val scored = Dsir.dsirScore(pool, model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val minLogw = 0.0
    val wantKept = scored.filter(_._2 >= minLogw).keySet
    assert(wantKept.nonEmpty && wantKept.size < scored.size,
      s"threshold should split the pool: $scored")

    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.dsirGateSink(mem.toDF().toDF("doc_id", "text"),
      s"$tmp/model", s"$tmp/out", s"$tmp/ckpt", minLogw)
    val rows = pool.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(2)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()

    def surviving() = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving() === wantKept)
    // crash-replay of batch 0 rewrites only its own partition
    Pipelines.processDsirGateBatch(b1.toDF("doc_id", "text"),
      model, s"$tmp/out", 0L, minLogw)
    assert(surviving() === wantKept)
    assert(spark.read.parquet(s"$tmp/out").count() === wantKept.size.toLong)
    // the carried dsir_logw column matches the batch operator
    val carried = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "dsir_logw").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    carried.foreach { case (id, w) => assert(w === scored(id), s"doc $id") }
  }

  test("streaming memorization gate ≡ batch probe filter; " +
      "replay-idempotent; gram-less docs pass") {
    import graft.textanalysis.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_memgate")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(corpus, 3), s"$tmp/index")
    val pool = Seq(
      (10L, "alpha beta gamma delta nine ten"),  // 2/4 grams known: drop
      (11L, "fresh words nobody has ever used"), // clean: keep
      (12L, "one two three new material here"),  // 1/4 known: keep
      (13L, "so"))                                // gram-less: keep
      .toDF("doc_id", "text")
    val idx = TextAnalysis.readMemorizationIndex(spark, s"$tmp/index")
    val wantKept = pool
      .join(TextAnalysis.memorizationProbe(pool, idx, 3)
        .select(col("doc_id"), col("dup_frac")), Seq("doc_id"))
      .filter(col("dup_frac").isNull || col("dup_frac") <= 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wantKept === Set(11L, 12L, 13L))

    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.memorizationGateSink(
      mem.toDF().toDF("doc_id", "text"), s"$tmp/index", s"$tmp/out",
      s"$tmp/ckpt", maxDupFrac = 0.4, n = 3)
    val rows = pool.select("doc_id", "text").as[(Long, String)]
      .collect().toSeq
    val (b1, b2) = rows.splitAt(2)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()

    def surviving() = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving() === wantKept)
    // crash-replay of batch 0 rewrites only its own partition
    Pipelines.processMemorizationGateBatch(b1.toDF("doc_id", "text"),
      idx, s"$tmp/out", 0L, maxDupFrac = 0.4, n = 3)
    assert(surviving() === wantKept)
    assert(spark.read.parquet(s"$tmp/out").count() === wantKept.size.toLong)
  }

  test("streaming community assignment ≡ batch probe; replay-idempotent; " +
      "graph-absent docs carry their own id") {
    import graft.graph.Communities
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_lpaprobe")
    // frozen world: triangle {1,2,3} → community 1; the pair {10,11}
    // 2-CYCLES under synchronous LPA (the bipartite oscillation —
    // exactly why rounds are fixed) and lands as two singleton
    // communities after 4 rounds
    val world = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("s", "t")
    Communities.writeCommunityLabels(
      Communities.labelPropagation(world, "s", "t", rounds = 4),
      s"$tmp/labels")
    // new docs link to (doc_id % 20): 21,22,23 → community 1;
    // 30 → node 10's community, 31 → node 11's; 45 links to 5
    // (unlabeled) → own id
    val pool = Seq(
      (21L, "a"), (22L, "b"), (23L, "c"), (30L, "x"), (31L, "y"),
      (45L, "z"))
      .toDF("doc_id", "text")
    def edgesOf(b: org.apache.spark.sql.DataFrame) =
      b.select(col("doc_id").as("s"), (col("doc_id") % 20).as("t"))
    val labels = Communities.readCommunityLabels(spark, s"$tmp/labels")
    val want = Communities.assignToCommunities(
      pool.select(col("doc_id").as("node")), edgesOf(pool), "s", "t", labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want === Map(21L -> 1L, 22L -> 1L, 23L -> 1L,
      30L -> 10L, 31L -> 11L, 45L -> 45L))

    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.communityAssignSink(mem.toDF().toDF("doc_id", "text"),
      s"$tmp/labels", edgesOf, s"$tmp/out", s"$tmp/ckpt")
    val rows = pool.as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(3)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()

    def assigned() = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "community").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned() === want)
    // crash-replay of batch 0 rewrites only its own partition
    Pipelines.processCommunityAssignBatch(b1.toDF("doc_id", "text"),
      labels, edgesOf, s"$tmp/out", 0L)
    assert(assigned() === want)
    assert(spark.read.parquet(s"$tmp/out").count() === 6L)
  }

  test("streaming media near-dup gate ≡ batch hammingProbe; " +
      "replay-idempotent") {
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_mediagate")
    // frozen world: video fingerprints of docs 0..199 (real
    // render→AVI→demux path); pool 200..319 — 19 of them collide
    // with the index within Hamming 1 (deterministic render rule)
    val corpus = (0L until 200L).toDF("doc_id")
    Dedup.writeFingerprintIndex(Multimodal.videoHashes(corpus),
      "doc_id", "vhash", s"$tmp/index")
    def fpOf(id: Long): Long = Multimodal.VideoCodec.envelopeHash(
      Multimodal.VideoCodec.decode(
        Multimodal.VideoCodec.renderGrayAvi(id)).get)
    val idxFps = (0L until 200L).map(fpOf)
    val poolIds = (200L until 320L)
    val wantKept = poolIds.filter(p =>
      !idxFps.exists(f =>
        java.lang.Long.bitCount(f ^ fpOf(p)) <= 1)).toSet
    assert(wantKept.size === poolIds.size - 19,
      "the gate must actually fire on this pool")

    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.mediaDedupSink(mem.toDF().toDF("doc_id", "text"),
      s"$tmp/index", s"$tmp/out", s"$tmp/ckpt", maxDist = 1)
    val rows = poolIds.map(id => (id, s"doc $id")).toSeq
    val (b1, b2) = rows.splitAt(60)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()

    def surviving() = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving() === wantKept)
    // crash-replay of batch 0 rewrites only its own partition
    val index = Dedup.readFingerprintIndex(spark, s"$tmp/index")
      .select(col("id").as("doc_id"), col("fp"))
    Pipelines.processMediaDedupBatch(b1.toDF("doc_id", "text"), index,
      Multimodal.videoHashes, s"$tmp/out", 0L, maxDist = 1)
    assert(surviving() === wantKept)
    assert(spark.read.parquet(s"$tmp/out").count()
      === wantKept.size.toLong)
  }

  test("streaming NB quality gate ≡ batch nbGate; replay-idempotent") {
    import graft.quality.NbClassifier
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_nbgate")
    val pool = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", true),
      (2L, "a long winded sentence keeps going with many many words", true),
      (3L, "substantial prose continues across several varied tokens here", true),
      (4L, "short note", false),
      (5L, "tiny text", false),
      (6L, "ok", false))
      .toDF("doc_id", "text", "pos")
    val model = NbClassifier.nbTrain(pool, col("pos"), 32)
    NbClassifier.writeNbModel(spark, model, s"$tmp/model")
    val wantKept = NbClassifier.nbGate(pool, model)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wantKept.nonEmpty && wantKept.size < 6,
      "the gate should split the pool")

    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.nbGateSink(mem.toDF().toDF("doc_id", "text"),
      s"$tmp/model", s"$tmp/out", s"$tmp/ckpt")
    val rows = pool.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(3)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()

    def surviving() = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving() === wantKept)
    // crash-replay of batch 0 rewrites only its own partition
    Pipelines.processNbGateBatch(b1.toDF("doc_id", "text"),
      model, s"$tmp/out", 0L, threshold6 = 0L)
    assert(surviving() === wantKept)
    assert(spark.read.parquet(s"$tmp/out").count() === wantKept.size.toLong)
  }

  test("streaming knn serving sink: each micro-batch ≡ the one-shot " +
      "query-table serve, replay rewrites only its own partition") {
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 8)
    val base = tempDir("graft_knnsink")
    VectorStore.write(VectorCodec.Float, emb, cents, base + "/idx")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Pipelines.vectorServingSink(
      mem.toDS().toDF("query_id", "embedding"), VectorCodec.Float,
        cents, base + "/idx",
      base + "/out", base + "/ckpt", k = 5, nProbe = 2)
    def qvec(id: Long): Seq[Double] = emb.filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toVector
    mem.addData(Seq(0L -> qvec(0L), 1L -> qvec(1L)))
    q.processAllAvailable()
    mem.addData(Seq(2L -> qvec(2L)))
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(base + "/out")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // each micro-batch's partition ≡ the one-shot query-table serve
    // over exactly that batch
    val idx = spark.read.parquet(base + "/idx")
    def oneShot(ids: Seq[Long]) = rows(VectorStore.multiTopK(VectorCodec.Float,
      idx, cents, emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding")), 5, 2))
    assert(rows(out.filter(col("batch_id") === 0)) === oneShot(Seq(0L, 1L)))
    assert(rows(out.filter(col("batch_id") === 1)) === oneShot(Seq(2L)))
    // checkpoint REPLAY of batch 1 rewrites exactly its own
    // partition — identical rankings, no duplicates
    val before = rows(out)
    Pipelines.processVectorServeBatch(
      Seq(2L -> qvec(2L)).toDF("query_id", "embedding"), VectorCodec.Float,
        cents,
      base + "/idx", base + "/out", 1L, 5, 2)
    assert(rows(spark.read.parquet(base + "/out")) === before)
    assert(spark.read.parquet(base + "/out").count() === 15)
  }

  test("catalog single-maintainer contract: a KEPT micro-batch's " +
      "checkpoint replay AFTER retention lands exactly as before " +
      "(fold-then-replay ordering, quiesced sink)") {
    val base = tempDir("graft_foldreplay")
    val idx = base + "/idx"; val out = base + "/out"
    val batches = Seq(
      0L -> Seq((1L, "a b c d e f"), (2L, "x y z p q r")),
      1L -> Seq((11L, "a b c n o p"), (12L, "k l m k l m")),
      2L -> Seq((21L, "x y z fresh tail here")))
    batches.foreach { case (b, rows) =>
      Pipelines.processSegmentDedupBatch(rows.toDF("doc_id", "text"),
        idx, out, b)
    }
    def all(dir: String) = spark.read.parquet(dir)
      .collect().map(_.toSeq).toSet
    // quiesce, THEN fold (the documented ordering): retention folds
    // batches 0-1, batch 2 stays addressable
    Pipelines.compactBatchOutputKeeping(spark, idx, Seq("2"))
    Pipelines.compactBatchOutputKeeping(spark, out, Seq("2"))
    val idxAfter = all(idx); val outAfter = all(out)
    // the sink resumes and its checkpoint REPLAYS the kept batch 2:
    // dynamic overwrite rewrites exactly its own partition and the
    // self-exclusion probe skips it — bit-identical tables, no
    // double-insert, no self-drop, fold untouched
    Pipelines.processSegmentDedupBatch(
      batches.last._2.toDF("doc_id", "text"), idx, out, 2L)
    assert(all(idx) === idxAfter)
    assert(all(out) === outAfter)
  }

  test("compactBatchOutputKeeping: keep must be the newest window, " +
      "and as-of refuses exactly the prefixes the fold destroyed") {
    val dir = tempDir("graft_foldwm") + "/t"
    (0L to 3L).foreach { b =>
      Seq((b * 10, s"row$b")).toDF("id", "text")
        .withColumn("batch_id", lit(b))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(dir)
    }
    // keeping an OLD batch while folding newer ones is refused: the
    // newer rows would land in the collapse partition (-1), which
    // passes EVERY as-of prefix predicate — silent future leakage
    intercept[IllegalArgumentException] {
      Pipelines.compactBatchOutputKeeping(spark, dir, Seq("1"))
    }
    Pipelines.compactBatchOutputKeeping(spark, dir, Seq("2", "3"))
    // boundary = max folded id = 1: as-of AT the boundary is exact
    // (the collapse partition is precisely that prefix)...
    assert(Pipelines.readBatchOutputAsOf(spark, dir, 1L)
      .select("id").collect().map(_.getLong(0)).toSet === Set(0L, 10L))
    // ...below it the prefix is irrecoverably merged — refused loudly
    intercept[IllegalArgumentException] {
      Pipelines.readBatchOutputAsOf(spark, dir, 0L)
    }
    // a repeated fold advances the boundary monotonically
    Pipelines.compactBatchOutputKeeping(spark, dir, Seq("3"))
    intercept[IllegalArgumentException] {
      Pipelines.readBatchOutputAsOf(spark, dir, 1L)
    }
    assert(Pipelines.readBatchOutputAsOf(spark, dir, 2L)
      .select("id").collect().map(_.getLong(0)).toSet
      === Set(0L, 10L, 20L))
  }

  test("compactBatchOutputKeeping refuses non-canonical numeric " +
      "partition names (keep membership vs fold filter disagreement)") {
    val dir = tempDir("graft_noncanon") + "/t"
    Seq(2L, 3L).foreach { b =>
      Seq((b, s"row$b")).toDF("id", "text")
        .withColumn("batch_id", lit(b))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(dir)
    }
    // forge a foreign layout: batch_id=02 READS as value 2, but the
    // directory name "02" is not the canonical string of that value
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "batch_id=2"),
      new org.apache.hadoop.fs.Path(dir, "batch_id=02")))
    val e = intercept[IllegalArgumentException] {
      Pipelines.compactBatchOutputKeeping(spark, dir, Seq("3"))
    }
    assert(e.getMessage.contains("non-canonical"))
  }

  test("serving sinks for the compressed stores: quantized + refined " +
      "micro-batches ≡ one-shot query-table serves, replay rewrites " +
      "only their own partition") {
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val base = tempDir("graft_srvsinks")
    VectorStore.write(VectorCodec.Int8, emb, cents, base + "/qidx")
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, base + "/pidx")
    emb.write.parquet(base + "/emb")
    implicit val sqlCtx = spark.sqlContext
    def qframe(ids: Seq[Long]) = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    def qrows(ids: Seq[Long]) = ids.map(id => id ->
      (emb.filter(col("vec_id") === id)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toVector: Seq[Double]))
    // HOT tier: int8 store through vectorServingSink
    val memQ = MemoryStream[(Long, Seq[Double])]
    val sq = Pipelines.vectorServingSink(
      memQ.toDS().toDF("query_id", "embedding"), VectorCodec.Int8,
        cents, base + "/qidx",
      base + "/qout", base + "/qckpt", k = 5, nProbe = 2)
    memQ.addData(qrows(Seq(0L, 1L))); sq.processAllAvailable()
    memQ.addData(qrows(Seq(2L))); sq.processAllAvailable(); sq.stop()
    def rs(df: org.apache.spark.sql.DataFrame, score: String) = df
      .select(col("query_id"), col("vec_id"), col(score)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val qidx = Similarity.readIvfIndex(spark, base + "/qidx")
    val qout = spark.read.parquet(base + "/qout")
    assert(rs(qout.filter(col("batch_id") === 0), "q_sim") ===
      rs(VectorStore.multiTopK(VectorCodec.Int8, qidx, cents,
        qframe(Seq(0L, 1L)), 5, 2), "q_sim"))
    assert(rs(qout.filter(col("batch_id") === 1), "q_sim") ===
      rs(VectorStore.multiTopK(VectorCodec.Int8, qidx, cents,
        qframe(Seq(2L)), 5, 2), "q_sim"))
    // crash replay of batch 1: identical catalog, no duplicates
    val beforeQ = rs(qout, "q_sim")
    Pipelines.processVectorServeBatch(qframe(Seq(2L)), VectorCodec.Int8, cents,
      base + "/qidx", base + "/qout", 1L, 5, 2)
    assert(rs(spark.read.parquet(base + "/qout"), "q_sim") === beforeQ)
    assert(spark.read.parquet(base + "/qout").count() === 15)
    // COLD tier: two-stage refined store through vectorServingSink
    val memP = MemoryStream[(Long, Seq[Double])]
    val sp = Pipelines.vectorServingSink(
      memP.toDS().toDF("query_id", "embedding"), VectorCodec.Pq(cb), cents,
      base + "/pidx", base + "/pout", base + "/pckpt",
      k = 5, nProbe = 2, rerank = Some((base + "/emb", 20)))
    memP.addData(qrows(Seq(0L, 1L))); sp.processAllAvailable()
    memP.addData(qrows(Seq(2L))); sp.processAllAvailable(); sp.stop()
    val pidx = spark.read.parquet(base + "/pidx")
    val pout = spark.read.parquet(base + "/pout")
    assert(rs(pout.filter(col("batch_id") === 0), "cos_sim") ===
      rs(VectorStore.multiTopKRefined(VectorCodec.Pq(cb), pidx, emb, cents,
        qframe(Seq(0L, 1L)), 5, 2, 20), "cos_sim"))
    val beforeP = rs(pout, "cos_sim")
    Pipelines.processVectorServeBatch(qframe(Seq(2L)), VectorCodec.Pq(cb),
      cents,
      base + "/pidx", base + "/pout", 1L, 5, 2, Some((base + "/emb", 20)))
    assert(rs(spark.read.parquet(base + "/pout"), "cos_sim") === beforeP)
  }

  test("serving sink skips tombstoned ids: one micro-batch over a float " +
      "and a PQ index with deletions ≡ the one-shot serve over " +
      "readIvfIndex") {
    import graft.similarity.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val base = tempDir("graft_srvtomb")
    emb.write.parquet(base + "/emb")
    implicit val sqlCtx = spark.sqlContext
    val qframe = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val qrows = qframe.select(col("query_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toVector: Seq[Double]))
    type Frame = org.apache.spark.sql.DataFrame
    def rs(df: Frame) = df
      .select(col("query_id"), col("vec_id"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def check(name: String, codec: VectorCodec,
        rerank: Option[(String, Int)])(oneShot: Frame => Frame): Unit = {
      val dir = s"$base/$name"
      VectorStore.write(codec, emb, cents, dir)
      // erase every id the intact index would serve
      val erased = rs(oneShot(Similarity.readIvfIndex(spark, dir))).map(_._2)
      Similarity.deleteFromIvfIndex(erased.toSeq.toDF("vec_id"), dir, "erase")
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = Pipelines.vectorServingSink(
        mem.toDS().toDF("query_id", "embedding"), codec, cents, dir,
        s"$base/$name-out", s"$base/$name-ckpt", k = 5, nProbe = 2,
        rerank = rerank)
      mem.addData(qrows.toSeq); q.processAllAvailable(); q.stop()
      val served = rs(spark.read.parquet(s"$base/$name-out"))
      assert(served.nonEmpty, name)
      assert(served.map(_._2).intersect(erased).isEmpty, name)
      assert(served === rs(oneShot(Similarity.readIvfIndex(spark, dir))), name)
    }
    check("float", VectorCodec.Float, None)(
      VectorStore.multiTopK(VectorCodec.Float, _, cents, qframe, 5, 2))
    check("pq", VectorCodec.Pq(cb), Some((base + "/emb", 20)))(
      VectorStore.multiTopKRefined(VectorCodec.Pq(cb), _, emb, cents, qframe,
        5, 2, 20))
  }

  test("fold-in-progress marker: a mid-fold sink write or as-of read " +
      "fails loudly; a completed fold clears the marker") {
    val base = tempDir("graft_foldmark")
    val idx = base + "/idx"; val out = base + "/out"
    Seq(0L, 1L, 2L).foreach { b =>
      Pipelines.processSegmentDedupBatch(
        Seq((b * 10 + 1, s"alpha beta gamma $b")).toDF("doc_id", "text"),
        idx, out, b)
    }
    // forge a crashed/concurrent fold: the marker alone must refuse
    // every sink write and as-of read on that dir
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(out,
      "_graft_fold_inprogress"), true).close()
    val e1 = intercept[IllegalArgumentException] {
      Pipelines.processSegmentDedupBatch(
        Seq((99L, "mid fold write")).toDF("doc_id", "text"), idx, out, 3L)
    }
    assert(e1.getMessage.contains("fold is in progress"))
    val e2 = intercept[IllegalArgumentException] {
      Pipelines.readBatchOutputAsOf(spark, out, 2L)
    }
    assert(e2.getMessage.contains("fold is in progress"))
    // the serve sink checks its catalog the same way
    val e3 = intercept[IllegalArgumentException] {
      Pipelines.processVectorServeBatch(
        Seq((0L, Seq(1.0, 0.0))).toDF("query_id", "embedding"),
        VectorCodec.Float,
        Seq(Seq(1.0, 0.0)), idx, out, 3L, 5, 1)
    }
    assert(e3.getMessage.contains("fold is in progress"))
    // so do the gate cores, row-local (LM, NB) and index-joining
    // (memorization, community) alike: nothing lands mid-fold
    def midFold(dir: String)(write: String => Unit): Unit = {
      fs.create(new org.apache.hadoop.fs.Path(dir,
        "_graft_fold_inprogress"), true).close()
      val e = intercept[IllegalArgumentException](write(dir))
      assert(e.getMessage.contains("fold is in progress"), dir)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "batch_id=0")))
    }
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    midFold(base + "/lm") { d =>
      Pipelines.processLmGateBatch(docs,
        graft.textanalysis.TextAnalysis.lmTrain(docs), d, 0L)
    }
    midFold(base + "/nb") { d =>
      Pipelines.processNbGateBatch(docs, graft.quality.NbClassifier.nbTrain(
        docs, col("doc_id") === 1L, 32), d, 0L, 0L)
    }
    midFold(base + "/mem") { d =>
      Pipelines.processMemorizationGateBatch(docs,
        graft.textanalysis.TextAnalysis.memorizationIndex(docs, 2), d, 0L,
        maxDupFrac = 0.5, n = 2)
    }
    midFold(base + "/lpa") { d =>
      Pipelines.processCommunityAssignBatch(docs,
        Seq((1L, 1L), (2L, 1L)).toDF("node", "community"),
        b => b.select(col("doc_id").as("s"), col("doc_id").as("t")), d, 0L)
    }
    fs.delete(new org.apache.hadoop.fs.Path(out,
      "_graft_fold_inprogress"), false)
    // a REAL fold brackets its destructive window and clears the
    // marker: afterwards sink writes and as-of reads work again
    Pipelines.compactBatchOutputKeeping(spark, out, Seq("2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out,
      "_graft_fold_inprogress")))
    Pipelines.processSegmentDedupBatch(
      Seq((31L, "post fold write ok")).toDF("doc_id", "text"),
      idx, out, 3L)
    assert(Pipelines.readBatchOutputAsOf(spark, out, 3L).count() > 0)
  }
}
