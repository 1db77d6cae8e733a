package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import graft.Artifacts
import graft.cdc.Cdc
import graft.quality.RuleBasedScorer
import graft.similarity.{Similarity, VectorCodec, VectorStore}

/** The reference's two stream processors re-expressed as Structured
  * Streaming (SURVEY.md §2.8 ST1-ST8):
  *
  *   cdc.documents ─(quality enrich)→ quality.checks ─(index upsert)→ "ES"
  *
  * Every transform here is the *same function* applied in batch mode
  * by SparkEntry queries (transform parity, SURVEY §7.5.5): a
  * streaming DataFrame flows through Cdc.pipeline / enrich unchanged.
  * Sources/sinks are injected (MemoryStream in tests, Kafka in prod —
  * options are config, not code, matching the reference's env-driven
  * wiring).
  *
  * Scale notes:
  *  - The enrichment stage is stateless + narrow → scales with
  *    partition count, no state store involved (reference ST4: its
  *    processors are stateless too).
  *  - View-stats is a stateful streaming aggregation in update mode —
  *    the Spark-native form of the reference's Redis INCR/PFADD
  *    counters; state is per-key (doc_id), compact, RocksDB-backed on
  *    a real cluster.
  *  - The upsert sink dedups each micro-batch by key before merging
  *    (ST7 last-write-wins by version, then ts) — idempotent under
  *    replay, which is what makes checkpoint recovery exactly-once.
  *
  * Every `*Sink` here attaches through [[startSink]], which states the
  * exactly-once contract they share once; their batch cores write
  * through [[writeBatchPartition]].
  */
object Pipelines {

  /** Stage 1 (data-quality service): CDC envelope JSON → op/payload
    * filter → flatten → rule-based quality enrichment
    * (reference services/data-quality/app/main.py:206-244).
    */
  def qualityEnrich(envelopes: DataFrame, block: Boolean = false): DataFrame = {
    val flat = Cdc.pipeline(envelopes)
    val scored = RuleBasedScorer.score(flat, "text")
    RuleBasedScorer.qualityGate(scored, block)
      .withColumn("quality_provider", lit("rule-based"))
      .withColumn("quality_model", lit("graft-v1"))
  }

  /** The enriched projection shared by batch + streaming (FIXTURES §4
    * flat shape; struct-free so engines hash it identically).
    */
  def enrichedProjection(enriched: DataFrame): DataFrame =
    enriched.select("doc_id", "lang", "content_size", "status", "version",
      "quality_score", "quality_is_valid", "has_pii",
      "completeness", "consistency", "pii_detection", "language_quality",
      "quality_provider", "quality_model")

  /** Stage 2 (event-processor): keyed upsert into the "search index"
    * table — last write per doc wins, ordered by (version, ts_ms)
    * (reference services/event/app/main.py:71-77: ES doc id = record
    * id). Pure function over (current index, new batch): the one merge
    * that [[startIndexSink]] and batch backfills both run.
    */
  def upsertByKey(index: DataFrame, batch: DataFrame, key: String,
      versionCols: Seq[String]): DataFrame =
    latestPerKey(index.unionByName(batch), key, versionCols)

  /** [[upsertByKey]]'s winner rule over the union of both sides. */
  private def latestPerKey(rows: DataFrame, key: String,
      versionCols: Seq[String]): DataFrame = {
    // final tiebreak = content hash: rows tied on every version column
    // must still pick a DETERMINISTIC winner or replays diverge. The
    // hash input is the JSON of the logical row with nulls kept — raw
    // xxhash64 over columns SKIPS null children, so rows differing
    // only in which column is null would hash identically. The
    // physical bucket column stays out of it, so the sink and a batch
    // replay (which has none) pick the same winner
    val contentHash = xxhash64(to_json(
      struct(rows.columns.filterNot(_ == bucketCol).sorted.toIndexedSeq
        .map(col): _*),
      Map("ignoreNullFields" -> "false")))
    // the bucket is a function of the key, so (bucket, key) groups the
    // rows exactly as the key alone does, and input hash-partitioned
    // by bucket needs no further exchange
    val groups = rows.columns.filter(_ == bucketCol).toSeq :+ key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*)
      .orderBy(versionCols.map(c => col(c).desc) :+ contentHash.asc: _*)
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Bucket assignment for the keyed index layout: which
    * `__bucket=N` partition a key's row lives in. Fixed for an index's
    * lifetime: [[startIndexSink]] pins `nBuckets` at the first batch
    * (changing it means rebuilding the index).
    */
  def indexBucket(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong)).cast("int")

  private val bucketCol = "__bucket"
  private val layoutFile = "_index.json"
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** What an index pins in `<indexDir>/_index.json`: the row schema
    * including the bucket column (all nullable, no field metadata),
    * the key column and the bucket count.
    */
  private final case class IndexLayout(schema: StructType, key: String,
      nBuckets: Int) {
    override def toString: String =
      s"key $key, $nBuckets buckets, ${schema.simpleString}"
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readLayout(fs: FileSystem, indexDir: String)
      : Option[IndexLayout] = {
    val p = new Path(indexDir, layoutFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val n = try json.readTree(in) finally in.close()
      Some(IndexLayout(
        DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType],
        n.get("key").asText, n.get("nBuckets").asInt))
    }
  }

  /** Written to a tmp file and renamed: readers see all of it or none. */
  private def writeLayout(fs: FileSystem, indexDir: String,
      l: IndexLayout): Unit = {
    val n = json.createObjectNode().put("key", l.key).put("nBuckets", l.nBuckets)
    n.set[com.fasterxml.jackson.databind.JsonNode]("schema",
      json.readTree(l.schema.json))
    val tmp = new Path(indexDir, layoutFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(json.writeValueAsBytes(n)) finally out.close()
    if (!fs.rename(tmp, new Path(indexDir, layoutFile)))
      throw new java.io.IOException(s"index sink: writing $layoutFile failed")
  }

  private def pinnedLayout(spark: SparkSession, indexDir: String): IndexLayout =
    readLayout(fsOf(spark, indexDir), indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir has no $layoutFile: not an index written by startIndexSink"))

  private def allNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, allNullable(f.dataType))))
    case a: ArrayType => ArrayType(allNullable(a.elementType))
    case m: MapType => MapType(allNullable(m.keyType), allNullable(m.valueType))
    case other => other
  }

  /** The rows of some bucket directories, read with the pinned schema
    * (no inference job); a bucket with no directory holds no rows.
    */
  private def readBuckets(spark: SparkSession, indexDir: String,
      schema: StructType, buckets: Seq[Int]): DataFrame = {
    val fs = fsOf(spark, indexDir)
    val dirs = buckets.map(b => new Path(indexDir, s"$bucketCol=$b"))
      .filter(fs.exists).map(_.toString)
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", indexDir)
      .parquet(dirs: _*)
  }

  /** Read an index written by [[startIndexSink]] without the physical
    * bucket column, with the schema its `_index.json` pins (building
    * the frame runs no job).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(pinnedLayout(spark, indexDir).schema)
      .parquet(indexDir).drop(bucketCol)

  /** Point lookup against the bucketed index. The probe (a constant)
    * is cast to the key's pinned type, so an Int literal finds a Long
    * key, and its bucket under the pinned `nBuckets` is computed on
    * the driver: the scan lists and reads that ONE bucket directory
    * (none if it does not exist) — the reason the index is bucketed at
    * all. The bucket predicate stays in the plan as a PartitionFilter.
    * `keyCol` must be the key the index is bucketed on.
    *
    * The key predicate is `array_contains(array(probe), key)`: the
    * folded `array(probe)` is an array literal, which generated code
    * reaches by reference, so every lookup reuses one set of compiled
    * classes (`key === probe` writes the probe into the Java source
    * and compiles anew per key). The trade-off: the key is no longer
    * pushed down to Parquet row-group statistics. A bucket holds a few
    * dozen rows in one row group here (about 23 at 740 rows over 32
    * buckets), so nothing is lost; at cluster scale the sink target
    * is Delta or Iceberg (see [[startIndexSink]]), whose own key
    * skipping replaces it.
    */
  def indexPointLookup(spark: SparkSession, indexDir: String, keyCol: String,
      value: Column): DataFrame = {
    val layout = pinnedLayout(spark, indexDir)
    require(keyCol == layout.key,
      s"$indexDir is bucketed on ${layout.key}, not $keyCol")
    val probe = value.cast(layout.schema(keyCol).dataType)
    // the probe's bucket, evaluated on the driver: analysis only, no job
    val bucket = spark.emptyDataFrame.select(indexBucket(probe, layout.nBuckets))
      .queryExecution.analyzed.expressions.head
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
    require(bucket.foldable, s"the probe must be a constant, got $value")
    val b = bucket.eval().asInstanceOf[Int]
    readBuckets(spark, indexDir, layout.schema, Seq(b))
      .filter(col(bucketCol) === b && array_contains(array(probe), col(keyCol)))
      .drop(bucketCol)
  }

  val defaultIndexBuckets = 32

  /** Attach the streaming index sink: micro-batches merge into a
    * bucket-partitioned parquet directory (`__bucket=N` subdirs,
    * N = pmod(xxhash64(key), nBuckets)) via upsertByKey. Each batch
    * reads, merges, and rewrites ONLY the buckets its keys hash into
    * — O(batch ∩ buckets), not O(index) — so a 1-doc micro-batch
    * against a 100 TB index rewrites one bucket directory. At cluster
    * scale the sink target is a Delta/Iceberg table and this merge is
    * its MERGE INTO; bucketed parquet-rewrite keeps the local harness
    * dependency-free while exercising the same dirty-partition shape.
    *
    * Pinned layout: the first batch writes `<indexDir>/_index.json`
    * (tmp file + rename, before any bucket exists; Spark's listing
    * skips `_` files) holding the schema with `__bucket`, nullability
    * dropped, the key column and `nBuckets`. Every later batch — after
    * a restart too — must match it, or it throws before touching a
    * bucket: a different `nBuckets` would spread one key over two
    * buckets. [[readIndex]], [[indexPointLookup]] and the sink's own
    * read of the dirty buckets use that schema instead of inferring
    * one.
    *
    * Per batch: one job collects each partition's distinct buckets
    * (and fills the batch cache); the dirty buckets' rows and the batch
    * then go through ONE exchange, hash-partitioned by bucket into
    * min(dirty, defaultParallelism) partitions, so the buckets are
    * merged and written in parallel, one file each.
    *
    * Crash safety, per bucket: at every instant `dst/__bucket=N` or
    * `bak/__bucket=N` holds that bucket's complete pre- or post-merge
    * rows. A crash mid-rotation is healed at the next batch start
    * (backup promoted iff its live dir is missing), and the merge
    * itself is idempotent under checkpoint replay, so re-running a
    * half-installed batch converges to the same index.
    */
  def startIndexSink(enriched: DataFrame, indexDir: String,
      checkpointDir: String, nBuckets: Int = defaultIndexBuckets)
      : StreamingQuery =
    startSink(enriched, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val fs = fsOf(spark, indexDir)
      val dst = new Path(indexDir)
      val bakRoot = new Path(indexDir + "__bak")
      val tmp = new Path(indexDir + "__tmp")
      // Hadoop rename/delete signal failure by RETURNING false;
      // treat that as fatal so the micro-batch fails loudly and the
      // checkpoint retries, instead of silently losing the index
      def must(ok: Boolean, what: String): Unit =
        if (!ok) throw new java.io.IOException(s"index sink: $what failed")
      val withBucket = batch
        .withColumn(bucketCol, indexBucket(col("doc_id"), nBuckets))
      val layout = IndexLayout(
        allNullable(withBucket.schema).asInstanceOf[StructType], "doc_id",
        nBuckets)
      readLayout(fs, indexDir) match {
        case None =>
          fs.mkdirs(dst)
          writeLayout(fs, indexDir, layout)
        case Some(pinned) if pinned != layout =>
          throw new IllegalStateException(s"index sink: $indexDir is " +
            s"pinned to ($pinned) but this batch has ($layout); " +
            "changing the layout means rebuilding the index")
        case _ =>
      }
      // recovery: promote any backed-up bucket whose live dir is
      // missing (crash between the two renames below), drop the
      // rest as stale, and clear a half-written tmp
      if (fs.exists(bakRoot)) {
        fs.listStatus(bakRoot).foreach { st =>
          val live = new Path(dst, st.getPath.getName)
          if (!fs.exists(live)) {
            fs.mkdirs(dst)
            must(fs.rename(st.getPath, live), s"restore ${st.getPath.getName}")
          } else fs.delete(st.getPath, true)
        }
        fs.delete(bakRoot, true)
      }
      fs.delete(tmp, true)
      Artifacts.scoped { a =>
        a.persist(withBucket)
        // ≤ nBuckets ints per partition — driver-safe
        val dirty = withBucket.select(bucketCol).rdd
          .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet))
          .collect().flatten.distinct.sorted
        if (dirty.nonEmpty) {
          // an explicit partition count: AQE never coalesces it
          val rows = readBuckets(spark, indexDir, layout.schema, dirty)
            .unionByName(withBucket)
            .repartition(math.min(dirty.length,
              spark.sparkContext.defaultParallelism), col(bucketCol))
          latestPerKey(rows, "doc_id", Seq("version", "ts_ms"))
            .write.mode("overwrite").partitionBy(bucketCol)
            .parquet(tmp.toString)
          dirty.foreach { b =>
            val name = s"$bucketCol=$b"
            val t = new Path(tmp, name)
            val d = new Path(dst, name)
            val k = new Path(bakRoot, name)
            if (fs.exists(t)) {
              fs.mkdirs(dst)
              fs.mkdirs(bakRoot)
              if (fs.exists(d)) must(fs.rename(d, k), s"rotate $name")
              must(fs.rename(t, d), s"install $name")
              fs.delete(k, true)
            }
          }
          fs.delete(bakRoot, true)
          fs.delete(tmp, true)
        }
      }
    }

  /** J2: enrichment lookup — the stream joins the static blob/content
    * table by s3_key (reference data-quality/app/main.py:99-116
    * fetches MinIO content per event). Stream-static left join: the
    * static side broadcasts when small; no state store involved.
    */
  def enrichWithContent(flattened: DataFrame, content: DataFrame): DataFrame =
    flattened
      .join(content.select(col("s3_key").as("c_key"),
        col("content").as("blob_content")),
        flattened("s3_key") === col("c_key"), "left")
      .drop("c_key")
      .withColumn("has_content", col("blob_content").isNotNull)

  /** Stage the two sides of the S12/J2 enrichment join as catalog
    * tables CO-BUCKETED on the blob key (round-11 verdict #4 — the
    * [[graft.graph.Communities]] staged-edges pattern applied to the
    * content lookup): the flattened CDC frame and the blob/content
    * table land pre-hash-partitioned on `s3_key`, so every later
    * enrichment readout joins them file-to-file with ZERO corpus
    * exchanges — at 100 TB the content table is the big side, and
    * this is what keeps it from reshuffling on every serve.
    */
  def stageEnrichInputs(flattened: DataFrame, content: DataFrame,
      flatTable: String, contentTable: String, buckets: Int = 32): Unit = {
    graft.ops.BucketedTables.writeBucketed(flattened, flatTable,
      "s3_key", buckets)
    graft.ops.BucketedTables.writeBucketed(
      content.select(col("s3_key"), col("content").as("blob_content")),
      contentTable, "s3_key", buckets)
  }

  /** [[enrichWithContent]] served from the STAGED layouts — identical
    * output (q_enrich_content_staged shares the one-shot oracle
    * verbatim), different plan: the s3_key join is a merge join of
    * two co-bucketed presorted tables with no exchange on either
    * side. The merge hint pins it — a broadcast would forget the
    * buckets and re-ship the content side per serve.
    */
  def enrichWithContentStaged(spark: SparkSession, flatTable: String,
      contentTable: String): DataFrame =
    spark.table(flatTable).hint("merge")
      .join(spark.table(contentTable), Seq("s3_key"), "left")
      .withColumn("has_content", col("blob_content").isNotNull)

  /** S9: Kafka JSON sink projection — the record re-serialized as the
    * (key, value) pair a Kafka writer expects (reference
    * data-quality/app/main.py:217-233 value_serializer="json").
    */
  def toKafkaJson(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** ST4: the Redis counter/HLL state as a stateful streaming agg —
    * per-doc view totals + approximate unique visitors, update mode.
    */
  def viewStatsStream(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "view")
      .select(graft.ops.StatsOps.docKey(col("props")).as("doc_id"),
        col("user_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("total_views"),
        approx_count_distinct(col("user_id")).as("unique_views"))

  /** Per-doc analytics state for the custom-state variant: exact view
    * total + an HLL sketch of the visitor set. The sketch is a
    * FIXED-SIZE blob (lgK=12, HLL_4 → ≤ ~2.5 KiB compact, exact in
    * list/set mode below ~hundreds of visitors), so per-key state is
    * CONSTANT in visitor count — the property that keeps a viral
    * doc on a 100 TB stream from growing its state-store entry
    * without bound. Same sketch family as Spark's `hll_sketch_agg`
    * (bundled datasketches-java), so blobs interoperate with the
    * SQL-side sketch column in [[graft.ops.StatsOps]].
    */
  case class ViewState(total: Long, sketch: Array[Byte])

  private val HllLgK = 12

  /** The state transition, factored out pure so specs can pin the
    * bounded-state contract directly: totals are exact, the sketch
    * absorbs any number of visitors at fixed size.
    */
  private[streaming] def updatedViewState(prev: Option[ViewState],
      users: Iterator[Long]): ViewState = {
    import org.apache.datasketches.hll.HllSketch
    val sk = prev.map(p => HllSketch.heapify(p.sketch))
      .getOrElse(new HllSketch(HllLgK))
    var n = 0L
    users.foreach { u => sk.update(u); n += 1 }
    ViewState(prev.map(_.total).getOrElse(0L) + n, sk.toCompactByteArray)
  }

  private[streaming] def viewStateEstimate(s: ViewState): Long =
    Math.round(org.apache.datasketches.hll.HllSketch.heapify(s.sketch)
      .getEstimate)

  /** ST4 with custom state + TTL: flatMapGroupsWithState over view
    * events — the full Redis analog including key expiry (the
    * reference's 300 s cache TTL, db/config.py:7). State for a doc
    * id that stays cold past `ttl` is dropped at the next trigger.
    *
    * `ttl` ≤ 0 disarms expiry: armed processing-time timeouts keep a
    * query alive firing no-data batches, so bounded runs
    * (AvailableNow, processAllAvailable harnesses) must pass ZERO;
    * continuous deployments pass the real TTL.
    */
  def viewStatsWithState(views: org.apache.spark.sql.Dataset[(Long, Long)],
      ttl: java.time.Duration): org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import views.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // even an un-armed ProcessingTimeTimeout operator keeps bounded
    // queries alive with no-data batches — select it only when expiry
    // is actually wanted
    val timeoutConf =
      if (ttl.toMillis > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    views
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf) {
        (docId: Long, rows: Iterator[(Long, Long)], state: GroupState[ViewState]) =>
          if (state.hasTimedOut) {
            state.remove() // Redis EXPIRE analog
            Iterator.empty
          } else {
            val next = updatedViewState(state.getOption, rows.map(_._2))
            state.update(next)
            if (ttl.toMillis > 0) state.setTimeoutDuration(ttl.toMillis)
            Iterator((docId, next.total, viewStateEstimate(next)))
          }
      }
  }

  /** Beyond-reference extension (ST5 notes): event-time tumbling
    * window with watermarked late-data handling.
    */
  def windowedEventCounts(events: DataFrame, tsCol: String): DataFrame =
    events
      .withWatermark(tsCol, "10 minutes")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Beyond-reference extension: exactly-once streaming dedup — drops
    * replays of the same `idCol` across micro-batches. The watermark
    * bounds the dedup state: an id older than the delay is forgotten,
    * so state stays O(events-per-delay-window) instead of growing
    * with the whole 100 TB/day stream. This is the streaming face of
    * Dedup.dropExactDuplicates (at-least-once sources like Kafka
    * replay on failure; the sink sees each id once).
    */
  def dedupedStream(events: DataFrame, idCol: String, tsCol: String,
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicates(Seq(idCol, tsCol))

  /** As `dedupedStream`, but dedups on the id ALONE: two events with
    * the same id and different timestamps inside the watermark window
    * still collapse to the first arrival
    * (`dropDuplicatesWithinWatermark`). Use when upstream retries
    * re-stamp the event time; use `dedupedStream` when a replay is
    * byte-identical.
    */
  def dedupedStreamById(events: DataFrame, idCol: String, tsCol: String,
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Beyond-reference extension: STREAMING near-dup corpus
    * construction — the online form of [[graft.dedup.Dedup
    * .dedupIncrement]]. Each micro-batch is deduped against the
    * persisted signature index (and itself); survivors' signatures
    * append to the index, which IS the deduped corpus (id, text,
    * sig, batch_id) — readable by any downstream job.
    *
    * Replay: self-matches are id-excluded in the probe, so a replayed
    * survivor survives again and overwrites itself — never
    * duplicates, never self-drops.
    *
    * Scale: the index pays signatures once per DOC ever admitted;
    * each batch signs only itself and probes by band bucket (the
    * batch side is the small side of the join). The 100 TB corpus
    * never re-shingles and never shuffles its text.
    */
  def processNearDupBatch(batch: DataFrame, indexDir: String,
      batchId: Long, n: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100,
      hashMode: String = "xx"): Unit = {
    import graft.dedup.Dedup
    val spark = batch.sparkSession
    requireNoFoldInProgress(spark, indexDir)
    // Hadoop FS, not java.io.File: the index dir is a cluster path
    // (HDFS/S3) everywhere except the local harness
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val index =
      if (fs.exists(indexPath))
        spark.read.parquet(indexDir).select("id", "text", "sig")
      else Dedup.minhashSignatures(batch.limit(0), "doc_id", "text",
        n, k, hashMode) // empty bootstrap with the right schema
    val survivors = Dedup.dedupIncrement(batch, index, "doc_id", "text",
      n, k, bands, threshold, maxBucketSize, hashMode)
    // writeBatchOutput's checkpoint is the batch's ONLY action over
    // the survivors frame (releasing dedupIncrement's one-shot caches)
    // and makes the signature rows index-independent before the
    // index itself is overwritten
    writeBatchOutput(
      Dedup.minhashSignatures(survivors, "doc_id", "text", n, k, hashMode),
      indexDir, batchId)
  }

  /** The streaming entry: docs (doc_id, text) → near-dup-deduped
    * corpus at `indexDir` through the batch core above.
    */
  def nearDupIndexingSink(docs: DataFrame, indexDir: String,
      checkpointDir: String, hashMode: String = "xx"): StreamingQuery =
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processNearDupBatch(batch, indexDir, batchId, hashMode = hashMode)
    }

  /** Beyond-reference extension: STREAMING segment-level dedup — the
    * online form of [[graft.dedup.Dedup.segmentDedup]] (CCNet
    * paragraph dedup): each micro-batch keeps only segments never
    * seen before (across ALL prior batches and within the batch
    * itself), rebuilt documents append to `outDir` and the kept
    * segments' digests append to the digest index at `indexDir` —
    * the cross-batch "seen" state IS a parquet table of 16-byte
    * digests, not driver memory.
    *
    * Replay: the probe EXCLUDES the current batch's own index
    * partition — a replayed batch N never collides with its own
    * earlier digest write and recomputes the identical winners.
    *
    * Scale: per batch, one digest aggregation over the batch (small
    * side) + one anti-join against the index digests (16 bytes/row,
    * partition-pruned to exclude self) — the accumulated corpus
    * never re-segments and its text never shuffles.
    */
  def processSegmentDedupBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, segWords: Int = 3): Unit = {
    import graft.dedup.Dedup
    val spark = batch.sparkSession
    // checked before the index READ, not just at the writes: a
    // half-folded digest index would admit already-seen segments
    requireNoFoldInProgress(spark, indexDir)
    requireNoFoldInProgress(spark, outDir)
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen =
      if (fs.exists(indexPath))
        // batch_id is the partition column: the self-exclusion prunes
        // at the directory level on replay
        spark.read.parquet(indexDir)
          .filter(col("batch_id") =!= batchId).select("digest")
      else spark.emptyDataFrame.select(lit("").as("digest")).limit(0)
    // materialized BEFORE either write: both the doc rebuild and the
    // digest append derive from this cut, so neither write plan reads
    // the directory it is writing
    Artifacts.scoped { a =>
      val kept = a.checkpoint(Dedup.segmentDedupIncrement(batch, seen,
        "doc_id", "text", segWords))
      val nonEmpty = !kept.isEmpty
      writeBatchPartition(Dedup.rebuildSegmentedDocs(kept, "doc_id", "text"),
        outDir, batchId, nonEmpty)
      writeBatchPartition(kept.select(col("digest")), indexDir, batchId,
        nonEmpty)
    }
  }

  /** Attach a micro-batch sink: the one place every stream in this
    * file starts. The exactly-once contract all of them share:
    *
    *  - Spark's checkpoint at `checkpointDir` re-delivers a batch whose
    *    commit was lost under the SAME batch id;
    *  - `core` is idempotent by batch id: its writes go through
    *    [[writeBatchPartition]], which dynamic-overwrites exactly the
    *    batch's own `batch_id=N` partitions, so a replay replaces what
    *    the first attempt wrote instead of duplicating it (the index
    *    sink and the trending state reach the same property by bucket
    *    rotation and by state versions);
    *  - a batch refuses to write while a retention fold holds its target
    *    dir ([[requireNoFoldInProgress]]).
    *
    * `owner` holds what the stream materializes for its whole life
    * and releases once the query terminates (or fails to start): a
    * cache scoped to one stream must not outlive it. The isActive
    * re-check closes the window where the query died before the
    * listener registered (a double release is harmless).
    */
  private def startSink(stream: DataFrame, checkpointDir: String,
      owner: Artifacts = new Artifacts)(core: (DataFrame, Long) => Unit)
      : StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val q =
      try stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch(core)
        .start()
      catch { case e: Throwable => owner.release(); throw e }
    val streams = q.sparkSession.streams
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) { owner.release(); streams.removeListener(this) }
    }
    streams.addListener(listener)
    if (!q.isActive) { owner.release(); streams.removeListener(listener) }
    q
  }

  /** The exactly-once write of one micro-batch's output (see
    * [[startSink]]): refuse while a retention fold holds `dir`, stamp
    * `batch_id`, and dynamic-overwrite the batch's own partitions under
    * the optional `leading` partition columns. Skips only when there is
    * nothing to write AND the directory does not exist yet: an empty
    * overwrite of an existing dir is a harmless no-op, but an empty
    * CREATE would leave a footerless parquet dir with an unreadable
    * schema (so `nonEmpty = false` means "write only if the dir
    * exists"). The FileSystem is derived from the TARGET dir itself —
    * a sink's index and output may live on different schemes (hdfs://
    * index, s3a:// corpus), so reusing one dir's fs for the other's
    * existence check would throw Wrong FS.
    */
  private def writeBatchPartition(df: DataFrame, dir: String,
      batchId: Long, nonEmpty: Boolean, leading: String*): Unit = {
    requireNoFoldInProgress(df.sparkSession, dir)
    if (nonEmpty || fsOf(df.sparkSession, dir).exists(new Path(dir)))
      df.withColumn("batch_id", lit(batchId))
        .write.partitionBy(leading :+ "batch_id": _*)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(dir)
  }

  /** [[writeBatchPartition]] of a batch core's one output frame: checked
    * against a fold before anything is computed, materialized ONCE (the
    * emptiness probe and the write share it, and the write plan never
    * reads `dir`), then freed. Jobs: the checkpoint, the probe, the
    * write.
    */
  private def writeBatchOutput(df: DataFrame, dir: String,
      batchId: Long): Unit = {
    requireNoFoldInProgress(df.sparkSession, dir)
    Artifacts.scoped { a =>
      val cp = a.checkpoint(df)
      writeBatchPartition(cp, dir, batchId, !cp.isEmpty)
    }
  }

  /** BOUNDED-HISTORY retention for the batch-stamped CATALOG/OUTPUT
    * tables the streaming sinks accumulate forever (the near-dup
    * signature catalog, the segment digest index and its rebuilt
    * corpus, the gate sinks' admitted outputs) — the
    * `compact*Keeping` analog for plain `batch_id=`-partitioned
    * layouts with no tombstone sidecar: every partition NOT in
    * `keep` folds into ONE collapsed partition, kept partitions are
    * never read or rewritten, and the table's full contents are
    * invariant (retention here bounds the PARTITION inventory, not
    * the data — these are append-only catalogs).
    *
    * The collapse key is `-1` for numeric (micro-batch-stamped)
    * layouts — strictly safer than reusing batch 0: no checkpoint
    * replay can ever target it, and the segment sink's
    * `batch_id =!= batchId` self-exclusion probe keeps its exact
    * semantics AND its integral partition type (a string collapse
    * key would flip partition-type inference to STRING and make the
    * numeric probe comparison an ANSI cast failure). String-keyed
    * layouts collapse to `"base"`. A prior collapse partition is
    * itself folded again, so repeated retention stays idempotent.
    *
    * After retention the addressable batch names are exactly
    * {collapse} ∪ keep — reading a folded name returns nothing, and
    * a checkpoint replay of a FOLDED micro-batch would re-append its
    * rows (the BM25/IVF families' documented contract: run retention
    * only behind the stream's replay horizon).
    *
    * For numeric layouts `keep` must be the NEWEST batches
    * (min(keep) > every folded id — enforced): the collapse
    * partition passes every as-of prefix predicate, so folding a
    * batch newer than a kept one would silently leak future rows
    * into time-travel reads. The fold records its boundary (max
    * folded id) in a `_graft_fold_watermark` sidecar so
    * [[readBatchOutputAsOf]] can refuse exactly the destroyed
    * prefixes.
    *
    * Crash contract: in-place rewrite like every compactor here —
    * the folded frame materializes BEFORE any deletion; recover from
    * a mid-sequence crash by rebuild from source.
    *
    * SINGLE-MAINTAINER contract (the index families' documented
    * assumption, stated here because the catalog tables have a live
    * writer): retention deletes partitions and then
    * dynamic-overwrites the fold — a sink micro-batch landing
    * between those two steps can be deleted by the overwrite's
    * partition claim or double-fold on a re-run. QUIESCE THE SINK
    * FIRST (stop the stream or run retention from its own
    * foreachBatch turn); the destructive window is additionally
    * bracketed by a `_graft_fold_inprogress` marker the sink cores
    * and [[readBatchOutputAsOf]] check, so a racing writer fails
    * loudly instead of silently losing its partition (and a crash
    * inside the window refuses all later writes/as-of reads until
    * the fold re-runs or the table is rebuilt); the fold itself
    * never reads kept
    * partitions, so a quiesced sink's checkpoint replays land
    * exactly as before retention, as long as retention runs behind
    * the replay horizon.
    */
  def compactBatchOutputKeeping(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      keep: Seq[String]): Unit = {
    require(keep.nonEmpty,
      "retention needs at least one kept batch")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no batch-stamped table at $dir")
    val parts = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "batch_id=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
    require(parts.nonEmpty,
      s"$dir carries no batch_id partitions — not a batch-stamped " +
        "catalog table")
    def dirName(st: org.apache.hadoop.fs.FileStatus): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(st.getPath.getName.stripPrefix("batch_id="))
    val known = parts.map(dirName).toSet
    val base0 = spark.read.parquet(dir)
    val collapse =
      if (Similarity.integralBatchIds(base0)) "-1"
      else "base"
    require(!keep.contains(collapse),
      s"batch \"$collapse\" is the collapse target and always " +
        "survives retention — name only real batches in keep")
    val missing = keep.filterNot(known)
    require(missing.isEmpty,
      s"kept batches ${missing.mkString(", ")} have no partitions in " +
        s"the table at $dir")
    val keepSet = keep.toSet
    if (collapse == "-1") {
      // membership above checks DIRECTORY names but the fold filter
      // below compares the cast-to-string of the partition VALUE; a
      // non-canonical numeric dir (batch_id=03 reads as value 3)
      // would pass the keep check yet still match the fold filter —
      // its rows duplicated into the collapse partition. The sinks
      // only ever write canonical ids, so a non-canonical name is a
      // foreign table: fail loudly instead of folding it wrong.
      val nonCanonical = known.filter(n =>
        !scala.util.Try(n.toLong.toString == n).getOrElse(false))
      require(nonCanonical.isEmpty,
        s"numeric batch layout at $dir has non-canonical partition " +
          s"names ${nonCanonical.mkString(", ")} — dir names must " +
          "equal the canonical string of their numeric value, or " +
          "keep-membership and the fold filter can disagree")
      // keep must be the NEWEST window: the collapse partition (-1)
      // passes every as-of prefix predicate, so a folded batch NEWER
      // than a kept one would silently leak future rows into every
      // readBatchOutputAsOf result at or above the kept batch
      val foldedIds = (known -- keepSet - "-1").map(_.toLong)
      if (foldedIds.nonEmpty) {
        val keepIds = keep.map(_.toLong)
        require(keepIds.min > foldedIds.max,
          s"keep must be the newest batches: kept ${keepIds.min} is " +
            s"older than folded ${foldedIds.max} — folding a newer " +
            "batch would put its rows into the collapse partition " +
            "and poison every subsequent as-of read")
      }
    }
    // fold boundary for the as-of reader: max batch id ever folded
    // into -1, monotone across repeated folds; written BEFORE any
    // partition delete — a crash mid-fold then leaves a boundary at
    // or ABOVE reality, which only REFUSES as-of reads that might
    // still be answerable (strict/safe). The reverse order would be
    // permissive: a crash between the rewrite landing and the
    // watermark update leaves the old, lower boundary on disk, and
    // readBatchOutputAsOf would admit prefixes the fold just
    // destroyed — silently answering them with the whole collapsed
    // window.
    val newWatermark =
      if (collapse != "-1") None
      else ((known -- keepSet - "-1").map(_.toLong).toSeq ++
        readFoldWatermark(fs, root).toSeq)
        .reduceOption((a, b) => math.max(a, b))
    Artifacts.scoped { a =>
      val folded = a.checkpoint(base0
        .filter(!col("batch_id").cast("string").isin(keep: _*))
        .withColumn("batch_id",
          if (collapse == "-1") lit(-1L).cast(base0.schema("batch_id").dataType)
          else lit(collapse)))
      newWatermark.foreach(writeFoldWatermark(fs, root, _))
      // fold-in-progress marker: the destructive window (partition
      // deletes → collapse overwrite) is now bracketed so a LIVE sink
      // writing the same catalog (the SINGLE-MAINTAINER contract
      // above) fails loudly instead of racing the deletes, and a
      // crash inside the window leaves the marker behind — every
      // later sink write and as-of read refuses until the table is
      // rebuilt or the fold re-run to completion (it clears the
      // marker)
      writeFoldMarker(fs, root)
      parts.foreach(st =>
        if (!keepSet(dirName(st))) fs.delete(st.getPath, true))
      folded.write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(dir)
      clearFoldMarker(fs, root)
    }
  }

  /** SNAPSHOT read of a numeric batch-stamped catalog table — the
    * time-travel member of the catalog family: the sinks' micro-batch
    * clock is monotonic, so the prefix `batch_id <= upToBatch` IS the
    * table as it stood after that batch, as one partition-pruned
    * range predicate (no copy, no restore — the
    * [[graft.similarity.Similarity.readIvfIndexAsOf]] convention for
    * the layouts without a ledger). The retention collapse partition
    * (`-1`, [[compactBatchOutputKeeping]]) holds only batches strictly
    * older than every kept batch (enforced at fold time: keep must
    * be the newest window), so it belongs to every prefix at or
    * above the fold boundary; as-of reads BELOW the boundary — the
    * max folded batch id, persisted by the fold as a watermark
    * sidecar — are REFUSED loudly rather than silently answered with
    * the whole collapsed window. Retention bounds time travel to
    * [boundary, ∞), exactly like the index families' compaction
    * contract. A collapse partition with no watermark (a table
    * folded by a pre-watermark build) falls back to the strictest
    * safe boundary, min(kept) - 1: every folded id is provably below
    * that, so any admitted prefix is still exact.
    */
  def readBatchOutputAsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, upToBatch: Long): DataFrame = {
    require(upToBatch >= 0L, s"upToBatch must be >= 0: $upToBatch")
    requireNoFoldInProgress(spark, dir)
    val df = spark.read.parquet(dir)
    require(df.columns.contains("batch_id") &&
        Similarity.integralBatchIds(df),
      s"$dir is not a numeric batch-stamped catalog table — as-of " +
        "needs the sinks' micro-batch-id layout")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "batch_id=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .map(st => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(st.getPath.getName.stripPrefix("batch_id=")))
    if (names.contains("-1")) {
      val kept = names.filterNot(_ == "-1")
        .flatMap(n => scala.util.Try(n.toLong).toOption)
      val boundary = readFoldWatermark(fs, root)
        .orElse(if (kept.nonEmpty) Some(kept.min - 1) else None)
      require(boundary.exists(upToBatch >= _),
        s"as-of $upToBatch predates the retention fold at $dir " +
          s"(boundary ${boundary.fold("unknown")(_.toString)}): " +
          "batches up to the boundary are merged into the collapse " +
          "partition and prefixes inside it are irrecoverable — " +
          "retention bounds time travel to the kept window")
    }
    df.filter(col("batch_id") <= upToBatch)
  }

  /** The retention fold's boundary sidecar: one underscore-prefixed
    * file (invisible to parquet listings) holding the max batch id
    * ever folded into the collapse partition — what
    * [[readBatchOutputAsOf]] needs to refuse exactly the prefixes
    * the fold destroyed, no more (the kept window plus the fold
    * boundary itself stay addressable).
    */
  private val FoldWatermarkFile = "_graft_fold_watermark"

  private def readFoldWatermark(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(root, FoldWatermarkFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        scala.util.Try(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong).toOption
      } finally in.close()
    }
  }

  private def writeFoldWatermark(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, boundary: Long): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(root, FoldWatermarkFile), true)
    try out.write(boundary.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fold-in-progress marker: present exactly while
    * [[compactBatchOutputKeeping]] is inside its destructive window
    * (partition deletes → collapse overwrite), or forever after a
    * crash inside it. The sinks' batch cores and
    * [[readBatchOutputAsOf]] check it so a concurrent writer fails
    * loudly instead of racing the deletes (its partition could be
    * deleted or double-folded) and a reader never serves a
    * half-folded table. Underscore-prefixed so parquet listings skip
    * it, like the watermark sidecar.
    */
  private val FoldInProgressFile = "_graft_fold_inprogress"

  private def writeFoldMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    fs.create(new org.apache.hadoop.fs.Path(root, FoldInProgressFile),
      true).close()

  private def clearFoldMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(root, FoldInProgressFile),
      false)

  /** Loud single-maintainer guard for the batch-stamped catalog
    * dirs: refuses a sink write or an as-of read while a retention
    * fold holds (or crashed holding) the dir's destructive window.
    * One existence probe on the dir's own FileSystem — no Spark job.
    */
  private[graft] def requireNoFoldInProgress(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(
        new org.apache.hadoop.fs.Path(root, FoldInProgressFile)),
      s"a retention fold is in progress (or crashed mid-fold) at " +
        s"$dir — writes and as-of reads are refused until the fold " +
        "completes (it clears the marker) or the table is rebuilt; " +
        "quiesce retention and sinks onto one maintainer turn")
  }

  /** The streaming entry: docs (doc_id, text) → segment-deduped
    * corpus at `outDir` + digest index at `indexDir` through the
    * batch core above.
    */
  def segmentDedupSink(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, segWords: Int = 3): StreamingQuery =
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processSegmentDedupBatch(batch, indexDir, outDir, batchId, segWords)
    }

  /** Beyond-reference extension: STREAMING decayed counters — the
    * online form of [[graft.ops.StatsOps.trendingByType]]: each
    * micro-batch folds into the persisted per-type trending state
    * (integer micro-score + anchor) via
    * [[graft.ops.StatsOps.mergeTrendingStates]].
    *
    * Exactly-once by STATE VERSIONING rather than partition
    * overwrite — an accumulator can't use the dynamic-overwrite
    * recovery of the other sinks (replaying state = f(state, batch)
    * against already-updated state would double-count). Instead
    * batch N reads the newest version with id < N and (re)writes
    * `v=N`: a replay reads the same input version, which is still on
    * disk, and recomputes the identical output. State is one row per
    * event type (tiny), so versioned full rewrites cost nothing;
    * prune old versions by retention if the topology runs forever.
    */
  /** Version ids present in a trending state dir (empty when the dir
    * doesn't exist). Foreign files are ignored rather than crashing
    * the toLong parse — one shared listing for the write and read
    * paths so the naming scheme can never drift between them.
    */
  private def trendingVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.matches("v=\\d+")).map(_.stripPrefix("v=").toLong)
    else Seq.empty

  /** The versioned trending-state batch core (see the topology doc
    * above). Residual fresh-checkpoint ambiguity (ADVICE r5): the
    * guard below catches a fresh checkpoint over an existing state
    * dir only when some persisted version exceeds the new batch id. A
    * dead incarnation whose MAX version equals the new stream's first
    * batch id (e.g. the old run wrote only v=0 and the new stream
    * also starts at 0) is indistinguishable from a self-replay of
    * this batch's own lost commit, and is silently overwritten —
    * restarting a stream under the same ids still requires deleting
    * (or restoring alongside its checkpoint) the state dir.
    */
  def processTrendingBatch(batch: DataFrame, stateDir: String,
      batchId: Long, halfLifeUs: Long = 86400000000L): Unit = {
    import graft.ops.StatsOps
    val spark = batch.sparkSession
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = trendingVersions(fs, dir)
    val prevVersion = versions.filter(_ < batchId).sorted.lastOption
    // a fresh checkpoint restarts batch ids at 0; over an existing
    // stateDir that would silently ignore ALL persisted state (none
    // has id < 0) and then purge every newer version as a dead
    // incarnation — unrecoverable if the source no longer retains
    // history. stateDir and checkpointDir share a lifecycle: fail
    // fast, don't destroy. (A replay of this batch's OWN version —
    // state written, checkpoint commit lost — has versions ≤ batchId
    // only, and stays allowed.)
    if (prevVersion.isEmpty && versions.exists(_ > batchId))
      throw new IllegalStateException(
        s"trending stateDir $stateDir already has versions up to " +
          s"v=${versions.max} but batch $batchId found none below it — " +
          "the stream was restarted with a fresh checkpoint over an " +
          "existing stateDir. Delete the state dir to truly start over, " +
          "or restore the matching checkpoint.")
    val cur = StatsOps.trendingState(batch, halfLifeUs)
    val merged = prevVersion match {
      case None => cur
      case Some(v) => StatsOps.mergeTrendingStates(
        spark.read.parquet(s"$stateDir/v=$v"), cur, halfLifeUs)
    }
    Artifacts.scoped { a =>
      val out = a.checkpoint(merged)
      out.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
      // versions ABOVE this batch can only belong to a dead stream
      // incarnation (a live run's batch ids are monotone) — left in
      // place they'd shadow the live state in newest-version reads
      versions.filter(_ > batchId).foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v=$v"), true))
    }
  }

  /** The streaming entry: events → versioned trending state at
    * `stateDir` through the versioned batch core above.
    */
  def trendingSink(events: DataFrame, stateDir: String,
      checkpointDir: String, halfLifeUs: Long = 86400000000L)
      : StreamingQuery =
    startSink(events, checkpointDir) { (batch, batchId) =>
      processTrendingBatch(batch, stateDir, batchId, halfLifeUs)
    }

  /** Serving readout of the newest persisted trending state — same
    * shape as the batch [[graft.ops.StatsOps.trendingByType]].
    */
  def readTrendingScores(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    trendingVersions(fs, dir).maxOption match {
      case None => // nothing committed yet → empty result, not a crash
        spark.range(0).select(lit("").as("event_type"),
          lit(0L).as("n_events"), lit(0.0).as("decayed_value"))
      case Some(newest) =>
        spark.read.parquet(s"$stateDir/v=$newest")
          .select(col("event_type"), col("n_events"),
            round(col("score6") / 1e6, 4).as("decayed_value"))
          .orderBy(col("event_type"))
    }
  }

  /** Beyond-reference extension: STREAMING LM-quality gating — the
    * online form of [[graft.textanalysis.TextAnalysis.lmScoreWith]].
    * The bigram model is a FROZEN parquet artifact (trained once on a
    * reference corpus via `lmTrain` + `writeLmModel`); each
    * micro-batch scores against it and documents at or above the nll
    * threshold are dropped. Survivors land in the batch's own
    * partition of `outDir` with their scores ([[writeBatchOutput]]).
    *
    * Scale: the model is loaded ONCE per stream by [[lmGateSink]]
    * (never re-trained or re-listed per batch — the modelDir overload
    * below exists for replay/backfill calls); the batch side of the
    * gram join is the small side, and the model tables shuffle at
    * most once per micro-batch (broadcast when small).
    */
  def processLmGateBatch(batch: DataFrame, modelDir: String,
      outDir: String, batchId: Long, nllThreshold: Double): Unit =
    processLmGateBatch(batch,
      graft.textanalysis.TextAnalysis.readLmModel(batch.sparkSession,
        modelDir), outDir, batchId, nllThreshold)

  def processLmGateBatch(batch: DataFrame,
      model: graft.textanalysis.TextAnalysis.LmModel,
      outDir: String, batchId: Long, nllThreshold: Double = 10.0): Unit = {
    val keep = graft.textanalysis.TextAnalysis
      .lmScoreWith(model, batch, nllThreshold)
      .filter(!col("unusual"))
      .select(col("doc_id"), col("lm_nll"))
    writeBatchOutput(batch.join(keep, "doc_id"), outDir, batchId)
  }

  /** STREAMING DATA SELECTION: each micro-batch scores against a
    * frozen DSIR ratio table (the written
    * [[graft.selection.Dsir.writeDsirModel]] artifact) and keeps the
    * docs whose importance log-weight clears `minLogw` — target-
    * distribution selection applied AT INGEST instead of as a batch
    * pass. The gate is row-local ([[graft.curation.Serving.dsirLogwLocal]]:
    * one literal table, zero state, zero stream-side shuffle), so the
    * sink shape is exactly [[processLmGateBatch]]'s.
    */
  def processDsirGateBatch(batch: DataFrame,
      model: graft.selection.Dsir.DsirModel, outDir: String,
      batchId: Long, minLogw: Double): Unit =
    writeBatchOutput(batch
      .withColumn("dsir_logw", graft.curation.Serving.dsirLogwLocal(model)(
        graft.functions.TextFunctions.words(col("text"))))
      .filter(col("dsir_logw") >= minLogw), outDir, batchId)

  /** The streaming entry for DSIR selection: model read ONCE per
    * stream from the written artifact, then row-local gating per
    * micro-batch (the [[lmGateSink]] lifecycle).
    */
  def dsirGateSink(docs: DataFrame, modelDir: String, outDir: String,
      checkpointDir: String, minLogw: Double): StreamingQuery = {
    val model = graft.selection.Dsir
      .readDsirModel(docs.sparkSession, modelDir)
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processDsirGateBatch(batch, model, outDir, batchId, minLogw)
    }
  }

  /** STREAMING LEARNED-QUALITY GATE: each micro-batch scores against
    * the frozen NB classifier (the written
    * [[graft.quality.NbClassifier.writeNbModel]] artifact) and keeps
    * the docs whose decision score clears `threshold6` micro-nats
    * (0 = the MAP rule) — the learned gate applied AT INGEST. Row
    * local like the DSIR gate (weight literal + bias, zero state,
    * zero stream-side shuffle).
    */
  def processNbGateBatch(batch: DataFrame,
      model: graft.quality.NbClassifier.NbModel, outDir: String,
      batchId: Long, threshold6: Long): Unit =
    writeBatchOutput(batch
      .withColumn("__d6",
        graft.quality.NbClassifier.decision6Local(model)(
          graft.functions.TextFunctions.words(col("text"))))
      .filter(col("__d6") > threshold6)
      .drop("__d6"), outDir, batchId)

  /** The streaming entry for the learned quality gate: classifier
    * read ONCE per stream from the written artifact, then row-local
    * gating per micro-batch (the [[dsirGateSink]] lifecycle).
    */
  def nbGateSink(docs: DataFrame, modelDir: String, outDir: String,
      checkpointDir: String, threshold6: Long = 0L): StreamingQuery = {
    val model = graft.quality.NbClassifier
      .readNbModel(docs.sparkSession, modelDir)
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processNbGateBatch(batch, model, outDir, batchId, threshold6)
    }
  }

  /** Idempotent batch core of [[admissionSink]] — ONE admission
    * decision per micro-batch over ONE shared tokenization
    * ([[graft.curation.Serving.admissionScores]]): where chaining
    * [[lmGateSink]] → [[nbGateSink]] → [[dsirGateSink]] would run
    * three streams, three scans, and three `words(text)` passes, the
    * fused gate scores all three frozen artifacts off a single
    * `__ws` attribute and lands survivors (with their scores — the
    * audit trail of WHY each doc was admitted) in the batch's own
    * partition. Scores are deterministic against frozen literals, so
    * a replay rewrites identical rows.
    */
  def processAdmissionBatch(batch: DataFrame,
      lm: graft.curation.Serving.LmLiteral,
      nb: graft.quality.NbClassifier.NbModel,
      dsir: graft.selection.Dsir.DsirModel,
      outDir: String, batchId: Long, nllThreshold: Double = 10.0,
      nbThreshold6: Long = 0L, minLogw: Double = 0.0): Unit =
    writeBatchOutput(graft.curation.Serving.admit(
        graft.curation.Serving.admissionScores(batch, lm, nb, dsir),
        nllThreshold, nbThreshold6, minLogw).toDF(), outDir, batchId)

  /** [[processAdmissionBatch]] plus the JOIN-SHAPED fourth gate —
    * the memorization/duplication check a real ingest admission
    * always includes: the batch's n-grams probe the frozen gram
    * index and docs over `maxDupFrac` duplicated content are
    * rejected alongside the three row-local gates, still as ONE
    * decision per micro-batch. One tokenize pass, enforced by
    * MATERIALIZATION this time (not just the typed boundary): the
    * (scores + token array) frame localCheckpoints once, and both
    * consumers — the row-local thresholds and the gram explode —
    * read the checkpointed rows, so `words(text)` executes exactly
    * once per document no matter how the optimizer rewrites the
    * downstream join (spec pins zero `split(` below the barrier).
    * Gram-less docs carry no duplication evidence and pass the dup
    * gate (the [[processMemorizationGateBatch]] convention); the
    * admitted rows carry all four scores as the audit trail.
    */
  def processFullAdmissionBatch(batch: DataFrame,
      lm: graft.curation.Serving.LmLiteral,
      nb: graft.quality.NbClassifier.NbModel,
      dsir: graft.selection.Dsir.DsirModel,
      index: DataFrame, outDir: String, batchId: Long,
      nllThreshold: Double = 10.0, nbThreshold6: Long = 0L,
      minLogw: Double = 0.0, maxDupFrac: Double = 0.5,
      n: Int = 5, minDocs: Long = 1L): Unit = {
    import graft.curation.Serving
    val ws = col("__ws")
    Artifacts.scoped { a =>
      val scored = a.checkpoint(batch
        .select(col("doc_id"), col("text"),
          graft.functions.TextFunctions.words(col("text")).as("__ws"))
        .select(col("doc_id"), col("text"),
          Serving.lmNllLocal(lm)(ws).as("lm_nll"),
          graft.quality.NbClassifier.decision6Local(nb)(ws).as("nb_d6"),
          Serving.dsirLogwLocal(dsir)(ws).as("dsir_logw"),
          col("__ws")))
      val dg = scored
        .select(col("doc_id"),
          explode(graft.textanalysis.TextAnalysis
            .ngramsFor(scored)(ws, n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val per = dg
        .join(index.select(col("g"), col("nd")), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          coalesce(sum(when(coalesce(col("nd"), lit(0L)) >= minDocs,
            col("c"))), lit(0L)).as("dup_grams"))
        .select(col("doc_id"),
          when(col("n_grams") > 0,
            expr("(dup_grams * 20000 + n_grams) div (2 * n_grams)") /
              lit(10000.0)).as("dup_frac"))
      writeBatchOutput(scored.drop("__ws")
        .join(per, Seq("doc_id"), "left")
        .filter(col("lm_nll") < nllThreshold &&
          col("nb_d6") > nbThreshold6 &&
          col("dsir_logw") >= minLogw &&
          (col("dup_frac").isNull || col("dup_frac") <= maxDupFrac)),
        outDir, batchId)
    }
  }

  /** The COMPLETE fused admission stream: the three row-local frozen
    * artifacts PLUS the frozen gram index gate every micro-batch as
    * one decision. Artifacts read once per stream; the corpus-scale
    * gram index is persisted for the stream's lifetime and released
    * when the query terminates (the [[memorizationGateSink]]
    * listener lifecycle — the other three are driver-side literals).
    */
  def fullAdmissionSink(docs: DataFrame, lmModelDir: String,
      nbModelDir: String, dsirModelDir: String, gramIndexDir: String,
      outDir: String, checkpointDir: String,
      nllThreshold: Double = 10.0, nbThreshold6: Long = 0L,
      minLogw: Double = 0.0, maxDupFrac: Double = 0.5,
      n: Int = 5, minDocs: Long = 1L): StreamingQuery = {
    val spark = docs.sparkSession
    val lm = graft.curation.Serving.collectLmLiteral(
      graft.textanalysis.TextAnalysis.readLmModel(spark, lmModelDir))
    val nb = graft.quality.NbClassifier.readNbModel(spark, nbModelDir)
    val dsir = graft.selection.Dsir.readDsirModel(spark, dsirModelDir)
    val sink = new Artifacts
    val index = sink.persist(graft.textanalysis.TextAnalysis
      .readMemorizationIndexMerged(spark, gramIndexDir))
    startSink(docs, checkpointDir, sink) {
      (batch, batchId) =>
        processFullAdmissionBatch(batch, lm, nb, dsir, index, outDir,
          batchId, nllThreshold, nbThreshold6, minLogw, maxDupFrac, n,
          minDocs)
    }
  }

  /** The FUSED ingest-admission stream: every micro-batch clears the
    * bigram-LM perplexity gate, the learned NB quality gate, and the
    * DSIR target-likeness gate as one decision — the composition a
    * real training-data ingest runs, not three daisy-chained sinks.
    * All three frozen artifacts are read ONCE per stream from their
    * written dirs; each batch is then a single narrow zero-shuffle
    * projection (one tokenize pass — plan-spec'd) plus the typed
    * admission filter. Stream output ≡ the batch composition of the
    * same three gates (shared oracle on q_admission_pipeline).
    */
  def admissionSink(docs: DataFrame, lmModelDir: String,
      nbModelDir: String, dsirModelDir: String, outDir: String,
      checkpointDir: String, nllThreshold: Double = 10.0,
      nbThreshold6: Long = 0L, minLogw: Double = 0.0): StreamingQuery = {
    val spark = docs.sparkSession
    val lm = graft.curation.Serving.collectLmLiteral(
      graft.textanalysis.TextAnalysis.readLmModel(spark, lmModelDir))
    val nb = graft.quality.NbClassifier.readNbModel(spark, nbModelDir)
    val dsir = graft.selection.Dsir.readDsirModel(spark, dsirModelDir)
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processAdmissionBatch(batch, lm, nb, dsir, outDir, batchId,
        nllThreshold, nbThreshold6, minLogw)
    }
  }

  /** The idempotent batch core of the streaming MEMORIZATION gate:
    * probe the batch against the frozen gram index
    * ([[graft.textanalysis.TextAnalysis.memorizationProbe]] —
    * minDocs=1, the admission semantics), admit docs whose
    * duplicated fraction is at most `maxDupFrac` (gram-less docs
    * carry no evidence and pass — the graph-absent convention),
    * overwrite the batch's own partition.
    */
  def processMemorizationGateBatch(batch: DataFrame, index: DataFrame,
      outDir: String, batchId: Long, maxDupFrac: Double,
      n: Int = 5): Unit = {
    val scores = graft.textanalysis.TextAnalysis
      .memorizationProbe(batch, index, n)
      .select(col("doc_id"), col("dup_frac"))
    // LEFT join: a batch row with no probe row (NULL doc_id — join
    // keys never match null) carries no duplication evidence and
    // passes through untouched, the same every-row-passes contract as
    // the row-local NB/DSIR gate batches; duplicate-id rows each keep
    // their own row (the probe emits one score per distinct id)
    writeBatchOutput(batch.join(scores, Seq("doc_id"), "left")
      .filter(col("dup_frac").isNull || col("dup_frac") <= maxDupFrac)
      .drop("dup_frac"), outDir, batchId)
  }

  /** Idempotent batch core of [[bm25DeleteSink]]: each micro-batch
    * of doc ids erases through
    * [[graft.ops.SearchOps.deleteFromBm25Index]] under the key
    * `<keyPrefix>-<batchId>` — a checkpoint replay re-runs the SAME
    * batchId, and the delete path's self-excluding retry semantics
    * (tombstones + negative ledger row dynamic-overwrite exactly
    * their own partitions) make the replay a no-op on served state.
    * Empty batches are skipped. The prefix is the STREAM's identity:
    * batch ids restart at 0 for every fresh checkpoint, so a second
    * delete job under the same prefix would dynamic-overwrite the
    * first job's tombstone partitions and silently RESURRECT its
    * erasures — each logical delete stream must own a distinct
    * (keyPrefix, checkpoint) pair for the index's lifetime.
    */
  def processBm25DeleteBatch(batch: DataFrame, indexDir: String,
      batchId: Long, keyPrefix: String = "stream"): Unit = {
    // prefix validation BEFORE the empty-batch early-return: a
    // misconfigured empty prefix must fail on batch 0, not lie in
    // wait until the first non-empty batch
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    if (batch.isEmpty) return
    // register the prefix on the index so MANUAL deleteFromBm25Index
    // calls can no longer use a "<keyPrefix>-N" key that a later
    // checkpoint replay of THIS stream would dynamic-overwrite
    // (resurrecting the manual erasure). Idempotent marker create.
    graft.ops.SearchOps.registerDeleteStreamPrefix(
      batch.sparkSession, indexDir, keyPrefix)
    graft.ops.SearchOps.deleteFromBm25IndexSink(
      batch.select(col("doc_id")), indexDir, s"$keyPrefix-$batchId")
  }

  /** STREAMING ERASURE for the text index: a stream of doc ids
    * (retention sweeps, deletion requests) continuously tombstones a
    * written BM25 index through the core above. Searches can run
    * mid-stream; each sees the erasures committed so far. `keyPrefix`
    * names THIS delete stream; see [[processBm25DeleteBatch]] for why
    * distinct jobs need distinct prefixes.
    */
  def bm25DeleteSink(ids: DataFrame, indexDir: String,
      checkpointDir: String, keyPrefix: String = "stream"): StreamingQuery = {
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    // register the prefix AT SINK START, not first non-empty batch: a
    // manual deleteFromBm25Index with a sink-shaped key ("stream-3")
    // issued in the window before the first batch ran would otherwise
    // pass the reservation check and still be resurrected by a later
    // checkpoint replay (the in-batch registration stays for manual
    // processBm25DeleteBatch callers — idempotent marker create)
    graft.ops.SearchOps.registerDeleteStreamPrefix(
      ids.sparkSession, indexDir, keyPrefix)
    startSink(ids, checkpointDir) { (batch, batchId) =>
      processBm25DeleteBatch(batch, indexDir, batchId, keyPrefix)
    }
  }

  /** The IVF twin: a stream of vec ids tombstones a written IVF (or
    * quantized-IVF) index; the tombstone write owns its
    * `batch_id=<keyPrefix>-N` partition, with the same stream-identity
    * rule: a fresh
    * checkpoint restarts batch ids at 0, so reusing a prefix
    * resurrects the earlier stream's erasures.
    */
  def ivfDeleteSink(ids: DataFrame, indexDir: String,
      checkpointDir: String, keyPrefix: String = "stream"): StreamingQuery = {
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    // register AT SINK START (the bm25DeleteSink rationale): manual
    // deleteFromIvfIndex keys shaped "<keyPrefix>-N" must fail loudly
    // from the moment this stream exists, not from its first
    // non-empty batch
    Similarity.registerIvfDeleteStreamPrefix(
      ids.sparkSession, indexDir, keyPrefix)
    startSink(ids, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty)
        Similarity.deleteFromIvfIndexSink(
          batch.select(col("vec_id")), indexDir, s"$keyPrefix-$batchId")
    }
  }

  /** Idempotent batch core of [[memorizationIndexSink]]: each
    * micro-batch of documents appends its own (g, +nd) partition to
    * a written gram index through
    * [[graft.textanalysis.TextAnalysis.appendToMemorizationIndex]]
    * under the key `<keyPrefix>-<batchId>` — a checkpoint replay
    * re-runs the SAME batchId and dynamic-overwrites exactly its own
    * `_appends/batch_id=` partition, so the replay is a no-op on the
    * consolidated counts. Empty batches are skipped; keyPrefix is
    * validated FIRST (the processBm25DeleteBatch ordering). The
    * prefix is the stream's identity: a second append stream under
    * the same prefix would overwrite the first's partitions
    * (batch ids restart at 0 per checkpoint) — distinct jobs need
    * distinct (keyPrefix, checkpoint) pairs, the delete-sink rule.
    */
  def processMemorizationIngestBatch(batch: DataFrame, indexDir: String,
      batchId: Long, n: Int = 5, keyPrefix: String = "stream"): Unit = {
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    if (batch.isEmpty) return
    // register the prefix so MANUAL appendToMemorizationIndex calls
    // can no longer use a "<keyPrefix>-N" key a later checkpoint
    // replay of this stream would dynamic-overwrite (the sink itself
    // registers at start; this covers manual batch-core callers)
    graft.textanalysis.TextAnalysis.registerMemStreamPrefix(
      batch.sparkSession, indexDir, keyPrefix, "_ingest_streams")
    graft.textanalysis.TextAnalysis.appendToMemorizationIndexSink(
      batch, indexDir, s"$keyPrefix-$batchId", n)
  }

  /** Idempotent batch core of [[memorizationDeleteSink]]: each
    * micro-batch of documents erases through
    * [[graft.textanalysis.TextAnalysis.deleteFromMemorizationIndex]]'s
    * negated mergeable counts under the key `<keyPrefix>-<batchId>` —
    * a checkpoint replay recomputes identical (g, −nd) rows and
    * dynamic-overwrites exactly its own `_deletes/batch_id=`
    * partition, a no-op on the consolidated serve. Empty batches are
    * skipped; keyPrefix validated FIRST. The prefix is the stream's
    * identity (the [[processBm25DeleteBatch]] rule): batch ids
    * restart at 0 per fresh checkpoint, so a second delete stream
    * under the same prefix would overwrite the first's partitions and
    * silently RESURRECT its erasures.
    */
  def processMemorizationDeleteBatch(batch: DataFrame, indexDir: String,
      batchId: Long, n: Int = 5, keyPrefix: String = "stream"): Unit = {
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    if (batch.isEmpty) return
    graft.textanalysis.TextAnalysis.registerMemStreamPrefix(
      batch.sparkSession, indexDir, keyPrefix, "_delete_streams")
    graft.textanalysis.TextAnalysis.deleteFromMemorizationIndexSink(
      batch, indexDir, s"$keyPrefix-$batchId", n)
  }

  /** STREAMING ERASURE for the gram index — the right-to-be-forgotten
    * sink the mergeable family was missing (BM25 and IVF got theirs
    * in round 12): a stream of deletion requests continuously
    * tombstones a written memorization index through the core above.
    * The mergeable-negative-
    * counts design makes this the easy case — each batch appends its
    * own (g, −nd) partition; nothing is read, merged, or rewritten,
    * and [[graft.textanalysis.TextAnalysis.readMemorizationIndexMerged]]
    * consolidates at serve time, so sink-erased ≡ retrain-on-remaining
    * by additivity. Requests must carry the DOCUMENT TEXT being
    * forgotten (doc_id, text): the counts to negate are derived from
    * content, and the index stores no corpus to look ids up in — an
    * id-only request has nothing to negate. Probes can run mid-stream
    * against whatever erasures are committed. `keyPrefix` names THIS
    * delete stream; registered at sink start so manual sink-shaped
    * batch keys fail loudly from the moment the stream exists.
    */
  def memorizationDeleteSink(docs: DataFrame, indexDir: String,
      checkpointDir: String, n: Int = 5, keyPrefix: String = "stream")
      : StreamingQuery = {
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    // erasing from a nonexistent index is a misconfiguration, not a
    // no-op — fail at stream start (the memorizationIndexSink rule)
    val base = new org.apache.hadoop.fs.Path(indexDir)
    require(base.getFileSystem(
        docs.sparkSession.sparkContext.hadoopConfiguration).exists(base),
      s"no gram index at $indexDir — nothing to erase from")
    graft.textanalysis.TextAnalysis.registerMemStreamPrefix(
      docs.sparkSession, indexDir, keyPrefix, "_delete_streams")
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processMemorizationDeleteBatch(batch, indexDir, batchId, n, keyPrefix)
    }
  }

  /** STREAMING INGESTION for the memorization gram index — the
    * maintained family an LLM-data pipeline updates most often (every
    * new corpus batch changes what counts as memorized), now fed
    * continuously: docs (doc_id, text) append their n-gram counts to
    * a WRITTEN index through the core above. The mergeable-counts
    * design makes this the easy sink: appends are append-only
    * partitions (no read-modify-write, the base is never read), and
    * [[graft.textanalysis.TextAnalysis.readMemorizationIndexMerged]]
    * consolidates at serve time — stream-built ≡ retrain-on-union by
    * additivity (q_memorization_probe_streamed shares the full-train
    * oracle). Probes can run mid-stream against whatever has been
    * committed. The caller owns doc disjointness across batches, as
    * with every member of the mergeable family.
    */
  def memorizationIndexSink(docs: DataFrame, indexDir: String,
      checkpointDir: String, n: Int = 5, keyPrefix: String = "stream")
      : StreamingQuery = {
    require(keyPrefix.nonEmpty, "keyPrefix must be non-empty")
    // the sink APPENDS to a written index: a stream-only directory
    // would leave the consolidating reader with nothing but hidden
    // _appends partitions and a bare schema-inference error at serve
    // time — fail here, at stream start, with the actual contract
    val base = new org.apache.hadoop.fs.Path(indexDir)
    require(base.getFileSystem(
        docs.sparkSession.sparkContext.hadoopConfiguration).exists(base),
      s"no gram index at $indexDir — write the base with " +
        "writeMemorizationIndex (an empty one for stream-only " +
        "corpora) before streaming appends into it")
    // reserve the prefix from the moment the stream exists (the
    // bm25DeleteSink start-time rule) — manual appends shaped
    // "<keyPrefix>-N" fail loudly instead of being overwritten later
    graft.textanalysis.TextAnalysis.registerMemStreamPrefix(
      docs.sparkSession, indexDir, keyPrefix, "_ingest_streams")
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processMemorizationIngestBatch(batch, indexDir, batchId, n, keyPrefix)
    }
  }

  /** Streaming memorization admission gate: the index is read ONCE
    * per stream from the written artifact and persisted (a
    * corpus-scale gram table — the probe joins it per micro-batch on
    * the gram key; re-reading footers every batch would be pure
    * latency), then each batch admits only documents that do not
    * over-duplicate the existing corpus. The data-selection-at-ingest
    * story of [[dsirGateSink]]/[[nbGateSink]] applied to the Lee et
    * al. dedup signal.
    */
  def memorizationGateSink(docs: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String, maxDupFrac: Double = 0.5,
      n: Int = 5): StreamingQuery = {
    val sink = new Artifacts
    val index = sink.persist(graft.textanalysis.TextAnalysis
      .readMemorizationIndex(docs.sparkSession, indexDir))
    // the cached corpus-scale index must not outlive its stream
    // (unlike the lm/dsir/nb sinks, whose models are driver-side
    // literals)
    startSink(docs, checkpointDir, sink) {
      (batch, batchId) =>
        processMemorizationGateBatch(batch, index, outDir, batchId,
          maxDupFrac, n)
    }
  }

  /** The idempotent batch core of the streaming COMMUNITY-ASSIGNMENT
    * sink: derive the batch's link edges (`edgesOf` must return
    * (s, t) Long pairs — the caller owns how documents link), run
    * the one-round frozen-label probe
    * ([[graft.graph.Communities.assignToCommunities]] — the
    * partition itself is never recomputed), carry the community on
    * every row (NULL-doc_id rows pass with a null community, the
    * every-row-passes gate convention), overwrite the batch's own
    * partition.
    */
  def processCommunityAssignBatch(batch: DataFrame, labels: DataFrame,
      edgesOf: DataFrame => DataFrame, outDir: String,
      batchId: Long): Unit = {
    val assigned = graft.graph.Communities.assignToCommunities(
      batch.select(col("doc_id").as("node")), edgesOf(batch), "s", "t",
      labels)
      .select(col("node").as("doc_id"), col("community"))
    writeBatchOutput(batch.join(assigned, Seq("doc_id"), "left"), outDir,
      batchId)
  }

  /** Streaming ingest-time community assignment: the frozen LPA
    * labels artifact is read ONCE per stream and persisted (a
    * corpus-scale (node, community) table — the probe joins it per
    * micro-batch on the neighbor key), then each batch's documents
    * adopt the majority frozen label among their link-graph
    * neighbors. The written-model serving lifecycle of
    * [[nbGateSink]]/[[memorizationGateSink]] applied to the LPA
    * partition — the one model family that had no ingest-time
    * serving form until now.
    */
  def communityAssignSink(docs: DataFrame, labelsDir: String,
      edgesOf: DataFrame => DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val sink = new Artifacts
    val labels = sink.persist(graft.graph.Communities
      .readCommunityLabels(docs.sparkSession, labelsDir))
    startSink(docs, checkpointDir, sink) {
      (batch, batchId) =>
        processCommunityAssignBatch(batch, labels, edgesOf, outDir, batchId)
    }
  }

  /** The idempotent batch core of the streaming MEDIA-DEDUP admission
    * gate: fingerprint the batch over the real codec path
    * (`fingerprintsOf` must return one (id, 64-bit fingerprint) row
    * per doc — [[graft.multimodal.Multimodal.videoHashes]] shape),
    * probe the frozen fingerprint index by banded Hamming join
    * ([[graft.dedup.Dedup.hammingProbe]] — the index is never
    * rebuilt), and admit only documents whose fingerprint matches
    * nothing within `maxDist`. NULL-doc_id rows carry no payload to
    * fingerprint and pass (anti-join keys never match null — the
    * every-row-passes gate convention); overwrite the batch's own
    * partition.
    */
  def processMediaDedupBatch(batch: DataFrame, index: DataFrame,
      fingerprintsOf: DataFrame => DataFrame, outDir: String,
      batchId: Long, maxDist: Int): Unit = {
    val fps = fingerprintsOf(batch.filter(col("doc_id").isNotNull))
      .toDF("doc_id", "fp")
    val dups = graft.dedup.Dedup
      .hammingProbe(fps, index, "doc_id", "fp", maxDist)
      .select(col("probe_id").as("doc_id")).distinct()
    writeBatchOutput(batch.join(dups, Seq("doc_id"), "left_anti"), outDir,
      batchId)
  }

  /** Streaming ingest-time media near-dup gate: the frozen
    * fingerprint index is read ONCE per stream from the written
    * artifact and persisted (corpus-scale (id, fp) rows — the probe
    * band-joins it per micro-batch), then each batch admits only
    * documents that are not perceptual near-duplicates of the
    * existing corpus. The written-index serving lifecycle of
    * [[memorizationGateSink]] applied to the media fingerprint
    * family — the one dedup family that had no ingest-time probe.
    */
  def mediaDedupSink(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, maxDist: Int = 1,
      fingerprintsOf: DataFrame => DataFrame =
        graft.multimodal.Multimodal.videoHashes): StreamingQuery = {
    val sink = new Artifacts
    val index = sink.persist(graft.dedup.Dedup
      .readFingerprintIndex(docs.sparkSession, indexDir)
      .select(col("id").as("doc_id"), col("fp")))
    startSink(docs, checkpointDir, sink) {
      (batch, batchId) =>
        processMediaDedupBatch(batch, index, fingerprintsOf, outDir,
          batchId, maxDist)
    }
  }

  /** Idempotent batch core of [[bm25IndexSink]]: each micro-batch's
    * postings land partitioned by (bucket, batch_id) and its corpus
    * scalars as one (n_docs, sum_dl) ledger row partitioned by
    * (batch_id); a replayed batch recomputes identical rows. Serving
    * (`SearchOps.searchBm25FromIndex`) sums the ledger — exact longs,
    * so stream-built ≡ batch-built ≡ one-shot rebuild bit-for-bit —
    * and prunes postings on the FIRST partition level (bucket), so
    * every batch's postings read through one directory listing.
    * Empty batches are a no-op (no unreadable zero-footer dirs).
    */
  def processBm25IngestBatch(batch: DataFrame, indexDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    Artifacts.scoped { a =>
      val base = a.checkpoint(graft.ops.SearchOps.bm25Base(batch))
      writeBatchPartition(graft.ops.SearchOps.bm25Postings(base),
        indexDir + "/postings", batchId, nonEmpty = true, "bucket")
      writeBatchPartition(graft.ops.SearchOps.bm25StatsRow(base),
        indexDir + "/stats", batchId, nonEmpty = true)
      // keep the delete sidecar in step with the streamed docs (the
      // appendToBm25Index rule): without a doclens row, a later
      // deleteFromBm25Index of a stream-ingested doc would tombstone
      // its postings but MISS it in the negative scalar correction —
      // served n_docs/avgdl silently diverge from rebuild-on-remaining
      // (caught by IndexLifecycleSpec's interleaved sequence). Only an
      // index that already keeps the sidecar gets one
      writeBatchPartition(graft.ops.SearchOps.bm25Doclens(base),
        indexDir + "/doclens", batchId, nonEmpty = false, "dbucket")
    }
  }

  /** The streaming entry: docs (doc_id, text) continuously ingest
    * into a servable BM25 inverted file at `indexDir` through the batch
    * core above. The streaming
    * counterpart of `SearchOps.appendToBm25Index` — a search can run
    * mid-stream against whatever has been committed.
    */
  def bm25IndexSink(docs: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processBm25IngestBatch(batch, indexDir, batchId)
    }

  /** Idempotent batch core of [[vectorIndexSink]]: the micro-batch
    * assigns against the FROZEN build centroids (and codebook), so
    * stream-built ≡ batch rebuild exactly — the `VectorStore.append`
    * claim — and lands partitioned by (cell, batch_id); a replayed
    * batch recomputes identical rows. Probes prune on the first level
    * (cell) across all batches. Empty batches are a no-op.
    */
  def processVectorIngestBatch(batch: DataFrame, codec: VectorCodec,
      cents: Seq[Seq[Double]], indexDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    writeBatchPartition(VectorStore.encoded(codec, batch, cents),
      indexDir, batchId, nonEmpty = true, "cell")
  }

  /** The streaming entry: vectors (vec_id, embedding, …) continuously
    * ingest into a servable cell-partitioned index of `codec` at
    * `indexDir` through the batch core above — the streaming
    * counterpart of `VectorStore.append`. Probes run mid-stream
    * against whatever is committed, and the numeric batch clock makes
    * the index as-of-readable (`Similarity.readIvfIndexAsOf`).
    */
  def vectorIndexSink(vectors: DataFrame, codec: VectorCodec,
      cents: Seq[Seq[Double]], indexDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(vectors, checkpointDir) { (batch, batchId) =>
      processVectorIngestBatch(batch, codec, cents, indexDir, batchId)
    }

  /** STREAMING batched serving: each micro-batch of queries
    * (query_id, embedding) serves through the QUERY-TABLE batched plan
    * against the written index of `codec` — one broadcast-probe scan
    * per trigger regardless of the batch's Q — and the k rows per
    * query land batch-stamped in `outDir`. `rerank` = (embeddings
    * path, shortlist) selects the two-stage serve (ADC shortlist →
    * exact float re-rank) and needs a PQ codec. A replay of batch N
    * rewrites the identical ranking (the serve reads only the index
    * and the batch). Duplicate ids WITHIN one micro-batch fail loudly
    * (the query-table guard); across micro-batches the same id
    * re-serves — later answers live in later partitions.
    */
  def vectorServingSink(queries: DataFrame, codec: VectorCodec,
      cents: Seq[Seq[Double]], indexPath: String, outDir: String,
      checkpointDir: String, k: Int = 10, nProbe: Int = 2,
      rerank: Option[(String, Int)] = None): StreamingQuery = {
    require(rerank.isEmpty || codec.isInstanceOf[VectorCodec.PqCodec],
      "the two-stage re-rank serves PQ codes only")
    startSink(queries, checkpointDir) { (batch, batchId) =>
      processVectorServeBatch(batch, codec, cents, indexPath, outDir,
        batchId, k, nProbe, rerank)
    }
  }

  /** Idempotent batch core of [[vectorServingSink]]: the query-table
    * serve over the index as `Similarity.readIvfIndex` reads it, so
    * ids erased by `deleteFromIvfIndex` are never served. Empty
    * micro-batches write nothing.
    */
  def processVectorServeBatch(batch: DataFrame, codec: VectorCodec,
      cents: Seq[Seq[Double]], indexPath: String, outDir: String,
      batchId: Long, k: Int, nProbe: Int,
      rerank: Option[(String, Int)] = None): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // checked BEFORE the serve plan is even constructed (analysis
    // reads the index schema): a mid-fold catalog refuses the whole
    // trigger, not just the write
    requireNoFoldInProgress(spark, outDir)
    val index = Similarity.readIvfIndex(spark, indexPath)
    val served = (codec, rerank) match {
      case (_, None) =>
        VectorStore.multiTopK(codec, index, cents, batch, k, nProbe)
      case (pq: VectorCodec.PqCodec, Some((embeddingsPath, shortlist))) =>
        VectorStore.multiTopKRefined(pq, index,
          spark.read.parquet(embeddingsPath), cents, batch, k, nProbe,
          shortlist)
      case _ => throw new IllegalArgumentException(
        "the two-stage re-rank serves PQ codes only")
    }
    writeBatchOutput(served, outDir, batchId)
  }

  /** The streaming entry: docs (doc_id, text, …) → LM-quality-gated
    * corpus at `outDir` through the batch core above.
    */
  def lmGateSink(docs: DataFrame, modelDir: String, outDir: String,
      checkpointDir: String, nllThreshold: Double = 10.0)
      : StreamingQuery = {
    // read the frozen artifact ONCE per stream, not once per
    // micro-batch: the model never changes, so re-listing its files
    // and footers on the hot path would be pure per-batch latency
    val model = graft.textanalysis.TextAnalysis
      .readLmModel(docs.sparkSession, modelDir)
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processLmGateBatch(batch, model, outDir, batchId, nllThreshold)
    }
  }

  /** Beyond-reference extension: STREAMING CURATION — the online form
    * of [[graft.curation.Curation.curate]] as one foreachBatch
    * composite: each micro-batch passes the repetition gate
    * (row-local), decontamination against a FIXED benchmark, and
    * LM-quality against a FROZEN model, then first-arrival exact
    * dedup against a persisted text-digest index. Per-batch gate
    * telemetry — the curateObserved readout — persists alongside the
    * output, so a 100 TB stream's "the LM gate suddenly drops 40%"
    * incident is a table you can query, not a log line you lost.
    *
    * Necessary deltas from the one-shot operator (both spec'd):
    * the LM is a frozen artifact (a stream cannot train on a corpus
    * it has not finished seeing), and dedup keeps the FIRST ARRIVAL
    * (min doc_id within a batch, earliest batch across batches) — on
    * ascending-id arrival this IS the one-shot min-id result, the
    * parity the spec pins.
    *
    * Replay: output, digest index, and telemetry are all batch
    * partitions, and the index probe excludes the batch's own
    * partition, so a replay neither self-drops nor duplicates (the
    * segment-dedup sink's design).
    */
  def processCurationBatch(batch: DataFrame, benchmark: DataFrame,
      model: graft.textanalysis.TextAnalysis.LmModel, indexDir: String,
      outDir: String, telemetryDir: String, batchId: Long,
      nllThreshold: Double = 10.0,
      contaminationThreshold: Double = 0.4): Unit = {
    import graft.dedup.Dedup
    import graft.textanalysis.TextAnalysis
    val spark = batch.sparkSession
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val con = TextAnalysis.contaminationStats(batch, benchmark, "doc_id",
        "text", threshold = contaminationThreshold)
      .select(col("doc_id"), col("contaminated"))
    val lm = TextAnalysis.lmScoreWith(model, batch, nllThreshold)
      .select(col("doc_id"), col("lm_nll"), col("unusual"))
    // repetition arrives as a METRIC FRAME, not an inline column: a
    // computed gate column would be substituted into the post-join
    // filter by predicate pushdown and its lambda subtrees duplicated
    // per row (the hazard documented on Curation.curateObserved)
    val rep = TextAnalysis.repetitionStats(batch)
      .select(col("doc_id"), col("repetitive"))
    val obs = org.apache.spark.sql.Observation()
    val gated = batch
      .join(rep, "doc_id")
      .join(con, "doc_id")
      .join(lm, "doc_id")
      .observe(obs,
        count(lit(1)).as("docs_in"),
        sum(col("repetitive").cast("long")).as("dropped_repetitive"),
        sum(col("contaminated").cast("long")).as("dropped_contaminated"),
        sum(col("unusual").cast("long")).as("dropped_unusual"))
      .filter(!col("repetitive") && !col("contaminated") && !col("unusual"))
    val seen =
      if (fs.exists(indexPath))
        spark.read.parquet(indexDir)
          .filter(col("batch_id") =!= batchId).select("digest")
      else spark.emptyDataFrame.select(lit("").as("digest")).limit(0)
    // batch-internal min-id winner per digest (the one-shot operator's
    // group-winner form), then first-arrival anti-join vs the index;
    // materialized BEFORE any write so no write plan reads its target
    Artifacts.scoped { a =>
      val kept = a.checkpoint(gated
        .groupBy(Dedup.rowDigest(Seq("text")).as("digest"))
        .agg(min(struct(col("doc_id"), col("source"), col("lm_nll"))).as("__w"))
        .select(col("digest"), col("__w.doc_id").as("doc_id"),
          col("__w.source").as("source"), col("__w.lm_nll").as("lm_nll"))
        .join(seen, Seq("digest"), "left_anti"))
      val nonEmpty = !kept.isEmpty
      writeBatchPartition(kept.select(col("doc_id"), col("source"),
        col("lm_nll")), outDir, batchId, nonEmpty)
      writeBatchPartition(kept.select(col("digest")), indexDir, batchId,
        nonEmpty)
      // the observation filled when `kept` materialized (same job);
      // telemetry is one row per batch — written even for all-dropped
      // batches, which are exactly the batches an operator must see
      val m = obs.get
      def metric(name: String): Long = m.get(name) match {
        case Some(v: Long) => v
        case Some(v: Number) => v.longValue()
        case _ => 0L
      }
      import spark.implicits._
      val telemetry = Seq((metric("docs_in"), metric("dropped_repetitive"),
        metric("dropped_contaminated"), metric("dropped_unusual"),
        kept.count()))
        .toDF("docs_in", "dropped_repetitive", "dropped_contaminated",
          "dropped_unusual", "kept")
      writeBatchPartition(telemetry, telemetryDir, batchId, nonEmpty = true)
    }
  }

  /** The streaming entry: docs (doc_id, text, source) → curated
    * corpus at `outDir` + digest index at `indexDir` + per-batch gate
    * telemetry at `telemetryDir` through the batch core above. The
    * frozen LM loads ONCE per stream
    * (lmGateSink's rule); the benchmark frame is fixed for the
    * stream's lifetime.
    */
  def curationSink(docs: DataFrame, benchmark: DataFrame, modelDir: String,
      indexDir: String, outDir: String, telemetryDir: String,
      checkpointDir: String, nllThreshold: Double = 10.0,
      contaminationThreshold: Double = 0.4): StreamingQuery = {
    val model = graft.textanalysis.TextAnalysis
      .readLmModel(docs.sparkSession, modelDir)
    startSink(docs, checkpointDir) { (batch, batchId) =>
      processCurationBatch(batch, benchmark, model, indexDir, outDir,
        telemetryDir, batchId, nllThreshold, contaminationThreshold)
    }
  }

  /** Beyond-reference extension: stream-stream inner join — each
    * purchase pairs with the same user's views from the preceding
    * `joinWindow`. Both sides carry watermarks and the join condition
    * bounds event-time distance, so per-side state is watermark-
    * bounded (Spark drops buffered rows once they can no longer
    * match) — the requirement for an unbounded 100 TB/day stream.
    *
    * Works identically on batch frames (the time-interval join is the
    * same plan without state) — `PipelinesSpec` asserts stream ≡
    * batch on the shared fixture.
    */
  def purchaseViewJoin(purchases: DataFrame, views: DataFrame,
      joinWindow: String = "10 minutes"): DataFrame = {
    // both watermark delays derive from joinWindow: a view is still
    // joinable until a purchase joinWindow newer has been seen, so a
    // delay shorter than the window would silently drop matches that
    // the batch twin keeps
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", joinWindow)
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", joinWindow)
    p.join(v,
      col("user_id") === col("v_user") &&
      col("v_ts") <= col("p_ts") &&
      col("v_ts") >= col("p_ts") - expr(s"INTERVAL $joinWindow"))
      .select(col("purchase_id"), col("user_id"), col("view_id"))
  }
}
