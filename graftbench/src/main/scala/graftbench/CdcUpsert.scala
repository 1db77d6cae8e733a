package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.Cdc
import graft.ops.SearchOps
import graft.streaming.Pipelines

/** Seeded Debezium envelope generator with a ledger of the latest
  * applied version of every key.
  *
  * The mix per envelope: 40% creates of new keys, 45% version-bumping
  * updates skewed toward recently created keys, 10% snapshot reads and
  * 5% deletes. Reads and deletes are dropped by the op filter, so they
  * never touch the ledger; they are there so the filter's drop branch
  * runs in every batch. Creates grow the index, updates make the merge
  * order versions of keys it already holds. NOTES.md gives the reasons.
  */
final class EnvelopeGenerator(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query " +
    "a scan batch").split(" ")
  private val langs = Array("en", "zh", "es", "fr", "de")
  private val statuses = Array("sent", "viewed", "signed", "approved", "pending", "archived")

  final case class Doc(id: Long, version: Int, text: String, lang: String,
      source: String, status: String)

  val ledger = mutable.LinkedHashMap.empty[Long, Doc]
  private var nextKey = 0L
  private var ts = 1700000000000L
  /** Every envelope emitted, in order: the batch replay's input. */
  val emitted = mutable.ArrayBuffer.empty[(String, String)]

  private def text(): String = {
    val n = 5 + rng.nextInt(96)
    val ws = Array.fill(n)(vocab(rng.nextInt(vocab.length)))
    // about one document in twenty carries an e-mail address (PII)
    if (rng.nextInt(20) == 0) ws(rng.nextInt(n)) = s"user${rng.nextInt(1000)}@example.com"
    ws.mkString(" ")
  }

  private def rowJson(d: Doc): String =
    s"""{"doc_id":${d.id},"text":"${d.text}","lang":"${d.lang}","source":"${d.source}",""" +
      s""""n_chars":${d.text.length},"status":"${d.status}","version":${d.version},""" +
      s""""s3_key":"${d.id}/content"}"""

  private def envelope(op: String, before: Option[Doc], after: Option[Doc], key: Long): (String, String) = {
    ts += 1 + rng.nextInt(50)
    val e = (key.toString, s"""{"op":"$op","before":${before.map(rowJson).getOrElse("null")},""" +
      s""""after":${after.map(rowJson).getOrElse("null")},"ts_ms":$ts}""")
    emitted += e
    e
  }

  def create(): (String, String) = {
    val d = Doc(nextKey, 1, text(), langs(rng.nextInt(langs.length)),
      s"src${nextKey % 20}", "created")
    nextKey += 1
    ledger(d.id) = d
    envelope("c", None, Some(d), d.id)
  }

  /** A live key, skewed toward the most recently created ones. */
  private def recentKey(): Long = {
    val back = (-math.log(1.0 - rng.nextDouble()) * math.max(1.0, nextKey * 0.1)).toLong
    math.max(0L, nextKey - 1 - math.min(back, nextKey - 1))
  }

  private def emit(): (String, String) = {
    val r = rng.nextInt(100)
    if (nextKey == 0 || r < 40) create()
    else {
      val old = ledger(recentKey())
      if (r < 85) {
        val d = old.copy(version = old.version + 1, text = text(),
          status = statuses(rng.nextInt(statuses.length)))
        ledger(d.id) = d
        envelope("u", Some(old), Some(d), d.id)
      } else if (r < 95) envelope("r", None, Some(old), old.id)
      else envelope("d", Some(old), None, old.id)
    }
  }

  def creates(n: Int): Seq[(String, String)] = Seq.fill(n)(create())
  def batch(n: Int): Seq[(String, String)] = Seq.fill(n)(emit())

  /** `n` keys to probe: half written by the last batch, half uniform
    * over every live key.
    */
  def probeKeys(lastBatch: Seq[(String, String)], n: Int): Seq[Long] = {
    val recent = lastBatch.map(_._1.toLong).distinct.filter(ledger.contains).toIndexedSeq
    val all = ledger.keysIterator.toIndexedSeq
    Seq.tabulate(n) { i =>
      if (i % 2 == 0 && recent.nonEmpty) recent(rng.nextInt(recent.size))
      else all(rng.nextInt(all.size))
    }
  }

  def searchWord(): String = vocab(rng.nextInt(vocab.length))
}

/** `cdc_upsert`: the reference's data plane as a closed loop. Each
  * cycle adds one fixed-size batch of envelopes to a MemoryStream that
  * flows through `Pipelines.qualityEnrich` into `Pipelines.startIndexSink`,
  * waits for the commit, then probes the live index with point lookups
  * and one `SearchOps.searchEnriched`.
  */
object CdcUpsert {
  // NOTES.md gives the reason for each of these
  val Preload = 500      // creates loaded during set-up: the input's documents
  val BatchSize = 50     // envelopes per batch: the reference sink's batch_size
  val Lookups = 4        // point lookups per cycle
  val WarmCycles = 3     // unmeasured cycles in set-up
  val CycleSeconds = 2.5 // a run does ceil(seconds / CycleSeconds) cycles

  private final class Live(spark: SparkSession, dir: String) {
    val mem: MemoryStream[(String, String)] = {
      import spark.implicits._
      MemoryStream[(String, String)](spark)
    }
    val query: StreamingQuery = Pipelines.startIndexSink(
      Pipelines.qualityEnrich(mem.toDF().toDF("key", "value")), s"$dir/index", s"$dir/ckpt")
    def add(rows: Seq[(String, String)]): Unit = { mem.addData(rows); query.processAllAvailable() }
    val index: String = s"$dir/index"
  }

  /** One cycle's samples; None marks an operation that failed. */
  private final case class Cycle(batchMs: Option[Double], lookupMs: Seq[Option[Double]],
      searchMs: Option[Double], wallMs: Double, traced: Boolean)

  private def lookup(ctx: Ctx, live: Live, g: EnvelopeGenerator, key: Long,
      filesRead: mutable.Buffer[Long]): Option[Double] = {
    ctx.result.attempted += 1
    try {
      val t0 = System.nanoTime()
      val df = Pipelines.indexPointLookup(ctx.spark, live.index, "doc_id", lit(key))
      val rows = ctx.tracer("index.lookup") { df.collect() }
      val ms = (System.nanoTime() - t0) / 1e6
      val want = g.ledger(key).version
      val got = rows.map(_.getAs[Int]("version")).toSeq
      if (got == Seq(want)) {
        if (ctx.tracer.isActive)
          filesRead += PlanCounts.scanMetric(df.queryExecution.executedPlan, "numFiles")
        Some(ms)
      } else {
        ctx.result.failed += 1
        ctx.result.fail(s"lookup of $key returned versions $got, ledger has $want")
        None
      }
    } catch {
      case NonFatal(e) =>
        ctx.result.failed += 1
        ctx.result.fail(s"lookup of $key threw $e")
        None
    }
  }

  private def search(ctx: Ctx, live: Live, g: EnvelopeGenerator,
      scanned: mutable.Buffer[Double]): Option[Double] = {
    ctx.result.attempted += 1
    try {
      val t0 = System.nanoTime()
      val (hits, rowsScanned) = ctx.tracer("ops.search") {
        SearchOps.searchEnrichedManaged(Pipelines.readIndex(ctx.spark, live.index),
          g.searchWord(), minQualityScore = 50.0, excludePii = true) { df =>
          val rows = df.collect()
          // rows the index scans produced, read from the executed plan
          // (the scan that filled the search's cache included)
          (rows, if (ctx.tracer.isActive)
            PlanCounts.scanMetric(df.queryExecution.executedPlan, "numOutputRows") else 0L)
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (hits.length <= 10) {
        if (ctx.tracer.isActive && hits.nonEmpty) scanned += rowsScanned.toDouble / hits.length
        Some(ms)
      } else {
        ctx.result.failed += 1
        ctx.result.fail(s"search returned ${hits.length} hits for a page of 10")
        None
      }
    } catch {
      case NonFatal(e) =>
        ctx.result.failed += 1
        ctx.result.fail(s"search threw $e")
        None
    }
  }

  /** Parquet files under each `__bucket=N` directory of the index. */
  private def bucketFiles(index: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(index)
    Option(root.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("__bucket="))
      .map(b => b.getName -> Option(b.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toSet)
      .toMap
  }

  /** Per-batch layer measurements of a traced cycle. */
  private final case class BatchLayers(decodeMs: Double, enrichMs: Double, keptRatio: Double,
      validRatio: Double, bucketsRewritten: Int, bytesPerRow: Double)

  private def batchLayers(ctx: Ctx, rows: Seq[(String, String)],
      before: Map[String, Set[(String, Long)]], after: Map[String, Set[(String, Long)]]): BatchLayers = {
    val spark = ctx.spark
    import spark.implicits._
    val env = rows.toDF("key", "value")
    val t0 = System.nanoTime()
    val kept = Digest.rows(ctx.tracer("cdc.decode") { Digest(Cdc.pipeline(env)) })
    val t1 = System.nanoTime()
    ctx.tracer("quality.enrich") { Digest(Pipelines.qualityEnrich(env)) }
    val t2 = System.nanoTime()
    val valid = Pipelines.qualityEnrich(env).filter(col("quality_is_valid")).count()
    val changed = after.filter { case (b, files) => !before.get(b).contains(files) }
    val written = changed.values.flatten.filterNot(f => before.values.exists(_.contains(f)))
      .map(_._2).sum
    val decodeMs = (t1 - t0) / 1e6
    BatchLayers(decodeMs, math.max(0.0, (t2 - t1) / 1e6 - decodeMs),
      kept.toDouble / rows.size, if (kept == 0) 0.0 else valid.toDouble / kept,
      changed.size, if (kept == 0) 0.0 else written.toDouble / kept)
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val tr = ctx.tracer
    tr.setActive(false)
    val t0 = System.nanoTime()
    // set-up: start the stream, preload 500 documents, then unmeasured
    // cycles until the cycle time has settled (JIT and codegen warm)
    val g = new EnvelopeGenerator(ctx.seed)
    var streamSpan = -1
    tr.setActive(tr.enabled)
    // the stream thread inherits this span, so its jobs are filed under it
    val live = tr("streaming.query") { streamSpan = tr.current; new Live(spark, s"${ctx.scratch}/live") }
    tr.setActive(false)
    live.add(g.creates(Preload))
    val preloadS = (System.nanoTime() - t0) / 1e9
    (1 to WarmCycles).foreach(_ => warmCycle(spark, live, g))
    val setupS = (System.nanoTime() - t0) / 1e9
    if (!tr.enabled) res.put("setup_s", sessionS + setupS, "s")
    val progressBefore = live.query.recentProgress.length

    val planned = math.max(1, math.ceil(ctx.seconds / CycleSeconds).toInt)
    // traced runs alternate untraced and traced cycles, as BatchRounds does
    val nCycles = if (tr.enabled) math.max(3, planned | 1) else planned
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val layers = mutable.ArrayBuffer.empty[BatchLayers]
    val filesRead = mutable.ArrayBuffer.empty[Long]
    val scanned = mutable.ArrayBuffer.empty[Double]
    var persisted = 0
    val gc0 = Main.gcSeconds
    val cpu0 = Main.cpuSeconds
    for (c <- 0 until nCycles) {
      tr.setActive(tr.enabled && c % 2 == 1)
      val rows = g.batch(BatchSize)
      val before = if (tr.isActive) bucketFiles(live.index) else Map.empty[String, Set[(String, Long)]]
      val w0 = System.nanoTime()
      val cycle = tr("cycle") {
        res.attempted += 1
        val batchMs = try {
          val b0 = System.nanoTime()
          tr("streaming.batch") { live.add(rows) }
          Some((System.nanoTime() - b0) / 1e6)
        } catch {
          case NonFatal(e) =>
            res.failed += 1
            res.fail(s"micro-batch threw $e")
            None
        }
        val lookups = g.probeKeys(rows, Lookups).map(k => lookup(ctx, live, g, k, filesRead))
        Cycle(batchMs, lookups, search(ctx, live, g, scanned), 0.0, tr.isActive)
      }
      cycles += cycle.copy(wallMs = (System.nanoTime() - w0) / 1e6)
      spark.catalog.clearCache()
      if (tr.isActive) {
        persisted += spark.sparkContext.getPersistentRDDs.size
        layers += tr("layers") { batchLayers(ctx, rows, before, bucketFiles(live.index)) }
      }
    }
    val gcS = Main.gcSeconds - gc0
    val cpuS = Main.cpuSeconds - cpu0
    tr.setActive(tr.enabled)
    tr.drain()
    val progress = live.query.recentProgress.drop(progressBefore).toSeq
    live.query.stop()
    val c0 = System.nanoTime()
    val indexRows = finalChecks(ctx, live, g)
    val checkS = (System.nanoTime() - c0) / 1e9
    val heapMb = Main.heapAfterGcMb()

    val ok = cycles.filter(c => c.batchMs.isDefined && c.lookupMs.forall(_.isDefined) && c.searchMs.isDefined)
    val untraced = ok.filterNot(_.traced)
    if (untraced.isEmpty) { res.fail("no cycle completed without a failure"); return }
    val batchMs = untraced.flatMap(_.batchMs).toSeq
    val lookupMs = untraced.flatMap(_.lookupMs.flatten).toSeq
    val searchMs = untraced.flatMap(_.searchMs).toSeq
    val ops = Seq("batch_ms" -> batchMs, "lookup_ms" -> lookupMs, "search_ms" -> searchMs)
    // the per-operation figures behind the end-to-end ones; a p90 only
    // where the run has at least 100 samples of that operation
    val detail = ops.map { case (k, v) => s"$k=${Stats.median(v)}" } ++
      ops.collect { case (k, v) if v.size >= 100 =>
        s"${k.stripSuffix("_ms")}_p90_ms=${Stats.quantile(v, 0.9)}" } :+
      s"ingest_rows_per_s=${BatchSize * batchMs.size / (batchMs.sum / 1e3)}" :+
      s"samples=${batchMs.size}/${lookupMs.size}/${searchMs.size}" :+
      ("cycles_ms=" + cycles.map(c => f"${c.wallMs}%.0f").mkString(",")) :+
      ("batches_ms=" + cycles.flatMap(_.batchMs).map(b => f"$b%.0f").mkString(",")) :+
      f"session_s=$sessionS%.2f preload_s=$preloadS%.2f warm_s=${setupS - preloadS}%.2f check_s=$checkS%.2f" :+
      f"measured_cpu_s=$cpuS%.1f measured_gc_s=$gcS%.2f"
    println(s"[graftbench] cdc_upsert ${detail.mkString(" ")}")
    if (!tr.enabled) {
      res.put("suite_s", Stats.median(untraced.map(_.wallMs).toSeq) / 1e3, "s")
      res.put("query_geomean_ms", Stats.geomean(ops.map(o => Stats.median(o._2))), "ms")
      res.put("driver_heap_mb", heapMb, "MB")
    } else {
      val traced = cycles.filter(_.traced)
      val tracedSpans = tr.spans.filter(_.name == "cycle").map(_.id).flatMap(tr.subtree).toSet
      val js = tr.jobStats(tracedSpans + streamSpan)
      val n = math.max(1, traced.size).toDouble
      // one progress event with input per cycle, in cycle order
      val mine = progress.filter(_.numInputRows > 0).zip(cycles).filter(_._2.traced).map(_._1)
      def dur(k: String): Double =
        if (mine.isEmpty) 0.0 else Stats.median(mine.map(p => p.durationMs.getOrDefault(k, 0L).toDouble))
      def avg(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      res.put("spark.action_ms", avg(traced.map(_.wallMs)), "ms")
      res.put("spark.jobs", js.jobs / n, "count")
      res.put("spark.stages", js.stages / n, "count")
      res.put("spark.tasks", js.tasks / n, "count")
      res.put("spark.shuffle_read_bytes", js.shuffleRead / n, "bytes")
      res.put("spark.shuffle_write_bytes", js.shuffleWrite / n, "bytes")
      res.put("spark.spill_bytes", js.spill / n, "bytes")
      res.put("spark.peak_exec_mem_mb", js.peakExecMem / 1048576.0, "MB")
      res.put("spark.job_busy_s", js.busyMs / n / 1e3, "s")
      res.put("spark.driver_gap_s", (traced.map(_.wallMs).sum - js.busyMs) / n / 1e3, "s")
      res.put("streaming.batch_ms", Stats.median(batchMs), "ms")
      res.put("index.lookup_ms", Stats.median(lookupMs), "ms")
      res.put("ops.search_ms", Stats.median(searchMs), "ms")
      res.put("cdc.decode_ms", avg(layers.map(_.decodeMs)), "ms")
      res.put("cdc.kept_ratio", avg(layers.map(_.keptRatio)), "ratio")
      res.put("quality.enrich_ms", avg(layers.map(_.enrichMs)), "ms")
      res.put("quality.valid_ratio", avg(layers.map(_.validRatio)), "ratio")
      res.put("streaming.trigger_ms", dur("triggerExecution"), "ms")
      res.put("streaming.add_batch_ms", dur("addBatch"), "ms")
      res.put("streaming.query_planning_ms", dur("queryPlanning"), "ms")
      res.put("streaming.wal_commit_ms", dur("walCommit"), "ms")
      res.put("streaming.batches", progress.count(_.numInputRows > 0).toDouble, "count")
      res.put("streaming.rows_in", progress.map(_.numInputRows).sum.toDouble, "count")
      res.put("index.buckets_rewritten_per_batch", avg(layers.map(_.bucketsRewritten.toDouble)), "count")
      res.put("index.bytes_written_per_row", avg(layers.map(_.bytesPerRow)), "bytes")
      val files = bucketFiles(live.index)
      res.put("index.rows", indexRows.toDouble, "count")
      res.put("index.files", files.values.map(_.size).sum.toDouble, "count")
      res.put("index.files_read_per_lookup", avg(filesRead.map(_.toDouble)), "count")
      res.put("search.rows_scanned_per_result", avg(scanned), "ratio")
      res.put("jvm.gc_s", gcS, "s")
      res.put("lifecycle.persisted_rdds_after_query", persisted / n, "count")
      res.put("trace.overhead_ratio",
        Stats.overheadRatio(cycles.map(c => (c.traced, c.wallMs)).toSeq), "ratio")
      Layers.fill(res)
    }
  }

  /** An unmeasured, unchecked cycle: one batch, two lookups, one search. */
  private def warmCycle(spark: SparkSession, live: Live, g: EnvelopeGenerator): Unit = {
    val rows = g.batch(BatchSize)
    live.add(rows)
    g.probeKeys(rows, 2).foreach(k =>
      Pipelines.indexPointLookup(spark, live.index, "doc_id", lit(k)).collect())
    SearchOps.searchEnrichedManaged(Pipelines.readIndex(spark, live.index),
      g.searchWord(), 50.0, excludePii = true)(_.collect())
  }

  /** One short stream: enough to load the classes the workload needs. */
  def train(ctx: Ctx): Unit = {
    val g = new EnvelopeGenerator(ctx.seed)
    val live = new Live(ctx.spark, s"${ctx.scratch}/train")
    live.add(g.creates(BatchSize))
    warmCycle(ctx.spark, live, g)
    live.query.stop()
  }

  /** The final index must equal `upsertByKey` replayed in batch mode
    * over every generated envelope, and hold exactly the ledger's
    * (key, version) pairs. Returns the rows the index holds.
    */
  private def finalChecks(ctx: Ctx, live: Live, g: EnvelopeGenerator): Long = {
    val spark = ctx.spark
    import spark.implicits._
    val index = Pipelines.readIndex(spark, live.index)
    val enriched = Pipelines.qualityEnrich(g.emitted.toSeq.toDF("key", "value"))
    val replay = Pipelines.upsertByKey(enriched.limit(0), enriched, "doc_id", Seq("version", "ts_ms"))
    val cols = index.columns.sorted.toIndexedSeq.map(col)
    val ledger = g.ledger.values.map(d => (d.id, d.version)).toSeq.toDF("doc_id", "version")
    val digests = Seq("index vs batch replay" -> (index.select(cols: _*), replay.select(cols: _*)),
      "index keys vs ledger" -> (index.select("doc_id", "version"), ledger)).map {
      case (what, (got, want)) =>
        ctx.result.attempted += 1
        val (g1, w1) = (Digest(got), Digest(want))
        if (g1 != w1) {
          ctx.result.failed += 1
          ctx.result.fail(s"$what: digest $g1, expected $w1")
        }
        g1
    }
    Digest.rows(digests.head)
  }
}
