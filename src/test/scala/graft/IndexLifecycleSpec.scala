package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.SearchOps
import graft.similarity.{Similarity, VectorCodec, VectorStore}
import graft.streaming.Pipelines

/** ONE spec per index family drives the REAL operational sequence —
  * build → batch append → stream ingest → delete → as-of(mid) →
  * compact → append again → serve — and cross-checks EVERY stage
  * against a from-scratch rebuild on the equivalent live set. Each
  * maintenance member is oracled in isolation by the driver gate;
  * interleaving bugs (the as-of/compaction coherence class, sidecars
  * falling out of step across members) live BETWEEN the cells, and
  * only an end-to-end sequence like this can catch them. It already
  * paid for itself: the BM25 ingest sink wrote no doclens rows, so a
  * stream-ingested doc's later deletion silently skewed the served
  * corpus scalars (fixed in processBm25IngestBatch).
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** A maintained index family, expressed over a Long-id corpus. */
  trait Family {
    def name: String
    def idCol: String
    def corpus: DataFrame
    def build(rows: DataFrame, path: String): Unit
    def append(rows: DataFrame, path: String, key: String): Unit
    def sink(src: DataFrame, path: String,
        ckpt: String): org.apache.spark.sql.streaming.StreamingQuery
    def delete(rows: DataFrame, path: String, key: String): Unit
    def compact(path: String): Unit
    /** Bounded-history retention: fold everything not in `keep`. */
    def retain(path: String, keep: Seq[String]): Unit
    /** The addressable batch name of stream micro-batch `i` (the
      * vector/BM25 sinks key by the raw numeric id; the gram sink
      * prefixes). */
    def streamBatch(i: Int): String
    def serve(path: String): Seq[String]
    def serveAsOf(path: String, batches: Seq[String]): Seq[String]
    /** BM25 scopes delete corrections by NAMED delete batch; the IVF
      * families apply tombstones retroactively to every snapshot. */
    def asOfNamesDeletes: Boolean
  }

  private def render(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private lazy val emb = Tables.embeddings(spark, sfDir).limit(96)
    .select("vec_id", "embedding").cache()
  private lazy val cents = Similarity.seedCentroids(emb, 8)
  private lazy val cb = Similarity.pqBuild(emb, m = 8, ksub = 16,
    iterations = 1)
  private lazy val qv: Vector[Double] = emb
    .orderBy(col("vec_id").desc).head.getSeq[Float](1)
    .map(_.toDouble).toVector

  private abstract class VecFamily extends Family {
    def idCol = "vec_id"
    def corpus = emb
    def topK(index: DataFrame): DataFrame =
      topKWith(cents)(index)
    def topKWith(c: Seq[Seq[Double]])(index: DataFrame): DataFrame
    def build(rows: DataFrame, path: String) = buildWith(cents)(rows, path)
    def buildWith(c: Seq[Seq[Double]])(rows: DataFrame, path: String): Unit
    /** Drift refresh: the live entries re-encoded against `c` into a
      * fresh directory (the cutover path). */
    def reclusterTo(oldPath: String, c: Seq[Seq[Double]],
        newPath: String): Unit
    def serve(path: String) =
      render(topK(Similarity.readIvfIndex(spark, path)))
    def serveAsOf(path: String, batches: Seq[String]) =
      render(topK(Similarity.readIvfIndexAsOf(spark, path, batches)))
    def delete(rows: DataFrame, path: String, key: String) =
      Similarity.deleteFromIvfIndex(rows.select(col("vec_id")), path, key)
    def compact(path: String) = Similarity.compactIvfIndex(spark, path)
    def retain(path: String, keep: Seq[String]) =
      Similarity.compactIvfIndexKeeping(spark, path, keep)
    def streamBatch(i: Int) = i.toString
    def asOfNamesDeletes = false
  }

  private object FloatIvf extends VecFamily {
    def name = "float IVF"
    def buildWith(c: Seq[Seq[Double]])(rows: DataFrame, path: String) =
      VectorStore.write(VectorCodec.Float, rows, c, path)
    def append(rows: DataFrame, path: String, key: String) =
      VectorStore.append(VectorCodec.Float, rows, cents, path, key)
    def sink(src: DataFrame, path: String, ckpt: String) =
      Pipelines.vectorIndexSink(src, VectorCodec.Float, cents, path, ckpt)
    def topKWith(c: Seq[Seq[Double]])(index: DataFrame) =
      VectorStore.topKFromIndex(VectorCodec.Float, index, c, qv, 10, nProbe = 3)
    def reclusterTo(oldPath: String, c: Seq[Seq[Double]], newPath: String) =
      VectorStore.recluster(VectorCodec.Float, spark, oldPath, c, newPath)
  }

  private object Int8Ivf extends VecFamily {
    def name = "int8 IVF"
    def buildWith(c: Seq[Seq[Double]])(rows: DataFrame, path: String) =
      VectorStore.write(VectorCodec.Int8, rows, c, path)
    def append(rows: DataFrame, path: String, key: String) =
      VectorStore.append(VectorCodec.Int8, rows, cents, path, key)
    def sink(src: DataFrame, path: String, ckpt: String) =
      Pipelines.vectorIndexSink(src, VectorCodec.Int8, cents, path, ckpt)
    def topKWith(c: Seq[Seq[Double]])(index: DataFrame) =
      VectorStore.topKFromIndex(VectorCodec.Int8, index, c, qv, 10, nProbe = 3)
    def reclusterTo(oldPath: String, c: Seq[Seq[Double]], newPath: String) =
      VectorStore.recluster(VectorCodec.Int8,
        spark, oldPath, c, newPath, Some(emb))
  }

  private object IvfPq extends VecFamily {
    def name = "IVF-PQ"
    def buildWith(c: Seq[Seq[Double]])(rows: DataFrame, path: String) =
      VectorStore.write(VectorCodec.Pq(cb), rows, c, path)
    def append(rows: DataFrame, path: String, key: String) =
      VectorStore.append(VectorCodec.Pq(cb), rows, cents, path, key)
    def sink(src: DataFrame, path: String, ckpt: String) =
      Pipelines.vectorIndexSink(src, VectorCodec.Pq(cb), cents, path, ckpt)
    def topKWith(c: Seq[Seq[Double]])(index: DataFrame) =
      VectorStore.topKFromIndex(VectorCodec.Pq(cb),
        index, c, qv, 10, nProbe = 3)
    def reclusterTo(oldPath: String, c: Seq[Seq[Double]], newPath: String) =
      VectorStore.recluster(VectorCodec.Pq(cb),
        spark, oldPath, c, newPath, Some(emb))
  }

  /** The residual-encoded store is the sixth family: codes are
    * DOUBLY centroid-coupled (cell AND residual), so lifecycle
    * coherence — especially the recluster cutover, where every
    * surviving code must re-derive against the new centroids — is
    * exactly where an interleaving bug would hide.
    */
  private object ResidualPq extends VecFamily {
    def name = "residual IVF-PQ"
    def buildWith(c: Seq[Seq[Double]])(rows: DataFrame, path: String) =
      VectorStore.write(VectorCodec.ResidualPq(cb), rows, c, path)
    def append(rows: DataFrame, path: String, key: String) =
      VectorStore.append(VectorCodec.ResidualPq(cb), rows, cents, path, key)
    def sink(src: DataFrame, path: String, ckpt: String) =
      Pipelines.vectorIndexSink(src, VectorCodec.ResidualPq(cb),
        cents, path, ckpt)
    def topKWith(c: Seq[Seq[Double]])(index: DataFrame) =
      VectorStore.topKFromIndex(VectorCodec.ResidualPq(cb),
        index, c, qv, 10, nProbe = 3)
    def reclusterTo(oldPath: String, c: Seq[Seq[Double]], newPath: String) =
      VectorStore.recluster(VectorCodec.ResidualPq(cb),
        spark, oldPath, c, newPath, Some(emb))
  }

  private lazy val docs = Tables.documents(spark, sfDir).limit(96)
    .select("doc_id", "text").cache()
  // the two most frequent long-ish words of the fixture — terms that
  // certainly hit many docs, chosen once per corpus
  private lazy val terms: Seq[String] = docs
    .select(explode(split(lower(col("text")), "\\s+")).as("w"))
    .filter(length(col("w")) > 2)
    .groupBy("w").count()
    .orderBy(col("count").desc, col("w")).limit(2)
    .collect().map(_.getString(0)).toSeq

  private object Bm25 extends Family {
    def name = "BM25"
    def idCol = "doc_id"
    def corpus = docs
    def build(rows: DataFrame, path: String) =
      SearchOps.writeBm25Index(rows, path)
    def append(rows: DataFrame, path: String, key: String) =
      SearchOps.appendToBm25Index(rows, path, key)
    def sink(src: DataFrame, path: String, ckpt: String) =
      Pipelines.bm25IndexSink(src, path, ckpt)
    def delete(rows: DataFrame, path: String, key: String) =
      SearchOps.deleteFromBm25Index(rows.select(col("doc_id")), path, key)
    def compact(path: String) = SearchOps.compactBm25Index(spark, path)
    def retain(path: String, keep: Seq[String]) =
      SearchOps.compactBm25IndexKeeping(spark, path, keep)
    def streamBatch(i: Int) = i.toString
    def serve(path: String) =
      render(SearchOps.searchBm25FromIndex(spark, path, terms, 10))
    def serveAsOf(path: String, batches: Seq[String]) =
      render(SearchOps.searchBm25FromIndexAsOf(spark, path, terms, 10,
        batches))
    def asOfNamesDeletes = true
  }

  /** The mergeable gram index as the fifth family: every member is a
    * merge (appends are +nd partitions, deletes −nd partitions), and
    * the deletion request carries the text being forgotten. Serve =
    * the consolidated (g, nd) state itself.
    */
  private object GramIndex extends Family {
    def name = "gram index"
    def idCol = "doc_id"
    def corpus = docs
    def build(rows: DataFrame, path: String) =
      graft.textanalysis.TextAnalysis.writeMemorizationIndex(
        graft.textanalysis.TextAnalysis.memorizationIndex(rows, 3), path)
    def append(rows: DataFrame, path: String, key: String) =
      graft.textanalysis.TextAnalysis.appendToMemorizationIndex(
        rows, path, key, 3)
    def sink(src: DataFrame, path: String, ckpt: String) =
      Pipelines.memorizationIndexSink(src, path, ckpt, n = 3)
    def delete(rows: DataFrame, path: String, key: String) =
      graft.textanalysis.TextAnalysis.deleteFromMemorizationIndex(
        rows, path, key, 3)
    def compact(path: String) =
      graft.textanalysis.TextAnalysis.compactMemorizationIndex(spark, path)
    def retain(path: String, keep: Seq[String]) =
      graft.textanalysis.TextAnalysis
        .compactMemorizationIndexKeeping(spark, path, keep)
    def streamBatch(i: Int) = s"stream-$i"
    def serve(path: String) = render(
      graft.textanalysis.TextAnalysis.readMemorizationIndexMerged(
        spark, path).orderBy("g"))
    def serveAsOf(path: String, batches: Seq[String]) = render(
      graft.textanalysis.TextAnalysis.readMemorizationIndexAsOf(
        spark, path, batches).orderBy("g"))
    def asOfNamesDeletes = true
  }

  /** Fresh rebuild on `rows`, served the same way — the cross-check
    * every stage compares against. */
  private def rebuildServe(f: Family, rows: DataFrame): Seq[String] = {
    val p = tempDir("graft_lc_reb") + "/idx"
    f.build(rows, p)
    f.serve(p)
  }

  private def feedStream(f: Family, path: String, ckpt: String,
      batches: Seq[Seq[Long]]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val src = mem.toDS().toDF(f.idCol).join(f.corpus, f.idCol)
    val q = f.sink(src, path, ckpt)
    try batches.foreach { b =>
      mem.addData(b.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
  }

  private def lifecycle(f: Family): Unit = {
    val root = tempDir("graft_lc")
    val idx = s"$root/idx"
    val ids = f.corpus.select(col(f.idCol)).collect()
      .map(_.getLong(0)).sorted.toSeq
    def rowsOf(s: Seq[Long]) =
      f.corpus.filter(col(f.idCol).isin(s.map(Long.box): _*))
    val base = ids.filter(_ % 8 <= 2)
    val a1 = ids.filter(_ % 8 == 3)
    val s0 = ids.filter(_ % 8 == 4)
    val s1 = ids.filter(_ % 8 == 5)
    val a2 = ids.filter(_ % 8 == 6)

    // 1. build
    f.build(rowsOf(base), idx)
    assert(f.serve(idx) === rebuildServe(f, rowsOf(base)),
      s"${f.name}: build serve ≠ rebuild")

    // 2. batch append next to the build
    f.append(rowsOf(a1), idx, "app1")
    assert(f.serve(idx) === rebuildServe(f, rowsOf(base ++ a1)),
      s"${f.name}: append ≠ rebuild-on-union")

    // 3. stream ingest — two checkpointed micro-batches land a
    // NUMERIC clock next to the named batches
    feedStream(f, idx, s"$root/ckpt", Seq(s0, s1))
    val ingested = base ++ a1 ++ s0 ++ s1
    assert(f.serve(idx) === rebuildServe(f, rowsOf(ingested)),
      s"${f.name}: stream ingest ≠ rebuild-on-union")

    // 4. delete — two batches so each names the ingests it erases
    // from (del1 spans build+append docs, del2 the streamed docs:
    // the cross-member case the doclens sidecar must survive)
    val del1 = (base ++ a1).filter(_ % 3 == 2)
    val del2 = (s0 ++ s1).filter(_ % 3 == 2)
    f.delete(rowsOf(del1), idx, "del1")
    f.delete(rowsOf(del2), idx, "del2")
    val live4 = ingested.filterNot(i => i % 3 == 2)
    assert(f.serve(idx) === rebuildServe(f, rowsOf(live4)),
      s"${f.name}: delete ≠ rebuild-on-remaining")

    // 5. as-of mid-history: build + first append only (deletes by
    // name where the family scopes them; retroactive otherwise)
    val visible = Seq("build", "app1") ++
      (if (f.asOfNamesDeletes) Seq("del1") else Nil)
    val mid = (base ++ a1).filterNot(del1.contains)
    assert(f.serveAsOf(idx, visible) === rebuildServe(f, rowsOf(mid)),
      s"${f.name}: as-of(mid) ≠ rebuild on the visible live set")

    // 5b. RETENTION mid-history: fold everything except the SECOND
    // stream batch — serving must be invariant, the kept batch must
    // still replay alone (pre-erasure for the named-delete families,
    // erased for the retroactive ones — the folded deletes' kept-part
    // corrections survive as "retained"), and the folded append's
    // name must fail loudly
    f.retain(idx, Seq(f.streamBatch(1)))
    assert(f.serve(idx) === rebuildServe(f, rowsOf(live4)),
      s"${f.name}: retention changed serving")
    val s1Visible = if (f.asOfNamesDeletes) s1
      else s1.filterNot(i => i % 3 == 2)
    assert(f.serveAsOf(idx, Seq(f.streamBatch(1))) ===
      rebuildServe(f, rowsOf(s1Visible)),
      s"${f.name}: kept stream batch no longer replays after retention")
    intercept[IllegalArgumentException] {
      f.serveAsOf(idx, Seq("app1"))
    }

    // 6. compact: serving unchanged, tombstones physically gone,
    // stale pre-compaction names fail LOUDLY afterward
    f.compact(idx)
    assert(f.serve(idx) === rebuildServe(f, rowsOf(live4)),
      s"${f.name}: compacted serve changed")
    intercept[IllegalArgumentException] { f.serveAsOf(idx, Seq("app1")) }

    // 7. append AGAIN onto the compacted layout — maintenance must
    // keep composing after history collapses
    f.append(rowsOf(a2), idx, "app2")
    assert(f.serve(idx) === rebuildServe(f, rowsOf(live4 ++ a2)),
      s"${f.name}: post-compaction append ≠ rebuild")
    // and the new batch is as-of addressable next to the collapsed base
    assert(f.serveAsOf(idx, Seq("build", "app2")) ===
      rebuildServe(f, rowsOf(live4 ++ a2)),
      s"${f.name}: post-compaction as-of ≠ rebuild")

    // 8. drift RECLUSTER as the final stage (vector families): the
    // whole maintained history re-encodes against refreshed Lloyd
    // centroids into a cutover path — served there with the NEW
    // routing, it must equal a from-scratch rebuild of the live set
    // against those centroids
    f match {
      case vf: VecFamily =>
        val cents2 = Similarity.ivfBuild(emb, 8, 1)
        vf.reclusterTo(idx, cents2, s"$root/idx2")
        val served = render(vf.topKWith(cents2)(
          Similarity.readIvfIndex(spark, s"$root/idx2")))
        val reb = tempDir("graft_lc_rc") + "/idx"
        vf.buildWith(cents2)(rowsOf(live4 ++ a2), reb)
        assert(served === render(vf.topKWith(cents2)(
          spark.read.parquet(reb))),
          s"${f.name}: recluster cutover ≠ rebuild on refreshed centroids")
      case _ => // BM25 postings / gram counts don't drift
    }
  }

  Seq(Bm25, FloatIvf, Int8Ivf, IvfPq, ResidualPq, GramIndex).foreach { f =>
    test(s"${f.name}: full maintenance lifecycle, every stage ≡ rebuild") {
      lifecycle(f)
    }
  }
}
