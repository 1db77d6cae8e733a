package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{GraftFunctions, TextHashFunctions}
import Similarity.{PqCodebook, asDouble, cosineFor, probeCells}

/** How one cell-partitioned vector store encodes and scores a row — the
  * only decision that differs between the float, int8, PQ and
  * residual-PQ indexes. Cells are always assigned on the TRUE float
  * vector against frozen centroids; the codec decides what is stored
  * next to the cell and how a query scores it:
  *  - `encode`: the stored columns of a cell-assigned
  *    (vec_id, embedding, cell) frame;
  *  - `literalScore`: the score of one driver-side query as plan
  *    literals (the single serve and the small-Q batched serve), None
  *    for a degenerate query;
  *  - `queryArtifacts` / `artifactScore` / `artifactBytes`: the same
  *    score computed in-plan from a query-table column `q_emb` (the
  *    large-Q serve), bit-identical to the literal form, and its
  *    per-query broadcast estimate.
  */
sealed trait VectorCodec {
  /** The score column every serve of this store emits. */
  def scoreName: String
  /** Stored rows keep the float embedding, so a recluster can re-read
    * them; the compressed stores need a source of the original vectors.
    */
  def keepsFloats: Boolean
  private[similarity] def encode(assigned: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame
  private[similarity] def literalScore(index: DataFrame,
      cents: Seq[Seq[Double]], query: Seq[Double]): Option[Column]
  private[similarity] def queryArtifacts(servable: DataFrame,
      cents: Seq[Seq[Double]]): Seq[Column]
  private[similarity] def artifactScore(index: DataFrame,
      cents: Seq[Seq[Double]]): Column
  private[similarity] def artifactBytes(cents: Seq[Seq[Double]]): Column
}

object VectorCodec {
  /** The ADC score in micro-units: m lookups of `lut` (array<array<long>>)
    * by the row's codes, summed as exact longs.
    */
  private def lutScore6(lut: Column, m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(lut, j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)

  /** [[Similarity.pqLut6]] as a Column over the query-vector column: the
    * same index-order sub-dot fold and ·1e6 HALF_UP long rounding,
    * computed once per query row on the broadcast side.
    */
  private def pqLut6Col(cb: PqCodebook)(qe: Column): Column = {
    val cbLit = typedlit(cb.centroids.map(_.map(_.toVector).toVector).toVector)
    transform(cbLit, (subCents, j) =>
      transform(subCents, c =>
        round(aggregate(zip_with(
          slice(qe, j * cb.subDim + 1, lit(cb.subDim)), c,
          (x, y) => x * y), lit(0.0), (acc, x) => acc + x) * 1e6, 0)
          .cast("long")))
  }

  /** [[Similarity.cellLut6]] as a Column, in the same micro-units. */
  private def cellLut6Col(cents: Seq[Seq[Double]])(qe: Column): Column = {
    val centLit = typedlit(cents.map(_.toVector).toVector)
    transform(centLit, c =>
      round(aggregate(zip_with(qe, c, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x) * 1e6, 0).cast("long"))
  }

  /** Float embeddings scored by 4-place rounded cosine (`cos_sim`). */
  case object Float extends VectorCodec {
    val scoreName = "cos_sim"
    val keepsFloats = true
    private[similarity] def encode(assigned: DataFrame,
        cents: Seq[Seq[Double]]): DataFrame = assigned
    private[similarity] def literalScore(index: DataFrame,
        cents: Seq[Seq[Double]], query: Seq[Double]): Option[Column] =
      Some(round(cosineFor(index)(col("embedding"),
        typedlit(query.toVector)), 4))
    private[similarity] def queryArtifacts(servable: DataFrame,
        cents: Seq[Seq[Double]]): Seq[Column] = Seq(col("q_emb"))
    private[similarity] def artifactScore(index: DataFrame,
        cents: Seq[Seq[Double]]): Column =
      round(cosineFor(index)(col("embedding"), col("q_emb")), 4)
    private[similarity] def artifactBytes(cents: Seq[Seq[Double]]): Column =
      size(col("q_emb")).cast("long") * 8L + 16L
  }

  /** Symmetric int8 entries (scale, qvec) scored by the exact integer
    * dot, dequantized by both scales (`q_sim`) — 4× less scan I/O. The
    * query quantizes by the store's own rule ([[Similarity.quantizeQuery]]
    * on the driver, the native QuantizeVec in-plan).
    */
  case object Int8 extends VectorCodec {
    val scoreName = "q_sim"
    val keepsFloats = false
    private[similarity] def encode(assigned: DataFrame,
        cents: Seq[Seq[Double]]): DataFrame = {
      val q = GraftFunctions.call(assigned)(TextHashFunctions.QuantizeVecName,
        col("embedding"))
      assigned.select(col("vec_id"), q.getField("scale").as("scale"),
        q.getField("qvec").as("qvec"), col("cell"))
    }
    private[similarity] def literalScore(index: DataFrame,
        cents: Seq[Seq[Double]], query: Seq[Double]): Option[Column] = {
      val (qs, qq) = Similarity.quantizeQuery(query)
      if (qs == 0.0) None
      else Some(round(col("scale") * lit(qs) *
        Similarity.qdotFor(index)(col("qvec"), typedlit(qq.toVector)), 6))
    }
    private[similarity] def queryArtifacts(servable: DataFrame,
        cents: Seq[Seq[Double]]): Seq[Column] = {
      val q = GraftFunctions.call(servable)(TextHashFunctions.QuantizeVecName,
        col("q_emb"))
      Seq(q.getField("scale").as("q_scale"), q.getField("qvec").as("q_qvec"))
    }
    private[similarity] def artifactScore(index: DataFrame,
        cents: Seq[Seq[Double]]): Column =
      round(col("scale") * col("q_scale") *
        Similarity.qdotFor(index)(col("qvec"), col("q_qvec")), 6)
    private[similarity] def artifactBytes(cents: Seq[Seq[Double]]): Column =
      size(col("q_emb")).cast("long") * 4L + 24L
  }

  /** The two product-quantized stores: 8-byte codes scored by exact
    * integer-micro-unit ADC lookups (`pq_sim`). Only these two can serve
    * the two-stage refined path (shortlist, then exact float re-rank).
    */
  sealed trait PqCodec extends VectorCodec {
    def cb: PqCodebook
    val scoreName = "pq_sim"
    val keepsFloats = false
    private[similarity] def queryArtifacts(servable: DataFrame,
        cents: Seq[Seq[Double]]): Seq[Column] =
      Seq(pqLut6Col(cb)(col("q_emb")).as("q_lut"))
    private[similarity] def artifactBytes(cents: Seq[Seq[Double]]): Column =
      lit(cb.m.toLong * cb.centroids.head.length * 8L + 16L)
  }

  /** IVF-PQ: codes of the raw vector. */
  final case class Pq(cb: PqCodebook) extends PqCodec {
    private[similarity] def encode(assigned: DataFrame,
        cents: Seq[Seq[Double]]): DataFrame =
      assigned.select(col("vec_id"),
        Similarity.pqCodesCol(cb, asDouble(col("embedding"))).as("codes"),
        col("cell"))
    private[similarity] def literalScore(index: DataFrame,
        cents: Seq[Seq[Double]], query: Seq[Double]): Option[Column] =
      Some(round(lutScore6(typedlit(Similarity.pqLut6(cb, query)), cb.m) /
        1e6, 6))
    private[similarity] def artifactScore(index: DataFrame,
        cents: Seq[Seq[Double]]): Column =
      round(lutScore6(col("q_lut"), cb.m) / 1e6, 6)
  }

  /** IVFADC: codes of the residual v − c_cell; the score adds one
    * per-cell term, dot(q, v) = dot(q, c_cell) + dot(q, r).
    */
  final case class ResidualPq(cb: PqCodebook) extends PqCodec {
    private[similarity] def encode(assigned: DataFrame,
        cents: Seq[Seq[Double]]): DataFrame =
      Pq(cb).encode(Similarity.residualOf(assigned, cents), cents)
    private[similarity] def literalScore(index: DataFrame,
        cents: Seq[Seq[Double]], query: Seq[Double]): Option[Column] =
      Some(round((element_at(typedlit(Similarity.cellLut6(cents, query)
        .toVector), col("cell").cast("int") + 1) +
        lutScore6(typedlit(Similarity.pqLut6(cb, query)), cb.m)) / 1e6, 6))
    override private[similarity] def queryArtifacts(servable: DataFrame,
        cents: Seq[Seq[Double]]): Seq[Column] =
      super.queryArtifacts(servable, cents) :+
        cellLut6Col(cents)(col("q_emb")).as("q_clut")
    private[similarity] def artifactScore(index: DataFrame,
        cents: Seq[Seq[Double]]): Column =
      round((element_at(col("q_clut"), col("cell").cast("int") + 1) +
        lutScore6(col("q_lut"), cb.m)) / 1e6, 6)
    override private[similarity] def artifactBytes(
        cents: Seq[Seq[Double]]): Column =
      lit(cb.m.toLong * cb.centroids.head.length * 8L +
        cents.length.toLong * 8L + 16L)
  }
}

/** One cell-partitioned vector store over a [[VectorCodec]]: write,
  * append, recluster, serve and recall exist once for the float, int8,
  * PQ and residual-PQ indexes.
  *
  * The layout is (vec_id, <codec columns>, cell, batch_id), partitioned
  * by (cell, batch_id). Cell assignment is per row against frozen
  * centroid literals (narrow — vectors never shuffle), so append ≡
  * rebuild exactly, and a serve is the split distributed top-k needs:
  * one partition-pruning probe ([[Similarity.probeCells]] on the
  * driver, [[Similarity.probeCellsCol]] in-plan) plus the codec's
  * per-row scorer. Zero-norm vectors have no cell and are not indexed;
  * a degenerate (zero-norm or non-finite) query gets no probes and is
  * absent from every serve. The maintenance family
  * ([[Similarity.readIvfIndex]], delete, compact, as-of, history) is
  * layout-generic and serves every codec unchanged.
  */
object VectorStore {
  import VectorCodec.PqCodec

  /** Upper Q for the per-query-LITERAL batched plans. The literal plan
    * embeds every query's vector or LUT and explodes a Q-struct array
    * per scanned row: fastest at small Q (1.3–1.9× at Q=5, BUILD_NOTES),
    * but plan size, analysis time and the 64 KB codegen method limit
    * grow O(Q·dim). Past it every batched serve takes the query-table
    * plan (broadcast probe join, O(1) plan size in Q).
    */
  val LiteralMaxQ = 16

  /** The cell-assigned, codec-encoded rows of one write, each cell
    * co-located (without the repartition every input partition opens up
    * to nCells writers). The streaming ingest sink writes this frame too.
    */
  private[graft] def encoded(codec: VectorCodec, embeddings: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame =
    codec.encode(Similarity.cellAssigned(embeddings, cents), cents)
      .repartition(col("cell"))

  /** Build the index at `path` (batch "build"), replacing what is there. */
  def write(codec: VectorCodec, embeddings: DataFrame,
      cents: Seq[Seq[Double]], path: String): Unit =
    encoded(codec, embeddings, cents)
      .withColumn("batch_id", lit("build"))
      .write.mode("overwrite").partitionBy("cell", "batch_id").parquet(path)

  /** Append new vectors WITHOUT reading or rewriting the index: rows
    * land under their own (cell, batch_id = batchKey) partitions by
    * dynamic overwrite, so a retry of one key replaces its own rows
    * instead of double-inserting, and every batch stays as-of
    * addressable ([[Similarity.readIvfIndexAsOf]]). O(batch). The
    * centroids (and codebook) must be the build's, or append ≡ rebuild
    * breaks by construction; the caller owns id disjointness across
    * batches.
    */
  def append(codec: VectorCodec, newVectors: DataFrame,
      cents: Seq[Seq[Double]], path: String, batchKey: String): Unit = {
    requireBatchKey(batchKey)
    requireBatchLayout(newVectors.sparkSession, path)
    encoded(codec, newVectors, cents)
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("cell", "batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

  /** Batch names are non-empty and not "build" (the build's), not all
    * digits (the streaming ingest sink keys partitions by raw numeric
    * micro-batch id, and a replay of that batch would overwrite the
    * append) and not "retained" (the retention compactor's tombstones).
    */
  private def requireBatchKey(batchKey: String): Unit = {
    require(batchKey.nonEmpty && batchKey != "build",
      "batchKey must be a non-empty name other than the reserved \"build\"")
    require(!batchKey.forall(_.isDigit),
      s"batchKey \"$batchKey\" is all digits — the streaming ingest " +
        "sinks key their partitions by raw numeric micro-batch id, and " +
        "a checkpoint replay of that micro-batch would overwrite this " +
        "append; pick a non-numeric name")
    require(batchKey != "retained",
      "\"retained\" is reserved for compactIvfIndexKeeping's " +
        "kept-part tombstones — pick another name")
  }

  /** An index written before the (cell, batch_id) layout has flat
    * `cell=N` directories; nested appends would poison partition
    * discovery for every later read, so fail at write time.
    */
  private def requireBatchLayout(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      require(spark.read.parquet(path).columns.contains("batch_id"),
        s"IVF index at $path predates the (cell, batch_id) layout — " +
          "rebuild it with VectorStore.write before batch-keyed appends")
  }

  /** Centroid (and codebook) REFRESH: the LIVE entries (tombstones
    * honored) re-encode against new frozen literals into a fresh
    * `newPath`; the old index is never mutated, so cutover is a path
    * swap. A store that keeps floats re-reads them from the index; a
    * compressed one needs `source` (the original embeddings — cells
    * must come from the true floats), and live ids with no source row
    * fail LOUDLY: a refresh must never silently shrink the index.
    * O(index) background work by design.
    */
  def recluster(codec: VectorCodec, spark: SparkSession, oldPath: String,
      cents: Seq[Seq[Double]], newPath: String,
      source: Option[DataFrame] = None): Unit = {
    val live = Similarity.readIvfIndex(spark, oldPath)
    val vectors = source match {
      case None =>
        require(codec.keepsFloats, "this store carries no embeddings, " +
          "so refresh needs a source of the original vectors")
        live.select(col("vec_id"), col("embedding"))
      case Some(s) =>
        val ids = live.select(col("vec_id"))
        val src = s.select(col("vec_id"), col("embedding"))
        val missing = ids.join(src, Seq("vec_id"), "left_anti")
          .limit(5).collect().map(_.getLong(0))
        require(missing.isEmpty,
          s"live ids ${missing.mkString(", ")}… of the index at $oldPath " +
            "have no row in the supplied source table — refresh needs the " +
            "original vectors for every live entry")
        src.join(ids, Seq("vec_id"), "left_semi")
    }
    write(codec, vectors, cents, newPath)
  }

  /** One query's probe cells and literal score, None when degenerate. */
  private def literalQuery(codec: VectorCodec, index: DataFrame,
      cents: Seq[Seq[Double]], query: Seq[Double],
      nProbe: Int): Option[(Seq[Int], Column)] = {
    val probes = probeCells(cents, query, nProbe)
    if (probes.isEmpty) None
    else codec.literalScore(index, cents, query).map(probes -> _)
  }

  /** `rows` ranked by one score: TakeOrdered(k) on (score desc, vec_id). */
  private[similarity] def ranked(rows: DataFrame, score: Column,
      scoreName: String, k: Int): DataFrame =
    rows.select(col("vec_id"), score.as(scoreName))
      .orderBy(col(scoreName).desc, col("vec_id"))
      .limit(k)

  /** Top-k for one query: the probe cells are literals, so the `cell`
    * predicate is a PartitionFilter and the scan reads nProbe of nCells
    * directories, never the corpus.
    */
  def topKFromIndex(codec: VectorCodec, index: DataFrame,
      cents: Seq[Seq[Double]], queryVec: Seq[Double], k: Int,
      nProbe: Int): DataFrame =
    literalQuery(codec, index, cents, queryVec, nProbe) match {
      case Some((probes, score)) =>
        ranked(index.filter(col("cell").isin(probes: _*)), score,
          codec.scoreName, k)
      case None =>
        ranked(index.filter(lit(false)), lit(0.0), codec.scoreName, k)
    }

  /** The one literal/query-table selection of the batched serves:
    * non-empty, DISTINCT ids (a repeated id would double every
    * (query_id, vec_id) pair and halve the distinct top-k), then the
    * literal plan up to [[LiteralMaxQ]] queries, the query-table plan
    * past it.
    */
  private def batched(spark: SparkSession, queries: Seq[(Long, Seq[Double])])(
      table: DataFrame => DataFrame)(literal: => DataFrame): DataFrame = {
    require(queries.nonEmpty, "batched serving needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "query ids must be distinct — a repeated id would double every " +
        "(query_id, vec_id) pair and halve the distinct top-k")
    if (queries.length <= LiteralMaxQ) literal
    else table(spark.createDataFrame(queries).toDF("query_id", "embedding"))
  }

  /** BATCHED top-k: Q queries in ONE pass over the union of their
    * probed cells, each scanned row scored against every query's
    * literal, rows outside a query's own cells dropped, one bounded
    * (query_id, vec_id, score) rank shuffle. Output ≡ Q single
    * [[topKFromIndex]] serves; degenerate queries are absent.
    */
  def multiTopK(codec: VectorCodec, index: DataFrame,
      cents: Seq[Seq[Double]], queries: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int): DataFrame =
    batched(index.sparkSession, queries)(
        multiTopK(codec, index, cents, _, k, nProbe)) {
      val perQuery = queries.flatMap { case (qid, qv) =>
        literalQuery(codec, index, cents, qv, nProbe)
          .map { case (probes, score) => (qid, probes.toSet, score) }
      }
      val cells = perQuery.flatMap(_._2).distinct
      scoredPerQuery(index.filter(col("cell").isin(cells: _*)),
        perQuery.map { case (qid, probes, score) =>
          (qid, col("cell").cast("int").isin(probes.toSeq: _*), score)
        }, codec.scoreName, k)
    }

  /** The explode-over-literals core of the literal batched plans:
    * `perQuery` holds (query_id, membership of a scanned row in that
    * query's candidates, its score). No candidates at all → empty.
    */
  private def scoredPerQuery(scanned: DataFrame,
      perQuery: Seq[(Long, Column, Column)], scoreName: String,
      k: Int): DataFrame =
    if (perQuery.isEmpty)
      scanned.filter(lit(false)).select(lit(0L).as("query_id"),
        col("vec_id"), lit(0.0).as(scoreName))
    else {
      val entries = perQuery.map { case (qid, member, score) =>
        struct(lit(qid).as("query_id"), member.as("m"), score.as("s"))
      }
      topKPerQuery(scanned
        .select(col("vec_id"), explode(array(entries: _*)).as("e"))
        .filter(col("e.m"))
        .select(col("e.query_id").as("query_id"), col("vec_id"),
          col("e.s").as(scoreName)), scoreName, k)
    }

  /** Per-query top-k of (query_id, vec_id, score) rows, in the serves'
    * output order (query_id, score desc, vec_id).
    */
  private def topKPerQuery(scored: DataFrame, scoreName: String,
      k: Int): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(scoreName).desc, col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col(scoreName).desc, col("vec_id"))

  /** The query-TABLE batched serve for large Q: `queries`
    * (query_id, embedding) ride a broadcast (query_id, cell) probe
    * table joined on `cell` — directory pruning survives as DYNAMIC
    * partition pruning — and the codec's scoring artifacts ride a
    * second Q-row broadcast keyed by query_id (computed once per query,
    * not per probed cell). Plan size and driver work are O(1) in Q.
    * Output ≡ the literal plan ≡ Q single serves. The batch-shape and
    * broadcast-budget guards ride the plan ([[guardedServable]]).
    */
  def multiTopK(codec: VectorCodec, index: DataFrame,
      cents: Seq[Seq[Double]], queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val sv = guardedServable(queries, nProbe, codec.artifactBytes(cents))
    val arts = sv.select(col("query_id") +: codec.queryArtifacts(sv, cents): _*)
    topKPerQuery(index
      .join(broadcast(probePairs(sv, cents, nProbe)), Seq("cell"))
      .join(broadcast(arts), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        codec.artifactScore(index, cents).as(codec.scoreName)),
      codec.scoreName, k)
  }

  /** Broadcast-payload budget of one query-table serve (bytes;
    * `spark.graft.qtBroadcastBudget`, default 64 MB): past it the
    * serve's own action fails loudly with the fallback — chunk the
    * query batch ([[Similarity.servedInChunks]]) — instead of an OOM
    * from the forced broadcast.
    */
  private def qtBroadcastBudget(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.qtBroadcastBudget")
      .map(_.toLong).getOrElse(64L << 20)

  /** The SERVABLE query frame (query_id, q_emb) every query-table serve
    * starts from: degenerate queries (zero or non-finite squared norm —
    * the cosine against centroids would throw under ANSI) are dropped,
    * so they are ABSENT as in the single serve, and distinct ids and
    * the broadcast budget are checked by two window counts that ride
    * query_id — a violation fails the serve's own action, and building
    * the plan runs zero jobs. `artifactBytes` estimates one query's
    * broadcast payload; each probe pair adds 16 bytes.
    */
  private[similarity] def guardedServable(queries: DataFrame,
      nProbe: Int, artifactBytes: Column): DataFrame = {
    require(queries.columns.contains("query_id") &&
        queries.columns.contains("embedding"),
      s"query table needs (query_id, embedding), got " +
        s"(${queries.columns.mkString(", ")})")
    val budget = qtBroadcastBudget(queries.sparkSession)
    val idType = queries.schema("query_id").dataType
    val dupN = count(lit(1)).over(Window.partitionBy(col("query_id")))
    val batchBytes = sum(artifactBytes.cast("long") +
        lit(nProbe.toLong * 16L))
      .over(Window.partitionBy())
    val n2 = aggregate(col("q_emb"), lit(0.0), (acc, x) => acc + x * x)
    queries
      .select(col("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("query_id",
        when(dupN > 1, raise_error(concat(
            lit("query ids must be distinct — id "),
            col("query_id").cast("string"),
            lit(" appears more than once (a repeated id would halve " +
              "the distinct top-k silently)"))).cast(idType))
          .when(batchBytes > budget, raise_error(concat(
            lit("query-table broadcast budget exceeded: ~"),
            batchBytes.cast("string"),
            lit(s" bytes of probe/artifact rows against the $budget" +
              "-byte ceiling (spark.graft.qtBroadcastBudget) — chunk " +
              "the query batch into smaller serves"))).cast(idType))
          .otherwise(col("query_id")))
      .filter(n2 > 0.0 && !isnan(n2) && n2 =!= Double.PositiveInfinity)
  }

  /** The broadcast (query_id, cell) probe-pair side: Q·nProbe rows. */
  private[similarity] def probePairs(servable: DataFrame,
      cents: Seq[Seq[Double]], nProbe: Int): DataFrame =
    servable.select(col("query_id"),
      explode(Similarity.probeCellsCol(servable, cents, nProbe)(col("q_emb")))
        .as("cell"))

  /** Recall@k of the serve against the exact float ranking, per query
    * (`embeddings` supplies the query vectors and the exact baseline).
    */
  def recall(codec: VectorCodec, index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], queryIds: Seq[Long], k: Int,
      nProbe: Int): DataFrame =
    Similarity.servingRecall(embeddings, queryIds, k)(
      topKFromIndex(codec, index, cents, _, k, nProbe))

  // ---------------------------------------------------------------
  // Two-stage serving: ADC shortlist → exact float re-rank (PQ codecs)
  // ---------------------------------------------------------------

  private def requireShortlist(shortlist: Int, k: Int): Unit =
    require(shortlist >= k, s"shortlist $shortlist must cover top-$k")

  /** The float rows of a bounded id list: `In(vec_id, …)` pushes into the
    * scan (point lookups, not a corpus pass).
    */
  private def idRows(embeddings: DataFrame, ids: Seq[Long]): DataFrame =
    if (ids.isEmpty) embeddings.filter(lit(false))
    else embeddings.filter(col("vec_id").isin(ids: _*))

  /** Two-stage top-k (Jégou et al. 2011 §V): the ADC serve shortlists
    * `shortlist` ids from the probed cells, then the true float rows of
    * only those ids (`In(vec_id, …)` pushed into the scan — point
    * lookups, not a corpus pass) re-rank by exact cosine. Recovers the
    * ADC loss; the coarse routing loss stays.
    */
  def topKRefined(codec: PqCodec, index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], queryVec: Seq[Double], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireShortlist(shortlist, k)
    val ids = topKFromIndex(codec, index, cents, queryVec, shortlist, nProbe)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val cand = idRows(embeddings, ids)
    ranked(cand, round(cosineFor(embeddings)(col("embedding"),
      typedlit(queryVec.toVector)), 4), "cos_sim", k)
  }

  /** BATCHED two-stage serve: the shortlists of all Q queries from one
    * batched code scan, then ONE bounded fetch of the union of the
    * shortlisted float rows re-ranks every query — two scans for the
    * batch. Past [[LiteralMaxQ]] the query-table form below.
    */
  def multiTopKRefined(codec: PqCodec, index: DataFrame,
      embeddings: DataFrame, cents: Seq[Seq[Double]],
      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireShortlist(shortlist, k)
    batched(index.sparkSession, queries)(multiTopKRefined(codec, index,
        embeddings, cents, _, k, nProbe, shortlist)) {
      val byQ = multiTopK(codec, index, cents, queries, shortlist, nProbe)
        .select(col("query_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
      val allIds = byQ.values.flatten.toSeq.distinct
      val perQuery = queries.filter(q => byQ.contains(q._1)).map {
        case (qid, qv) =>
          (qid, col("vec_id").isin(byQ(qid): _*),
            round(cosineFor(embeddings)(col("embedding"),
              typedlit(qv.toVector)), 4))
      }
      val cand = idRows(embeddings, allIds)
      scoredPerQuery(cand, perQuery, "cos_sim", k)
    }
  }

  /** Query-table two-stage serve: the shortlist stays a DataFrame and
    * the re-rank is embeddings ⋈ broadcast(shortlist pairs) ⋈
    * broadcast(query vectors) — no Q×R id set collects. Output ≡ Q
    * single refined serves.
    */
  def multiTopKRefined(codec: PqCodec, index: DataFrame,
      embeddings: DataFrame, cents: Seq[Seq[Double]], queries: DataFrame,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    requireShortlist(shortlist, k)
    rerankPairs(embeddings, multiTopK(codec, index, cents, queries,
      shortlist, nProbe).select(col("query_id"), col("vec_id")), queries, k)
  }

  /** [[multiTopKRefined]] over a vec_id-BUCKETED embeddings table
    * ([[graft.ops.BucketedTables.writeBucketed]]): the bounded Q×R
    * shortlist collects once so the float fetch is a literal
    * `vec_id IN (…)` over the bucketed scan, which prunes bucket FILES
    * (no runtime filter can reach a broadcast join's streamed side).
    * Same scoring and output as the streamed form.
    */
  def multiTopKRefinedBucketed(codec: PqCodec, index: DataFrame,
      embeddings: DataFrame, cents: Seq[Seq[Double]], queries: DataFrame,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    requireShortlist(shortlist, k)
    val pairs = multiTopK(codec, index, cents, queries, shortlist, nProbe)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ids = pairs.map(_._2).distinct
    val fetched = idRows(embeddings, ids)
    rerankPairs(fetched, index.sparkSession.createDataFrame(pairs)
      .toDF("query_id", "vec_id"), queries, k)
  }

  /** Exact re-rank of (query_id, vec_id) shortlist pairs. */
  private def rerankPairs(candidates: DataFrame, pairs: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val qv = queries.select(col("query_id"),
      asDouble(col("embedding")).as("q_emb"))
    topKPerQuery(candidates.join(broadcast(pairs), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(candidates)(col("embedding"), col("q_emb")), 4)
          .as("cos_sim")), "cos_sim", k)
  }

  /** Recall@k of the two-stage serve: with [[recall]] (the pure-ADC
    * point) it separates what the re-rank recovers from the routing
    * loss it cannot.
    */
  def refinedRecall(codec: PqCodec, index: DataFrame,
      embeddings: DataFrame, cents: Seq[Seq[Double]], queryIds: Seq[Long],
      k: Int, nProbe: Int, shortlist: Int): DataFrame =
    Similarity.servingRecall(embeddings, queryIds, k)(
      topKRefined(codec, index, embeddings, cents, _, k, nProbe, shortlist))

  /** The SHORTLIST-DEPTH curve of [[refinedRecall]] in one evaluation,
    * row-identical to one [[refinedRecall]] per depth unioned with a
    * `shortlist` column: ADC ranks by a total order, so ONE shortlist
    * at the deepest depth prefixes every shallower one; one float fetch
    * per query re-ranks all depths, and the exact baseline runs once.
    */
  def refinedRecallCurve(codec: PqCodec, index: DataFrame,
      embeddings: DataFrame, cents: Seq[Seq[Double]], queryIds: Seq[Long],
      k: Int, nProbe: Int, shortlists: Seq[Int]): DataFrame = {
    require(queryIds.nonEmpty, "recall eval needs at least one query id")
    require(shortlists.nonEmpty, "curve needs at least one depth")
    shortlists.foreach(requireShortlist(_, k))
    val maxR = shortlists.max
    val qvecs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector)
      .toMap
    val approx = queryIds.filter(qvecs.contains).map { qid =>
      // ordered deepest shortlist; take(r) IS the depth-r shortlist
      val ids = topKFromIndex(codec, index, cents, qvecs(qid), maxR, nProbe)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val cand = idRows(embeddings, ids)
      val entries = shortlists.map { r =>
        val pref = ids.take(r)
        struct(lit(r).as("shortlist"),
          (if (pref.isEmpty) lit(false)
           else col("vec_id").isin(pref: _*)).as("m"))
      }
      cand
        .select(col("vec_id"),
          round(cosineFor(embeddings)(col("embedding"),
            typedlit(qvecs(qid).toVector)), 4).as("cos_sim"),
          explode(array(entries: _*)).as("e"))
        .filter(col("e.m"))
        // top-k within a depth by the re-rank order — row_number over
        // (cos_sim desc, vec_id) ≡ orderBy(...).limit(k)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("e.shortlist"))
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rn") <= k)
        .select(col("e.shortlist").as("shortlist"),
          lit(qid).as("query_id"), col("vec_id"), lit(1L).as("hit"))
    }.reduceOption(_.unionByName(_))
      .getOrElse(embeddings.sparkSession.emptyDataFrame
        .select(lit(0).as("shortlist"), lit(0L).as("query_id"),
          lit(0L).as("vec_id"), lit(1L).as("hit")).filter(lit(false)))
    Similarity.multiQueryTopK(embeddings, queryIds, k)
      .select(col("query_id"), col("vec_id"))
      .withColumn("shortlist", explode(typedlit(shortlists.toVector)))
      .join(approx, Seq("shortlist", "query_id", "vec_id"), "left")
      .groupBy(col("shortlist"), col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"),
        round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"),
        col("shortlist"))
      .orderBy(col("shortlist"), col("query_id"))
  }
}
