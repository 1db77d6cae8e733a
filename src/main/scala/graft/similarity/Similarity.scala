package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{GraftFunctions, TextHashFunctions}

/** Similarity search over embedding columns (Array[Float]).
  *
  * Scale design (100 TB):
  *  - Brute-force cosine is the exact baseline: a broadcast of the
  *    query vector(s) + one narrow pass + TakeOrdered(k). No shuffle
  *    of the embedding table, ever — only (id, score) pairs move.
  *  - Multi-query batches broadcast the whole query set and rank
  *    per-query with a window over (query, score) — one shuffle of
  *    candidate pairs, never of raw vectors.
  *  - The ANN path is sign-random-projection LSH: vectors hash to a
  *    small bucket id (sign bits against deterministic hyperplanes),
  *    so at scale the table can be written partitioned by bucket and
  *    a query scans only its probe buckets (partition pruning), at a
  *    documented recall trade-off. Hyperplanes derive from
  *    xxhash64(plane, dim) — no RNG state, reproducible across runs.
  *  - All arithmetic in double: float inputs are widened first so
  *    scores are deterministic and engine-comparable.
  */
object Similarity {

  private[similarity] def asDouble(v: Column): Column = v.cast("array<double>")

  /** Cosine similarity as the native fused-loop Catalyst expression
    * (graft.plans.CosineSimilarity): one array walk instead of the
    * composed dot/norm form's four, bit-identical (CosineSimilaritySpec).
    */
  private[similarity] def cosineFor(df: DataFrame)(a: Column, b: Column): Column =
    GraftFunctions.call(df)(GraftFunctions.CosineName, asDouble(a), asDouble(b))

  /** Exact top-k by cosine against one stored vector (query joined in
    * as a broadcast single-row frame). Scores rounded to 4 places
    * before ranking so tie order is engine-stable.
    */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    embeddings
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: the top-k most
    * similar vectors to `queryId` whose similarity stays BELOW
    * `positiveThreshold` — the query itself (cos 1.0) and its
    * near-duplicates/augmentations (the POSITIVES, cos ≥ threshold)
    * are excluded, leaving negatives that are hard (similar) but
    * safe (not the same content). The in-batch-negatives upgrade
    * every contrastive-embedding recipe reaches for.
    *
    * The threshold compares the 4-decimal-ROUNDED similarity — the
    * repo's oracle-exact cosine edge — so the cut cannot flip
    * cross-engine. Same plan as [[bruteForceTopK]]: one scan,
    * broadcast query, TakeOrdered; the gate adds zero exchanges.
    * For serving scale, compose the same filter over
    * [[VectorStore.topKFromIndex]]'s pruned scan instead.
    */
  /** Embedding-space drift monitor: cosine of each label's centroid
    * against the global centroid — the embedding analog of
    * [[graft.textanalysis.TextAnalysis.domainDivergence]]'s token-KL
    * readout. A source/label whose centroid swings away from the
    * blend signals distribution shift in exactly the space the
    * downstream model consumes.
    *
    * Exactness: per-component values are fixed-pointed by
    * ⌊x · 2^44⌋ — floor of an IEEE double product is deterministic in
    * any engine (and for these float inputs the product is already an
    * exact integer: a float's 24-bit mantissa needs only exponent ≥
    * −21) — so the per-(label, dim) sums are exact longs and the two
    * centroid vectors are integer-exact. Cosine is scale-invariant,
    * so the SUM vectors stand in for the centroids: no division ever
    * happens, and the one rounded readout is the repo's 4-decimal
    * cosine convention.
    *
    * Scale shape: ONE corpus scan — the (label, dim) aggregation with
    * map-side combine materializes eagerly into a labels × dims
    * frame (localCheckpoint, the PageRank round pattern) that both
    * the per-label and global branches read, so neither re-scans the
    * corpus; the global vector is a fold over the per-label sums in
    * exact LONG space (a double-space fold would silently lose
    * integer exactness past 2^53 at real corpus sizes) and broadcasts
    * as a 1-row cross join.
    */
  def centroidDrift(embeddings: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val scale = 17592186044416L // 2^44
    val comp = embeddings
      .select(col(labelCol).as("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x") * lit(scale.toDouble)).cast("long").as("xi"))
    val byLabelDim = graft.Artifacts.checkpoint(
      comp.groupBy(col("label"), col("dim"))
        .agg(sum(col("xi")).as("s"), count(lit(1)).as("nv")))
    val lv = byLabelDim.groupBy(col("label"))
      .agg(max(col("nv")).as("n_vecs"),
        transform(array_sort(collect_list(struct(col("dim"),
            col("s").as("s")))), t => t.getField("s")).as("lvi"))
    val gv = lv.agg(collect_list(col("lvi")).as("vs"))
      // get() (0-based, null on out-of-bounds) not element_at: an
      // EMPTY embeddings input leaves vs empty, and under Spark 4's
      // default ANSI mode element_at(vs, 1) would throw during the
      // broadcast build instead of the query returning zero rows
      .select(aggregate(
        slice(col("vs"), lit(2), size(col("vs"))),
        get(col("vs"), lit(0)),
        (acc, v) => zip_with(acc, v, (a, b) => a + b)).as("gvi"))
    lv.crossJoin(broadcast(gv))
      .select(col("label"), col("n_vecs"),
        round(cosineFor(embeddings)(
          col("lvi").cast("array<double>"),
          col("gvi").cast("array<double>")), 4)
          .as("drift_cos"))
      .orderBy(col("label"))
  }

  /** Embedding-quality outlier gate: each vector's cosine to its OWN
    * label's centroid — a vector far from its class center is a
    * mislabel, an encoder glitch, or genuinely off-distribution, and
    * a training pipeline drops or re-routes it (the per-VECTOR
    * companion of [[centroidDrift]]'s per-label readout). Cosine is
    * scale-invariant, so the exact integer 2^44 fixed-point SUM
    * vector stands in for the centroid — no division, no float-sum
    * order dependence, the centroidDrift exactness contract.
    *
    * Scale shape: one narrow fixed-point explode + a bounded
    * (labels × dims) aggregation, broadcast back over a single
    * scoring pass — the corpus never shuffles.
    */
  def embeddingOutliers(embeddings: DataFrame, threshold: Double = 0.5,
      labelCol: String = "label"): DataFrame = {
    val scale = 17592186044416L // 2^44
    val lv = embeddings
      .select(col(labelCol).as("__lbl"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("__lbl"), col("dim"),
        floor(col("x") * lit(scale.toDouble)).cast("long").as("xi"))
      .groupBy(col("__lbl"), col("dim"))
      .agg(sum(col("xi")).as("s"))
      .groupBy(col("__lbl"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
          col("s").as("s")))), t => t.getField("s")).as("lvi"))
    embeddings
      .join(broadcast(lv), col(labelCol) === col("__lbl"))
      .select(col("vec_id"), col(labelCol).as("label"),
        round(cosineFor(embeddings)(
          asDouble(col("embedding")), col("lvi").cast("array<double>")), 4)
          .as("centroid_cos"))
      .withColumn("outlier", col("centroid_cos") < threshold)
      .orderBy(col("vec_id"))
  }

  /** Contrastive-training pair export: for each anchor, the single
    * best POSITIVE (cos ≥ threshold, anchor itself excluded) and the
    * `kNeg` hardest NEGATIVES below the threshold — the
    * (anchor, positive, negatives) triplet shape contrastive losses
    * consume, flattened to rows. The positive/negative split and
    * both rankings are deterministic (rounded cosine desc, id).
    * An anchor with no qualifying positive simply exports no
    * positive row — the consumer's miss, not a null.
    *
    * Scale shape: anchors broadcast, ONE narrow scored pass over the
    * corpus, one window per (anchor, role) on the bounded anchor
    * set.
    */
  def contrastivePairs(embeddings: DataFrame, queryIds: Seq[Long],
      kNeg: Int, positiveThreshold: Double = 0.98): DataFrame = {
    val qs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"), col("role"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    embeddings.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4)
          .as("cos_sim"))
      .withColumn("role",
        when(col("cos_sim") >= positiveThreshold, lit("positive"))
          .otherwise(lit("negative")))
      .withColumn("rank", row_number().over(w))
      .filter((col("role") === "positive" && col("rank") === 1) ||
        (col("role") === "negative" && col("rank") <= kNeg))
      .select(col("query_id"), col("role"), col("rank"), col("vec_id"),
        col("cos_sim"))
      .orderBy(col("query_id"), col("role"), col("rank"))
  }

  def hardNegatives(embeddings: DataFrame, queryId: Long, k: Int,
      positiveThreshold: Double = 0.98): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    embeddings
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .filter(col("cos_sim") < positiveThreshold)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched exact top-k: one pass of the table scores every query in
    * the broadcast set; row_number ranks within each query.
    */
  def multiQueryTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val qs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    embeddings
      .crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------
  // Int8 quantization (the compressed embedding store)
  // ---------------------------------------------------------------

  /** The compressed store: (id, scale, qvec) — int8-valued entries at
    * 4× less scan volume than float32, the serving form of a 100 TB
    * embedding corpus. NARROW (a projection): quantization streams at
    * parquet-scan speed, and downstream scoring shuffles nothing but
    * (id, score) pairs.
    *
    * The rule (symmetric int8): scale = max|x| / 127 and q_i =
    * round(x_i / scale) ∈ [-127, 127], rounding half away from zero
    * (Spark and DuckDB agree). Pure IEEE max + divide over the stored
    * floats, so for finite inputs the values are bit-identical in any
    * engine, and |x_i| ≤ max|x| keeps every q_i within 127. All-zero,
    * empty and non-finite vectors get scale 0.0 and all-zero entries
    * (round(NaN/Inf).cast(int) would throw under ANSI mode and kill
    * the job for one bad row); that branch is pinned by spec, not by
    * the DuckDB oracle.
    */
  def quantizeEmbeddings(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // native one-pass build (QuantExprs — no asDouble copy, no
    // interpreted transform per element); whole-stage codegen
    // dedupes the shared struct via subexpression elimination.
    // QuantSpec pins parity with the composed quantScale/quantizeVec.
    val q = GraftFunctions.call(embeddings)(TextHashFunctions.QuantizeVecName,
      col(vecCol))
    embeddings.select(col(idCol), q.getField("scale").as("scale"),
      q.getField("qvec").as("qvec"))
  }

  /** The per-vector quantization-quality readout of the compressed
    * store: (scale, |q|₁, max q, min q, non-zero count) in one native
    * pass (QuantSpec pins element parity with the composed
    * higher-order form; the oracled q_embed_quantize row hash-gates
    * the readout end-to-end).
    */
  def quantStatsReadout(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val st = GraftFunctions.call(embeddings)(TextHashFunctions.QuantStatsName,
      col(vecCol))
    embeddings.select(col(idCol),
      round(st.getField("scale"), 9).as("scale"),
      st.getField("q_l1").as("q_l1"),
      st.getField("q_max").as("q_max"),
      st.getField("q_min").as("q_min"),
      st.getField("n_nonzero").as("n_nonzero"))
  }

  /** EXACT integer dot product of two quantized vectors (≤ 127²·dim
    * fits a long for any dim under 5.7e14) — the reason quantized
    * scoring is fully cross-engine-reproducible: no float sum order
    * to diverge. One native primitive loop (QuantSpec pins parity
    * with the composed zip_with/aggregate fold).
    */
  def qdotFor(df: DataFrame)(a: Column, b: Column): Column =
    GraftFunctions.call(df)(TextHashFunctions.QdotName, a, b)

  /** Top-k over the COMPRESSED store: score = scaleₐ·scale_b·(qₐ·q_b),
    * the dequantized dot product — integer-exact inside, two IEEE
    * multiplies outside, rounded to 6 for engine-stable ranking
    * (vec_id tiebreak). Same plan shape as [[bruteForceTopK]]: one
    * broadcast query row, a narrow scoring scan, TakeOrdered — but
    * the scan reads int8 arrays, not float32.
    */
  def quantizedTopK(quantized: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = quantized.filter(col("vec_id") === queryId)
      .select(col("scale").as("q_scale"), col("qvec").as("q_qvec"))
    quantized
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(col("scale") * col("q_scale") *
          qdotFor(quantized)(col("qvec"), col("q_qvec")), 6).as("q_sim"))
      .orderBy(col("q_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Sign-random-projection bucket id: bit p = sign of <v, plane_p>,
    * plane component (p, j) = xxhash64(p, j) mapped to [-0.5, 0.5) —
    * fixed given (p, j), no RNG state. One native pass (bit-identical
    * to the composed form; see TextHashSpec).
    */
  def srpBucketFor(df: DataFrame)(v: Column, nPlanes: Int): Column =
    GraftFunctions.call(df)(TextHashFunctions.SrpBucketName, asDouble(v),
      lit(nPlanes))

  /** md5-plane SRP bucket — the cross-engine-oracle variant: plane
    * component (p, j) = (int(md5hex("p|j")[1..8], 16) % 1000)/1000
    * − 0.5, replayable in DuckDB. The dot product folds in index
    * order on every path (composed, native, oracle list_reduce), so
    * the float sum — and therefore the sign — is bit-identical.
    */
  def srpBucketMd5For(df: DataFrame)(v: Column, nPlanes: Int): Column =
    GraftFunctions.call(df)(TextHashFunctions.Md5SrpBucketName, asDouble(v),
      lit(nPlanes))

  /** JL projection: component p = the index-ordered dot <v, plane_p>
    * over the SAME md5 hyperplane family as [[srpBucketMd5For]]
    * (Achlioptas-style deterministic projection matrix — no RNG
    * state, reproducible in any engine with md5).
    * Johnson–Lindenstrauss: pairwise angles are approximately
    * preserved at outDim ≪ dim, so a 100 TB ANN scan can rank 8
    * doubles instead of 64 floats — ~8× less scan volume per
    * candidate, with recall measured (not assumed) by
    * [[projectedRecall]]. One native pass (graft.plans.JlProjectMd5 —
    * the composed form is an interpreted lambda per (plane, element),
    * the WordNgrams-class hazard); bit parity spec'd.
    */
  def jlProjectFor(df: DataFrame)(v: Column, outDim: Int): Column =
    GraftFunctions.call(df)(TextHashFunctions.JlProjectName, asDouble(v),
      lit(outDim))

  /** Projected-component readout: one row per (vec_id, plane index,
    * 6-rounded component) — the exploded form every engine can
    * hash-compare. NARROW: projection is a per-row multiply-add
    * pass; nothing shuffles but the generator output.
    */
  def randomProject(embeddings: DataFrame, outDim: Int): DataFrame =
    embeddings
      .select(col("vec_id"),
        posexplode(jlProjectFor(embeddings)(col("embedding"), outDim))
          .as(Seq("p", "c")))
      .select(col("vec_id"), col("p"), round(col("c"), 6).as("comp"))

  /** (vec_id, pvec) projected vectors — the reusable internal form. */
  private def projectedVectors(embeddings: DataFrame,
      outDim: Int): DataFrame =
    embeddings.select(col("vec_id"),
      jlProjectFor(embeddings)(col("embedding"), outDim).as("pvec"))

  /** Exact top-k by cosine IN THE PROJECTED SPACE — the serving scan
    * a JL deployment runs: same plan shape as [[bruteForceTopK]]
    * (one broadcast query row, narrow scoring scan, TakeOrdered) but
    * the scan ranks outDim doubles per row instead of the full
    * vector. Unrounded projections feed the cosine (they are already
    * bit-identical cross-engine by the index-ordered-fold argument);
    * only the readout rounds.
    */
  def projectedTopK(embeddings: DataFrame, queryId: Long, k: Int,
      outDim: Int): DataFrame = {
    val proj = projectedVectors(embeddings, outDim)
    val q = proj.filter(col("vec_id") === queryId)
      .select(col("pvec").as("q_pvec"))
    proj.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineFor(embeddings)(col("pvec"), col("q_pvec")), 4)
          .as("proj_sim"))
      .orderBy(col("proj_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Recall@k of the projected-space ranking against the full-dim
    * exact ranking for `queryIds` — the measurement that justifies a
    * projection width before a deployment trusts it (the
    * [[annRecall]] convention: both rankings replay in the oracle
    * engine, so the recall numbers themselves are hash-gated).
    */
  def projectedRecall(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int, outDim: Int): DataFrame = {
    val proj = projectedVectors(embeddings, outDim)
    val qs = proj.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("pvec").as("q_pvec"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("proj_sim").desc, col("vec_id"))
    val approx = proj
      .crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(embeddings)(col("pvec"), col("q_pvec")), 4)
          .as("proj_sim"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    multiQueryTopK(embeddings, queryIds, k)
      .select(col("query_id"), col("vec_id"))
      .join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  private def bucketExprFor(df: DataFrame, hashMode: String)(
      v: Column, nPlanes: Int): Column = {
    require(hashMode == "xx" || hashMode == "md5",
      s"unknown SRP hashMode '$hashMode' (xx | md5)")
    if (hashMode == "md5") srpBucketMd5For(df)(v, nPlanes)
    else srpBucketFor(df)(v, nPlanes)
  }

  /** ANN top-k: candidates = rows in the query's SRP bucket, ranked
    * exactly within. At scale the bucket is a partition-pruned scan;
    * recall vs brute force is the documented trade (see spec).
    */
  def annTopK(embeddings: DataFrame, queryId: Long, k: Int,
      nPlanes: Int = 8, multiProbe: Boolean = false,
      hashMode: String = "xx"): DataFrame = {
    val bucketed = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
      .withColumn("bucket",
        bucketExprFor(embeddings, hashMode)(col("embedding"), nPlanes))
    val probes =
      if (multiProbe)
        // the query bucket + every Hamming-1 neighbor: vectors on the
        // wrong side of exactly one hyperplane are still candidates
        array((0 until nPlanes).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i))) :+ col("bucket"): _*)
      else array(col("bucket"))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        explode(probes).as("q_bucket"))
    bucketed
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .select(col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF ANN top-k: every vector coarse-quantizes to its nearest of
    * `nCells` centroids, and a query ranks exactly within only the
    * `nProbe` cells nearest to it — the inverted-file counterpart to
    * the SRP-LSH path above.
    *
    * Centroids are the first `nCells` stored vectors (deterministic;
    * a production build would k-means them — the assignment/probe
    * plumbing is identical either way). They ride along as a
    * collected literal, exactly like a broadcast dimension, so cell
    * assignment is a NARROW projection: no shuffle of the vector
    * table, ever. At scale the assigned table is written partitioned
    * by `cell` and a query scans nProbe partitions (partition
    * pruning), at a recall trade-off spec'd against brute force.
    *
    * Tie-breaks are engine-stable: scores round to 4 places and the
    * lowest cell id wins (array_position finds the FIRST max).
    *
    * Zero-norm vectors have no cosine direction and therefore no cell:
    * they are unindexable (excluded from every probe scan), the
    * standard IVF restriction. A zero-norm QUERY yields an empty
    * result (its probe list is empty) rather than k rows of null.
    */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int,
      nCells: Int = 16, nProbe: Int = 2): DataFrame =
    ivfTopKFrom(embeddings, seedCentroids(embeddings, nCells), queryId, k, nProbe)

  /** The first `nCells` stored vectors as seed centroids. */
  def seedCentroids(embeddings: DataFrame, nCells: Int): Seq[Seq[Double]] =
    embeddings
      .filter(col("vec_id") < nCells)
      .orderBy(col("vec_id"))
      .select(asDouble(col("embedding")).as("e"))
      .collect().map(_.getSeq[Double](0).toVector).toVector

  /** Lloyd-refined IVF centroids: each iteration assigns every vector
    * to its nearest centroid (narrow, no shuffle) and recomputes each
    * cell's mean — ONE shuffle of (cell, dim, component) partial sums
    * per iteration, the standard distributed k-means shape; raw
    * vectors never co-locate. Empty cells keep their previous
    * centroid. Refined centroids improve cell balance over the
    * first-N seeds; exactness of the probe scan is centroid-
    * independent (probing all cells ≡ brute force, spec'd).
    */
  /** Per-centroid scores for a vector column: higher-order transform
    * runs interpreted, so each per-cell score uses the native
    * fused-loop cosine — one tight pass per cell
    * instead of nested interpreted lambdas. Shared by build and query
    * so assignment and probing can never disagree on rounding or
    * tie-break.
    */
  private[similarity] def cellScoresFor(df: DataFrame, centLit: Column)(v: Column): Column =
    transform(centLit, c => round(cosineFor(df)(v, c), 4))

  /** Argmax cell of a score array: first index achieving the max
    * (lowest cell id on ties); null for zero-norm vectors (all-null
    * scores — unindexable).
    */
  private[similarity] def cellOf(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("int")

  def ivfBuild(embeddings: DataFrame, nCells: Int = 16,
      iterations: Int = 2): Seq[Seq[Double]] =
    refineCentroids(embeddings, seedCentroids(embeddings, nCells),
      iterations)

  /** The Lloyd loop with CALLER-SUPPLIED seeds — what a refresh on a
    * drifted corpus needs: [[seedCentroids]]' lowest-vec_id rule can
    * only seed from the original distribution (drift batches carry
    * high ids), and cosine-assignment Lloyd cannot move a centroid
    * into a cone no seed points at — mixing in seeds drawn from the
    * drift batch lets the refresh actually allocate cells there.
    * Same per-iteration shape as [[ivfBuild]]: one narrow assignment
    * pass + one (cell, dim) partial-sum shuffle; empty cells keep
    * their previous centroid.
    */
  def refineCentroids(embeddings: DataFrame, seeds: Seq[Seq[Double]],
      iterations: Int): Seq[Seq[Double]] = {
    var cents = seeds.map(_.toVector).toVector: Seq[Seq[Double]]
    val dims = cents.headOption.map(_.length).getOrElse(0)
    if (cents.isEmpty) return cents
    var it = 0
    while (it < iterations) {
      val centLit = typedlit(cents)
      val means = embeddings
        .withColumn("__scores",
          cellScoresFor(embeddings, centLit)(col("embedding")))
        .select(cellOf(col("__scores")).as("cell"),
          posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
        // zero-norm vectors have a null cell (unindexable) — they
        // contribute to no centroid
        .filter(col("cell").isNotNull)
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toVector
        }
      cents = cents.indices.map { c =>
        means.get(c).filter(_.length == dims).getOrElse(cents(c))
      }.toVector
      it += 1
    }
    cents
  }

  /** The cell-assigned frame every vector-store write encodes: the
    * input columns plus `cell`, the argmax cell against the frozen
    * centroid literals (a NARROW projection — vectors never shuffle).
    * Zero-norm (unindexable) rows are dropped, matching the probe scan.
    */
  private[similarity] def cellAssigned(embeddings: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val centLit = typedlit(cents)
    embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
      .drop("__scores")
      .filter(col("cell").isNotNull)
  }

  /** Is the inferred batch_id partition column an integer family type
    * (the streaming sink's numeric clock)? Name-keyed layouts infer
    * string.
    */
  private[graft] def integralBatchIds(df: DataFrame): Boolean =
    df.schema("batch_id").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Distinct batch names present in a written IVF layout, from the
    * PARTITION DIRECTORIES alone — a driver-side listing (O(cells ×
    * batches) names), no footer or row ever read. Directory names
    * are URI-unescaped (Spark percent-encodes special characters in
    * partition VALUES — space, ':', '%', …), so a batchKey containing
    * one still matches its own partitions instead of falsely failing
    * the named as-of's existence check.
    */
  private def ivfKnownBatches(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(new org.apache.hadoop.fs.Path(path, "cell=*/batch_id=*"))
      .map(s => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(s.getPath.getName.stripPrefix("batch_id=")))
      .toSet
  }

  /** DELETE vectors from a written IVF (or quantized-IVF) index
    * WITHOUT rewriting it — the erasure member of the index-
    * maintenance family. Ids land as tombstones under
    * `path/_tombstones/batch_id=K/` (the underscore prefix hides the
    * directory from the cell scan's partition discovery), and
    * [[readIvfIndex]] anti-joins them at serve time — tombstoned
    * serving ≡ rebuild-on-remaining exactly, because cell assignment
    * is per-row against frozen centroids (removing a row cannot move
    * any other row). O(delete batch); cells are never read. Retries
    * of one `batchKey` dynamic-overwrite their own partition.
    */
  def deleteFromIvfIndex(deleteIds: DataFrame, path: String,
      batchKey: String): Unit = {
    require(batchKey.nonEmpty, "batchKey must be non-empty")
    // same erasure-resurrection class as the stream-prefix check
    // below: "retained" is the retention compactor's tombstone batch,
    // and a manual delete under that name would overwrite it
    require(batchKey != "retained",
      "\"retained\" is reserved for compactIvfIndexKeeping's " +
        "kept-part tombstones — pick another name")
    // a MANUAL batchKey shaped like a registered delete stream's
    // generated "<keyPrefix>-N" keys would be dynamic-overwritten by
    // that stream's checkpoint replay of micro-batch N, silently
    // resurrecting this erasure (the deleteFromBm25Index rule)
    deleteStreamPrefixOf(deleteIds.sparkSession, path, batchKey).foreach { p =>
      throw new IllegalArgumentException(
        s"batchKey \"$batchKey\" collides with delete stream prefix " +
          s"\"$p\" registered on the index at $path — a checkpoint " +
          "replay of that stream would overwrite this batch's " +
          "tombstones; pick a key that is not \"<prefix>-<digits>\"")
    }
    deleteFromIvfIndexImpl(deleteIds, path, batchKey)
  }

  /** The streaming delete sink's entry: the sink owns its
    * "<keyPrefix>-N" keys, so the reservation check is skipped (a
    * replay overwriting its own partitions is the design).
    */
  private[graft] def deleteFromIvfIndexSink(deleteIds: DataFrame,
      path: String, batchKey: String): Unit = {
    require(batchKey.nonEmpty, "batchKey must be non-empty")
    deleteFromIvfIndexImpl(deleteIds, path, batchKey)
  }

  /** Idempotent marker registering a delete STREAM's keyPrefix on the
    * index (see [[deleteFromIvfIndex]]).
    */
  private[graft] def registerIvfDeleteStreamPrefix(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keyPrefix: String): Unit = {
    require(!keyPrefix.contains("/"),
      s"keyPrefix must not contain '/': $keyPrefix")
    val marker = new org.apache.hadoop.fs.Path(
      path + "/_delete_streams/" + keyPrefix)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) fs.create(marker, true).close()
  }

  private def deleteStreamPrefixOf(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batchKey: String): Option[String] = {
    val i = batchKey.lastIndexOf('-')
    if (i <= 0 || i == batchKey.length - 1) return None
    if (!batchKey.substring(i + 1).forall(_.isDigit)) return None
    val p = batchKey.substring(0, i)
    val marker = new org.apache.hadoop.fs.Path(
      path + "/_delete_streams/" + p)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) Some(p) else None
  }

  private def deleteFromIvfIndexImpl(deleteIds: DataFrame, path: String,
      batchKey: String): Unit =
    deleteIds.select(col("vec_id")).distinct()
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path + "/_tombstones")

  /** Read a written IVF index for serving: the cell-partitioned scan
    * (PartitionFilters prune on `cell` exactly as before) minus any
    * tombstoned ids. Indexes without deletions read unchanged — the
    * underscore directory is invisible to partition discovery, and
    * the anti-join only appears when it exists.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val base = spark.read.parquet(path)
    val tomb = new org.apache.hadoop.fs.Path(path + "/_tombstones")
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tomb))
      base.join(graft.Frames.hintTombstones(
        spark.read.parquet(path + "/_tombstones")
          .select(col("vec_id")).distinct(), path + "/_tombstones"),
        Seq("vec_id"), "left_anti")
    else base
  }

  /** SNAPSHOT read of a STREAM-BUILT IVF index
    * ([[graft.streaming.Pipelines.vectorIndexSink]]'s (cell, batch_id)
    * layout): the index as it stood after micro-batch `upToBatch` —
    * the sink's batch clock is monotonic, so the prefix IS the
    * historical state, and time travel is one range predicate on a
    * partition column (pruned next to the cell probes; no copy, no
    * restore). Serving the snapshot ≡ a rebuild on the prefix's
    * vectors, exactly (per-row frozen-centroid assignment —
    * q_ann_ivf_asof gates it with the prefix replay). Tombstones
    * ([[deleteFromIvfIndex]]) apply RETROACTIVELY to every snapshot:
    * an erased vector stays erased in history reads — erasure and
    * ingestion are separate clocks, and time travel must not
    * resurrect deleted data (physical irreversibility is
    * [[compactIvfIndex]], which also collapses the batch history
    * into batch 0 — as-of reads predating the compaction see the
    * whole compacted state, never a stale partial one).
    * Name-keyed layouts (VectorStore.write's "build" + VectorStore.append
    * batchKeys) have no monotonic clock and are rejected here — use
    * the named-batch overload below.
    */
  def readIvfIndexAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, upToBatch: Long): DataFrame = {
    val snap = readIvfIndex(spark, path)
    require(snap.columns.contains("batch_id"),
      s"index at $path carries no batch_id history (pre-layout " +
        "index) — rebuild it with VectorStore.write first")
    // the ≤ prefix read is only meaningful on the sink's MONOTONIC
    // numeric clock; a name-keyed layout ("build", append batchKeys)
    // has no order, and the implicit string-vs-long cast would
    // silently null out every named batch instead of failing
    require(integralBatchIds(snap),
      s"index at $path carries NAMED batches, not the streaming " +
        "sink's numeric clock — use the Seq[String] overload " +
        "(readIvfIndexAsOf(spark, path, Seq(\"build\", ...)))")
    snap.filter(col("batch_id") <= upToBatch)
  }

  /** SNAPSHOT read of a BATCH-MAINTAINED IVF index by batch NAME —
    * the [[graft.ops.SearchOps.searchBm25FromIndexAsOf]] semantics
    * for the vector family: serve exactly the named batches
    * ("build" for [[VectorStore.write]]'s base, append batchKeys for
    * [[VectorStore.append]]; a
    * stream-built index's numeric micro-batch ids work as strings
    * too). Pure partition pruning — batch_id rides the scan's
    * PartitionFilters next to the cell probes; no copy, no restore.
    * Serving a batch set ≡ a rebuild on those batches' vectors
    * exactly (per-row frozen-centroid assignment). Tombstones apply
    * RETROACTIVELY — time travel must not resurrect erased vectors.
    * A batch name absent from the layout fails LOUDLY (after
    * [[compactIvfIndex]] collapses history, stale names would
    * otherwise silently serve an empty or partial index).
    */
  def readIvfIndexAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, batches: Seq[String]): DataFrame = {
    require(batches.nonEmpty, "as-of needs at least one visible batch")
    val snap = readIvfIndex(spark, path)
    require(snap.columns.contains("batch_id"),
      s"index at $path carries no batch_id history (pre-layout " +
        "index) — rebuild it with VectorStore.write first")
    val known = ivfKnownBatches(spark, path)
    val missing = batches.filterNot(known)
    require(missing.isEmpty,
      s"batches ${missing.mkString(", ")} have no partitions in the " +
        s"index at $path — compaction collapses history (as-of reads " +
        "predating it are gone by design)")
    snap.filter(col("batch_id").cast("string").isin(batches: _*))
  }

  /** Make IVF deletions physical: rewrite each cell without the
    * tombstoned rows (same cell partitions — probes prune as
    * before), then drop the tombstones. A stream-built index's batch
    * history COLLAPSES into batch 0 (layout kept sink-compatible, so
    * later micro-batches still land in their own partitions):
    * compaction destroys history by contract — an as-of read
    * predating it returns the whole compacted state, never a stale
    * partial one. Serving before ≡ after (shared oracle).
    * Deliberately O(index): background maintenance.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val tombDir = new org.apache.hadoop.fs.Path(path + "/_tombstones")
    val fs = tombDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tombDir)) return
    // the root overwrite below deletes EVERYTHING under the index
    // path, including the _delete_streams reservation markers — a
    // live delete stream's prefix would silently deregister, and a
    // manual delete with a sink-shaped key issued after compaction
    // would again be resurrectable by that stream's checkpoint
    // replay. Snapshot the prefixes and re-register after the write.
    val streamsDir = new org.apache.hadoop.fs.Path(path + "/_delete_streams")
    val prefixes =
      if (fs.exists(streamsDir))
        fs.listStatus(streamsDir).map(_.getPath.getName).toSeq
      else Seq.empty[String]
    val live0 = readIvfIndex(spark, path)
    // the collapse value keeps each layout's as-of contract: a
    // stream-built index (numeric clock) collapses to batch 0 so
    // prefix reads still see the whole compacted state; a name-keyed
    // layout collapses to "build" so stale append names fail loudly
    // in the named as-of's existence check
    val (live, parts) =
      if (live0.columns.contains("batch_id")) {
        val collapsed =
          if (integralBatchIds(live0)) live0.withColumn("batch_id", lit(0L))
          else live0.withColumn("batch_id", lit("build"))
        (collapsed, Seq("cell", "batch_id"))
      } else (live0, Seq("cell"))
    graft.Artifacts.scoped { a =>
      a.checkpoint(live).write.mode("overwrite").partitionBy(parts: _*)
        .parquet(path)
      fs.delete(tombDir, true)
      prefixes.foreach(p => registerIvfDeleteStreamPrefix(spark, path, p))
    }
  }

  /** The maintained index's batch INVENTORY as a table — the
    * [[graft.ops.SearchOps.bm25IndexHistory]] analog for the vector
    * families (float, int8, PQ, and residual share the layout): one
    * (kind="batch", batch_id, n_rows) row per index batch partition
    * plus one (kind="tombstones", batch_id, n_rows) per delete batch.
    * The operational audit behind as-of serving and retention
    * planning: which batches exist, what each holds, what erasure is
    * still logical. Unlike BM25's ledger this layout stores no
    * per-batch scalars, so the readout counts partition rows — a
    * columnar count per partition, no vector payload read.
    */
  def ivfIndexHistory(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    def inventory(df: DataFrame, kind: String): DataFrame =
      df.groupBy(col("batch_id").cast("string").as("batch_id"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(kind).as("kind"), col("batch_id"), col("n_rows"))
    val base0 = spark.read.parquet(path)
    require(base0.columns.contains("batch_id"),
      s"index at $path carries no batch_id history (pre-layout " +
        "index) — rebuild it with VectorStore.write first")
    val base = inventory(base0, "batch")
    val tombP = new org.apache.hadoop.fs.Path(path + "/_tombstones")
    val fs = tombP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all =
      if (fs.exists(tombP))
        base.unionByName(
          inventory(spark.read.parquet(path + "/_tombstones"),
            "tombstones"))
      else base
    all.orderBy(col("kind"), col("batch_id"))
  }

  /** BOUNDED-HISTORY compaction — the rolling-window maintenance
    * between [[compactIvfIndex]]'s two extremes: full compaction
    * destroys ALL as-of history, no compaction grows the batch (and
    * tombstone) inventory without bound. Retention folds every batch
    * NOT in `keep` into the collapsed base — tombstones applied
    * PHYSICALLY to the folded part — while the kept batches'
    * partitions, and their as-of addressability, survive untouched.
    * At 100 TB this is the job that actually runs on a schedule:
    * keep the last K ingest batches time-travelable, bound everything
    * older at one base partition per cell.
    *
    * Serving before ≡ after exactly: (folded − tombstones) ∪ kept −
    * retained-tombstones = live, because the only tombstones dropped
    * are those whose ids no longer exist anywhere (they were folded
    * away physically); a tombstoned id that also sits in a KEPT
    * partition keeps its tombstone, so neither serving nor as-of can
    * resurrect it. After retention the addressable batch names are
    * exactly {collapse-base} ∪ keep — a folded name fails the named
    * as-of loudly, the [[compactIvfIndex]] contract. Kept partitions
    * are never read or rewritten (O(folded + tombstones) work), and
    * the `_delete_streams` reservation markers survive because the
    * rewrite only dynamic-overwrites the base partitions.
    * Layout-generic: float, int8, PQ, and residual-PQ indexes all
    * carry (vec_id, …, cell, batch_id), so one implementation serves
    * all four families.
    *
    * Crash contract: like [[compactIvfIndex]] (and the BM25/gram
    * compactors), this is an IN-PLACE rewrite — a crash between the
    * directory drops and the folded write leaves a partial layout.
    * Same operational class as every compactor here: run in a
    * maintenance window; recovery is a rebuild from source (every
    * artifact derives from it). The folded frame is materialized
    * BEFORE any deletion, so the job itself never reads what it
    * removed.
    */
  def compactIvfIndexKeeping(spark: org.apache.spark.sql.SparkSession,
      path: String, keep: Seq[String]): Unit = {
    require(keep.nonEmpty,
      "retention needs at least one kept batch — to collapse ALL " +
        "history use compactIvfIndex")
    val base0 = spark.read.parquet(path)
    require(base0.columns.contains("batch_id"),
      s"index at $path carries no batch_id history (pre-layout " +
        "index) — rebuild it with VectorStore.write first")
    val known = ivfKnownBatches(spark, path)
    val missingKeep = keep.filterNot(known)
    require(missingKeep.isEmpty,
      s"kept batches ${missingKeep.mkString(", ")} have no partitions " +
        s"in the index at $path")
    val collapse = if (integralBatchIds(base0)) "0" else "build"
    // the base is retained implicitly AS the collapse target; naming
    // it in `keep` would make the folded rewrite and the kept
    // partition fight over the same directories
    require(!keep.contains(collapse),
      s"batch \"$collapse\" is the collapse target and always " +
        "survives retention — name only append/stream batches in keep")
    val folded = base0.filter(!col("batch_id").cast("string")
      .isin(keep: _*))
    val kept = base0.filter(col("batch_id").cast("string")
      .isin(keep: _*))
    val tombDir = new org.apache.hadoop.fs.Path(path + "/_tombstones")
    val fs = tombDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs =
      if (fs.exists(tombDir))
        spark.read.parquet(path + "/_tombstones")
          .select(col("vec_id")).distinct()
      else folded.select(col("vec_id")).filter(lit(false))
    val foldedLive = folded
      .join(graft.Frames.hintTombstones(tombs, path + "/_tombstones"),
        Seq("vec_id"), "left_anti")
      .withColumn("batch_id",
        if (integralBatchIds(base0)) lit(0L) else lit("build"))
    // tombstones that still shadow a kept-partition row must survive
    // (retroactive erasure on as-of reads of kept batches); the rest
    // were applied physically above and leave with the folded rows
    val retained = tombs
      .join(kept.select(col("vec_id")).distinct(), Seq("vec_id"),
        "left_semi")
      .withColumn("batch_id", lit("retained"))
    graft.Artifacts.scoped { a =>
      val matLive = a.checkpoint(foldedLive)
      val matTombs = a.checkpoint(retained)
      // drop every non-kept batch directory FIRST — including stale
      // collapse-target partitions: a cell whose folded rows were all
      // tombstoned writes nothing below, and its old base directory
      // would otherwise survive and resurrect the erased rows
      fs.globStatus(new org.apache.hadoop.fs.Path(path,
          "cell=*/batch_id=*")).foreach { st =>
        val name = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils
          .unescapePathName(st.getPath.getName.stripPrefix("batch_id="))
        if (!keep.contains(name)) fs.delete(st.getPath, true)
      }
      matLive.write
        .partitionBy("cell", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
      if (fs.exists(tombDir)) fs.delete(tombDir, true)
      if (!matTombs.isEmpty)
        matTombs.write.partitionBy("batch_id").mode("overwrite")
          .parquet(path + "/_tombstones")
    }
  }

  /** The audit that justifies a recluster cutover: the
    * (cell_old → cell_new, n_vectors) movement matrix between two
    * WRITTEN indexes over the same ids, joined on vec_id. High
    * diagonal mass = the refresh was cosmetic; broad off-diagonal
    * churn = the old centroids had drifted badly (and cached probe
    * routing must be invalidated). Scale shape: both sides are
    * cell-partitioned parquet and only (id, cell) pairs exchange —
    * embeddings never shuffle; the report is |cells|² rows at most.
    */
  def reclusterChurn(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String): DataFrame =
    readIvfIndex(spark, oldPath)
      .select(col("vec_id"), col("cell").cast("int").as("cell_old"))
      .join(readIvfIndex(spark, newPath)
        .select(col("vec_id"), col("cell").cast("int").as("cell_new")),
        Seq("vec_id"))
      .groupBy(col("cell_old"), col("cell_new"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell_old"), col("cell_new"))

  /** IVF probe scan against caller-supplied centroids (see ivfTopK /
    * ivfBuild).
    */
  def ivfTopKFrom(embeddings: DataFrame, cents: Seq[Seq[Double]],
      queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val centLit = typedlit(cents)
    val scored = embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
    val probes = scored.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        posexplode(col("__scores")).as(Seq("cid", "s")))
      .filter(col("s").isNotNull) // zero-norm query → no probes → empty
      .orderBy(col("s").desc, col("cid"))
      .limit(nProbe)
    scored
      .join(broadcast(probes), col("cell") === col("cid"))
      .select(col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Recall@k of the IVF probe against exact brute force, per query —
    * the evaluation loop every ANN deployment needs before trusting a
    * (nCells, nProbe) operating point. For each query id: the probe
    * scan's top-k (same cell assignment, probe ranking, rounding, and
    * tie-break as [[ivfTopKFrom]]) is matched against the exact top-k
    * and recall = |approx ∩ exact| / |exact|.
    *
    * Scale shape: ONE narrow cell-assignment pass over the corpus is
    * shared by both the probe side and (via the broadcast query set)
    * the exact side; per-query rank is a window over the bounded
    * (queries × corpus-in-probed-cells) frame; the readout is
    * |queries| rows. Nothing all-pairs beyond the deliberate exact
    * baseline, which is the point of the evaluation.
    */
  def annRecall(embeddings: DataFrame, cents: Seq[Seq[Double]],
      queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame = {
    val centLit = typedlit(cents)
    val scored = embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("cid"))
    val probes = scored.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        posexplode(col("__scores")).as(Seq("cid", "s")))
      .filter(col("s").isNotNull) // zero-norm query → no probes
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cid"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val approx = scored
      .join(broadcast(probes), col("cell") === col("cid"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    multiQueryTopK(embeddings, queryIds, k)
      .select(col("query_id"), col("vec_id"))
      .join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"),
        round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Driver-side probe selection against driver-resident centroids —
    * the SAME rounding (HALF_UP to 4 places, Spark's Round semantics
    * for doubles) and tie-break (score desc, cell asc) as the in-plan
    * probe path, so index build and probe can never disagree. Zero-
    * norm queries get no probes (no cosine direction), matching
    * ivfTopKFrom.
    */
  def probeCells(cents: Seq[Seq[Double]], query: Seq[Double],
      nProbe: Int): Seq[Int] = {
    def dotL(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val qn = math.sqrt(dotL(query, query))
    // non-finite queries (NaN/Inf entries) have no cosine direction
    // either — and BigDecimal(NaN) below would throw, not degrade
    if (qn == 0.0 || !java.lang.Double.isFinite(qn)) return Seq.empty
    cents.zipWithIndex.flatMap { case (c, i) =>
      val cn = math.sqrt(dotL(c, c))
      if (cn == 0.0) None
      else {
        val cos = dotL(query, c) / (qn * cn)
        Some((BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, i))
      }
    }.sortBy { case (s, i) => (-s, i) }.take(nProbe).map(_._2)
  }

  /** Driver-side symmetric int8 quantization of one query vector —
    * the same rule as [[quantizeEmbeddings]] bit-for-bit (max|x|/127, round
    * half up; degenerate → scale 0 and zeros), for probing a
    * compressed index with a literal query.
    */
  def quantizeQuery(v: Seq[Double]): (Double, Seq[Int]) = {
    val m = v.foldLeft(0.0)((a, x) => math.max(a, math.abs(x)))
    if (m == 0.0 || !java.lang.Double.isFinite(m)) (0.0, v.map(_ => 0))
    else {
      val s = m / 127.0
      (s, v.map(x => BigDecimal(x / s)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt))
    }
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ) — the 100 TB embedding-store trick
  // ---------------------------------------------------------------

  /** A PQ codebook: `m` subspaces × up to `ksub` centroids of
    * dim/m components each (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", 2011). With m=8 and ksub=256 a
    * 64-dim float vector compresses 256 B → 8 B (one code byte per
    * subspace) — int8's 4× becomes 32×, which is what makes a
    * 100 TB embedding store servable from a fraction of the I/O.
    * Scoring is ASYMMETRIC (ADC): the query stays float; each
    * subspace contributes a table lookup dot(q_j, centroid_{j,code}).
    */
  final case class PqCodebook(m: Int, subDim: Int,
      centroids: Seq[Seq[Seq[Double]]]) {
    require(centroids.length == m, s"expected $m subspaces")
  }

  /** Rounded per-subspace squared-L2 distance between a sub-vector
    * slice and a centroid literal — the assignment metric. The fold
    * runs in index order from 0.0 (squares are non-negative, so the
    * init adds nothing to the IEEE value) and rounds to 6 places, so
    * a DuckDB list_reduce replay is bit-identical; ties break toward
    * the lower centroid id via array_position.
    */
  private def subDistances(sub: Column, cents: Seq[Seq[Double]]): Column =
    transform(typedlit(cents), c =>
      round(aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x), 6))

  /** The m-length code array of one double-array vector column — the
    * per-subspace argmin against the codebook literals, shared by
    * [[pqEncode]] and the cell-carrying residual writer so raw and
    * residual encoding can never disagree on rounding or tie-break.
    */
  private[similarity] def pqCodesCol(cb: PqCodebook, v: Column): Column =
    array((0 until cb.m).map { j =>
      val sub = slice(v, j * cb.subDim + 1, cb.subDim)
      val d = subDistances(sub, cb.centroids(j))
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)

  /** PQ-encode: one int code per subspace, narrow projection (the
    * codebook rides as a literal; nothing shuffles). Output:
    * (vec_id, codes array<int> of length m).
    */
  def pqEncode(embeddings: DataFrame, cb: PqCodebook,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol),
      pqCodesCol(cb, asDouble(col(vecCol))).as("codes"))

  /** Train a PQ codebook with per-subspace Lloyd iterations. Seeds
    * are the first `ksub` vectors' sub-slices (deterministic, like
    * [[seedCentroids]]). Each iteration is ONE narrow assignment pass
    * + ONE (subspace, code, dim) partial-sum shuffle for ALL
    * subspaces together — m independent k-means problems trained in
    * the same two jobs, never m sequential passes. Collected state is
    * m × ksub × subDim means (tiny); raw vectors never co-locate.
    * Empty clusters keep their previous centroid.
    */
  def pqBuild(embeddings: DataFrame, m: Int = 4, ksub: Int = 256,
      iterations: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): PqCodebook = {
    val first = embeddings.select(asDouble(col(vecCol)).as("e"))
      .filter(col("e").isNotNull).limit(1).collect()
    require(first.nonEmpty, "cannot train a PQ codebook on an empty table")
    val dim = first.head.getSeq[Double](0).length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    // a corpus smaller than ksub trains with what it has (every
    // vector becomes a seed) — the codebook just has fewer entries.
    // Seeds are the ksub SMALLEST ids (TakeOrdered), not a
    // `id < ksub` filter: sparse or hashed id spaces would otherwise
    // seed empty and pqEncode would silently emit null codes
    // (array_min over an empty centroid list)
    val seeds = embeddings
      .select(col(idCol).as("__id"), asDouble(col(vecCol)).as("e"))
      .filter(col("e").isNotNull)
      .orderBy(col("__id")).limit(ksub)
      .select(col("e"))
      .collect().map(_.getSeq[Double](0).toVector).toVector
    require(seeds.nonEmpty,
      "cannot seed a PQ codebook: no non-null embeddings")
    var cents: Seq[Seq[Seq[Double]]] = (0 until m).map(j =>
      seeds.map(v => v.slice(j * subDim, (j + 1) * subDim)))
    var it = 0
    while (it < iterations) {
      val cb = PqCodebook(m, subDim, cents)
      val means = pqEncode(embeddings, cb, idCol, vecCol)
        .join(embeddings.select(col(idCol), asDouble(col(vecCol)).as("__v")),
          idCol)
        .select(col("codes"), posexplode(col("__v")).as(Seq("dim", "x")))
        .select((col("dim") / subDim).cast("int").as("sub"),
          (col("dim") % subDim).cast("int").as("sd"),
          col("x"), col("codes"))
        .withColumn("code", element_at(col("codes"), col("sub") + 1))
        .groupBy(col("sub"), col("code"), col("sd"))
        .agg(avg(col("x")).as("mean"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toVector
        }
      cents = (0 until m).map(j => cents(j).indices.map(c =>
        means.get((j, c)).filter(_.length == subDim)
          .getOrElse(cents(j)(c))).toVector)
      it += 1
    }
    PqCodebook(m, subDim, cents)
  }

  /** The ADC lookup table for one query, in exact integer
    * MICRO-units: lut6(j)(c) = round(dot(q_j, centroid_{j,c})·1e6)
    * as a long — each dot folds in index order (list_reduce replay)
    * and rounds HALF_UP, so the per-vector sum over subspaces is
    * exact long arithmetic, order-independent across engines (the
    * lmScoreWith micro-nat pattern).
    */
  def pqLut6(cb: PqCodebook, query: Seq[Double]): Seq[Seq[Long]] =
    (0 until cb.m).map { j =>
      val qj = query.slice(j * cb.subDim, (j + 1) * cb.subDim)
      cb.centroids(j).map { c =>
        var s = 0.0; var i = 0
        while (i < cb.subDim) { s += qj(i) * c(i); i += 1 }
        BigDecimal(s * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toLong
      }
    }

  /** Approximate top-k by PQ asymmetric distance: codes scan narrow
    * (m table lookups + an exact long sum per row — no float
    * accumulation), TakeOrdered(k), nothing shuffles but (id, score).
    * `pq_sim` approximates dot(q, v); rank quality is the documented
    * PQ recall trade-off (spec'd against the exact ranking).
    */
  def pqTopK(codes: DataFrame, cb: PqCodebook, query: Seq[Double],
      k: Int): DataFrame =
    codedTopK(VectorCodec.Pq(cb), codes, Nil, query, k)

  /** Rank every row of a code table by a PQ codec's literal score. */
  private def codedTopK(codec: VectorCodec.PqCodec, codes: DataFrame,
      cents: Seq[Seq[Double]], query: Seq[Double], k: Int): DataFrame =
    VectorStore.ranked(codes, codec.literalScore(codes, cents, query).get,
      codec.scoreName, k)

  /** The corpus's (un-normalized) second-moment matrix E-ish[x xᵀ]
    * — ONE exploded scan + a (dim groups × dim sums) aggregation,
    * never a driver-side corpus pass; the dim×dim result is bounded
    * driver state (the PCA input for [[principalRotation]]).
    * Normalization is skipped deliberately: eigenvectors are scale-
    * invariant, and the un-normalized sums avoid a second pass.
    */
  private[graft] def secondMoments(embeddings: DataFrame): Array[Array[Double]] = {
    val first = embeddings.select(asDouble(col("embedding")).as("e"))
      .filter(col("e").isNotNull).limit(1).collect()
    require(first.nonEmpty, "second moments need a non-empty table")
    val dim = first.head.getSeq[Double](0).length
    // dim separate sum() aggregates + an O(dim^3) driver Jacobi: fine
    // at the corpus's dim=64, but past a few hundred dims the
    // aggregate list risks Catalyst codegen limits and the driver
    // sweeps stall for minutes — fail loudly instead of degrading
    require(dim <= 256,
      s"principalRotation is built for narrow embeddings (dim <= 256, " +
        s"got $dim) — at higher dims train the rotation offline and " +
        "pass it to rotatedTruncationRecall as literals")
    val exprs = (0 until dim).map(j =>
      sum(col("xi") * element_at(col("__v"), j + 1)).as(s"c$j"))
    val rows = embeddings
      .select(asDouble(col("embedding")).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("__v"), posexplode(col("__v")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(exprs.head, exprs.tail: _*)
      .collect()
    val m = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val i = r.getInt(0)
      (0 until dim).foreach(j => m(i)(j) = r.getDouble(j + 1))
    }
    m
  }

  /** Cyclic-Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, fixed iteration budget), no
    * external library. Returns (eigenvalues, eigenvectors as ROWS),
    * unsorted.
    */
  private[graft] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    // convergence scaled to the matrix's own magnitude: un-normalized
    // second moments grow with corpus size, so an absolute threshold
    // either never trips (large corpora) or trips instantly (tiny
    // ones); relative-to-Frobenius is scale-free
    var frob2 = 0.0
    var fi = 0
    while (fi < n) {
      var fj = 0
      while (fj < n) { frob2 += a0(fi)(fj) * a0(fi)(fj); fj += 1 }
      fi += 1
    }
    val offTol = math.max(frob2 * 1e-24, java.lang.Double.MIN_NORMAL)
    var sweep = 0
    var done = false
    while (sweep < 64 && !done) {
      var off = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) { off += a(p)(q) * a(p)(q); q += 1 }
        p += 1
      }
      if (off < offTol) done = true
      else {
        p = 0
        while (p < n) {
          var q = p + 1
          while (q < n) {
            val apq = a(p)(q)
            if (math.abs(apq) > 1e-16) {
              val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
              val t =
                if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
                else -1.0 / (-theta + math.sqrt(theta * theta + 1))
              val c = 1.0 / math.sqrt(t * t + 1)
              val s = t * c
              var i = 0
              while (i < n) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = c * aip - s * aiq
                a(i)(q) = s * aip + c * aiq
                i += 1
              }
              i = 0
              while (i < n) {
                val api = a(p)(i); val aqi = a(q)(i)
                a(p)(i) = c * api - s * aqi
                a(q)(i) = s * api + c * aqi
                i += 1
              }
              i = 0
              while (i < n) {
                val vip = v(i)(p); val viq = v(i)(q)
                v(i)(p) = c * vip - s * viq
                v(i)(q) = s * vip + c * viq
                i += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    val eig = Array.tabulate(n)(i => a(i)(i))
    val rows = Array.tabulate(n, n)((r, i) => v(i)(r)) // eigvec r as row
    (eig, rows)
  }

  /** The variance-FRONT-LOADING rotation: principal axes of the
    * corpus's second moments, rows sorted by eigenvalue descending —
    * the frozen artifact that makes prefix truncation meaningful on
    * encoders that were not MRL-trained. Deterministic given the
    * aggregation's sums (same-JVM oracle-literal lifecycle, the
    * pqBuild precedent).
    */
  def principalRotation(embeddings: DataFrame): Seq[Seq[Double]] = {
    val (eig, rows) = jacobiEigen(secondMoments(embeddings))
    eig.zipWithIndex.sortBy { case (e, i) => (-e, i) }
      .map { case (_, i) => rows(i).toVector }.toVector
  }

  /** Recall@k of ROTATED-prefix truncation: rank by cosine over the
    * first `d` components of R·v (R = [[principalRotation]] rows as
    * frozen literals; components are per-row index-order folds, so
    * an engine replay is bit-identical). The [[truncationRecall]]
    * twin that prices what front-loading buys back: cosine is
    * invariant under the full rotation (the d = dim level ≈ 1.0 is
    * the sanity row), and the high-variance prefix should beat the
    * raw prefix wherever the spectrum is skewed.
    */
  def rotatedTruncationRecall(embeddings: DataFrame,
      rot: Seq[Seq[Double]], queryIds: Seq[Long], k: Int,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "rotated truncation needs at least one prefix")
    // rotated projection as the native fused mat-vec: one primitive
    // pass, where the composed form pays d interpreted
    // zip_with+aggregate lambdas — each materializing a zipped array —
    // per embedding row (element parity spec-pinned, round-17)
    def projCol(vc: Column, d: Int): Column =
      GraftFunctions.call(embeddings)(TextHashFunctions.MatVecName, vc,
        typedlit((0 until d).map(r => rot(r).toVector).toVector))
    def projQ(qv: Seq[Double], d: Int): Vector[Double] =
      (0 until d).map { r =>
        var s = 0.0; var i = 0
        val row = rot(r)
        val n = math.min(row.length, qv.length)
        while (i < n) { s += qv(i) * row(i); i += 1 }
        s
      }.toVector
    dims.map { d =>
      servingRecall(embeddings, queryIds, k) { qv =>
        embeddings
          .select(col("vec_id"),
            round(cosineFor(embeddings)(
              projCol(asDouble(col("embedding")), d),
              typedlit(projQ(qv, d))), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(k)
      }.withColumn("dims", lit(d))
    }.reduce(_.unionByName(_))
      .orderBy(col("dims"), col("query_id"))
  }

  /** In-plan probe selection ≡ [[probeCells]] bit-for-bit: the same
    * 4-place HALF_UP rounded cosine per centroid, the same
    * (score desc, cell asc) tie-break, the same zero-norm-centroid
    * skip (null/NaN scores drop before the sort). Evaluated once per
    * QUERY row — Q·nCells cosines total, never per corpus row.
    */
  private[similarity] def probeCellsCol(df: DataFrame,
      cents: Seq[Seq[Double]], nProbe: Int)(qe: Column): Column = {
    val centLit = typedlit(cents.map(_.toVector).toVector)
    val scored = transform(centLit, (c, i) =>
      struct(round(cosineFor(df)(qe, c), 4).as("s"), i.as("c")))
    val valid = filter(scored, p =>
      p.getField("s").isNotNull && !isnan(p.getField("s")))
    val sorted = array_sort(valid, (l, r) =>
      when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .otherwise(when(l.getField("c") < r.getField("c"), -1)
          .when(l.getField("c") > r.getField("c"), 1).otherwise(0)))
    transform(slice(sorted, 1, nProbe), p => p.getField("c"))
  }

  /** The query-table broadcast-budget fallback made real (round-16): serve
    * an over-budget query frame in `nChunks` hash-disjoint chunks and
    * union the results. Chunking is EXACT by construction — every
    * serve ranks per query, so a query's rows are identical whichever
    * chunk it rides in — and hash-mod on query_id partitions the
    * frame without a driver collect or per-chunk id literals (the
    * patterns the QT family exists to avoid). Each chunk's serve
    * carries its own in-plan broadcast-budget guard, so nChunks ≥
    * ceil(batch bytes / budget) turns the loud ceiling error into
    * nChunks bounded serves. Output ordering matches the one-shot
    * serve (global (query_id, score desc, vec_id) sort over the
    * union).
    */
  def servedInChunks(queries: DataFrame, nChunks: Int)(
      serve: DataFrame => DataFrame): DataFrame = {
    require(nChunks > 0, s"nChunks must be positive, got $nChunks")
    if (nChunks == 1) serve(queries)
    else {
      val parts = (0 until nChunks).map { i =>
        serve(queries.filter(
          pmod(hash(col("query_id")), lit(nChunks)) === i))
      }
      // every serve emits (query_id, vec_id, <score>) — re-impose the
      // one-shot serve's global ordering over the unioned chunks
      val scoreName = parts.head.columns.last
      parts.reduce(_.unionByName(_))
        .orderBy(col("query_id"), col(scoreName).desc, col("vec_id"))
    }
  }

  /** The recall@k harness every serving-path evaluation shares
    * ([[VectorStore.recall]]):
    * collect the bounded query vectors, run the caller's serving
    * ranking per query, left-join the exact float top-k, and read out
    * per-query recall. A query whose serving path yields no
    * candidates (e.g. zero-norm → no probes) scores 0 rather than
    * vanishing — an eval that silently drops failing queries
    * overstates the operating point. A query id with no embedding row
    * has no exact baseline either and is absent from the readout
    * (callers own the eval set's existence).
    */
  private[similarity] def servingRecall(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int)(serve: Seq[Double] => DataFrame): DataFrame = {
    require(queryIds.nonEmpty, "recall eval needs at least one query id")
    val qvecs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector)
      .toMap
    val approx = queryIds.filter(qvecs.contains).map { qid =>
      serve(qvecs(qid))
        .select(lit(qid).as("query_id"), col("vec_id"),
          lit(1L).as("hit"))
    }.reduceOption(_.unionByName(_))
      .getOrElse(embeddings.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("vec_id"),
          lit(1L).as("hit")).filter(lit(false)))
    multiQueryTopK(embeddings, queryIds, k)
      .select(col("query_id"), col("vec_id"))
      .join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"),
        round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Recall@k of PREFIX-truncated serving (the Matryoshka/MRL axis:
    * store and rank only the first `d` components — dim/d× less scan
    * I/O and memory with NO re-encoding artifact at all) against the
    * full-dimension exact ranking, per prefix length. The FOURTH
    * compression lever on the measured frontier, orthogonal to the
    * other three: int8 narrows component WIDTH, PQ replaces
    * components with codebook entries, the shortlist re-ranks — this
    * one just drops tail components. Cosine needs no renormalization
    * under truncation (both norms shrink together), so serving is a
    * sliced scan of the same store. Note the embeddings here are NOT
    * MRL-trained — the measured decay is the un-front-loaded
    * baseline a deployment compares its trained curve against.
    */
  def truncationRecall(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "truncationRecall needs at least one prefix")
    dims.map { d =>
      servingRecall(embeddings, queryIds, k) { qv =>
        val qLit = typedlit(qv.take(d).toVector)
        embeddings
          .select(col("vec_id"),
            round(cosineFor(embeddings)(
              slice(asDouble(col("embedding")), 1, d), qLit), 4)
              .as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(k)
      }.withColumn("dims", lit(d))
    }.reduce(_.unionByName(_))
      .orderBy(col("dims"), col("query_id"))
  }

  // ---------------------------------------------------------------
  // Residual PQ — IVFADC proper (encode v − c_cell, not v)
  // ---------------------------------------------------------------

  /** The RESIDUAL frame of a [[cellAssigned]] one: (vec_id,
    * embedding = v − c_cell, cell). The IVFADC observation (Jégou et
    * al. 2011, §III): within a coarse cell the residuals span a far
    * smaller cone than the raw vectors, so the same (m, ksub) code
    * budget quantizes them with much less error. Per-row IEEE
    * subtraction against the centroid literal — exactly replayable,
    * nothing shuffles.
    */
  private[similarity] def residualOf(assigned: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame =
    assigned.select(col("vec_id"),
      zip_with(asDouble(col("embedding")),
        element_at(typedlit(cents), col("cell") + 1),
        (x, y) => x - y).as("embedding"),
      col("cell"))

  /** Train a PQ codebook on the RESIDUAL distribution — [[pqBuild]]
    * over the (v − c_cell) frame. The trained book is only meaningful
    * against the same frozen `cents` it was trained with; callers
    * freeze the pair together (exactly the coarse-centroid/codebook
    * coupling [[VectorStore.recluster]] refreshes as a unit).
    */
  def pqBuildResidual(embeddings: DataFrame, cents: Seq[Seq[Double]],
      m: Int = 4, ksub: Int = 256, iterations: Int = 2): PqCodebook =
    pqBuild(residualOf(cellAssigned(embeddings, cents), cents)
      .select(col("vec_id"), col("embedding")), m, ksub, iterations)

  /** The per-cell half of the residual ADC score in exact integer
    * micro-units: cellLut6(c) = round(dot(q, c_cell)·1e6) as a long —
    * dot(q, v) = dot(q, c_cell) + dot(q, r) decomposes exactly, so
    * residual serving adds ONE table lookup per row to [[pqTopK]]'s
    * m. Same index-order fold + HALF_UP rounding as [[pqLut6]].
    */
  def cellLut6(cents: Seq[Seq[Double]], query: Seq[Double]): Seq[Long] =
    cents.map { c =>
      var s = 0.0; var i = 0
      val n = math.min(query.length, c.length)
      while (i < n) { s += query(i) * c(i); i += 1 }
      BigDecimal(s * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    }

  /** [[pqTopK]] over residual codes: score6 = cell term + m lookups,
    * all exact long arithmetic. Needs the `cell` column (residual
    * codes are meaningless without their cell), which every written
    * index row carries.
    */
  def residualPqTopK(codes: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, query: Seq[Double], k: Int): DataFrame =
    codedTopK(VectorCodec.ResidualPq(cb), codes, cents, query, k)

  /** Embedding-cosine near-duplicate pairs: SRP-bucket join prunes
    * candidates, exact cosine ≥ threshold verifies. The classic
    * near-dup shape for embedding-deduped training corpora.
    */
  def embeddingNearDuplicates(embeddings: DataFrame, threshold: Double,
      nPlanes: Int = 8, hashMode: String = "xx"): DataFrame =
    embeddingNearDuplicatesManaged(embeddings, threshold, nPlanes, hashMode).df

  /** Managed-lifecycle variant: the bucketed-vectors cache feeding
    * both join sides is released via the returned handle (see
    * [[graft.Managed]]); the plain variant leaves it to session-level
    * cleanup, which suits one-shot jobs only.
    */
  def embeddingNearDuplicatesManaged(embeddings: DataFrame, threshold: Double,
      nPlanes: Int = 8, hashMode: String = "xx"): graft.Managed = {
    val a = new graft.Artifacts
    val b = a.persist(embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"),
        bucketExprFor(embeddings, hashMode)(col("embedding"), nPlanes)
          .as("bucket")))
    val result = b.as("l").join(b.as("r"),
        col("l.bucket") === col("r.bucket") &&
        col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        round(cosineFor(embeddings)(col("l.embedding"), col("r.embedding")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      // UNORDERED (pair lists are unbounded) — sort at the query edge
    new graft.Managed(result, a)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication via k-means cells — every vector coarse-quantizes
    * to its nearest centroid (the SAME assignment expression as the
    * IVF index, so an existing index doubles as the dedup
    * partitioning), exact pairwise cosine runs only WITHIN a cell,
    * and of any pair scoring ≥ `threshold` the lower id survives.
    * Returns the surviving (vec_id, cell) corpus.
    *
    * Scale shape: assignment is a narrow projection against broadcast
    * centroid literals; the pairwise stage shuffles (id, embedding)
    * on the cell key only. The quadratic term is per-cell by
    * construction — SemDeDup's contract is that `nCells` grows with
    * the corpus (the paper runs 11k clusters for 5B points) so cell
    * populations stay roughly constant; the all-pairs-in-a-cell cost
    * is the algorithm, not an accident. Zero-norm vectors have no
    * cosine direction, hence no cell: excluded, as in the IVF scan.
    */
  def semanticDuplicates(embeddings: DataFrame, cents: Seq[Seq[Double]],
      threshold: Double): DataFrame =
    semanticDuplicatesManaged(embeddings, cents, threshold).df

  /** Managed-lifecycle variant (see [[embeddingNearDuplicatesManaged]]
    * — same contract): the assignment frame feeds both pair-join
    * sides AND the survivor anti-join, whose different partitioning
    * defeats exchange reuse — without the persist the corpus scan +
    * per-centroid cosines run twice. The plain variant leaves release
    * to session cleanup (one-shot jobs).
    */
  def semanticDuplicatesManaged(embeddings: DataFrame,
      cents: Seq[Seq[Double]], threshold: Double): graft.Managed = {
    require(cents.nonEmpty, "semanticDuplicates needs at least one centroid")
    // exclude zero-norm vectors BEFORE any cosine: under ANSI the
    // divide would throw (matching composed Divide), under non-ANSI it
    // nulls — filtering first gives the documented exclusion in both
    // modes, still narrow
    val a = new graft.Artifacts
    val assigned = a.persist(cellAssigned(embeddings.filter(aggregate(
      asDouble(col("embedding")), lit(0.0), (acc, x) => acc + x * x) > 0),
      cents))
    new graft.Managed(semanticSurvivors(assigned)(threshold), a)
  }

  /** SemDeDup served from a written IVF index (see [[VectorStore.write]]):
    * the cell column is already materialized as the partition key, so
    * dedup skips assignment entirely and the per-cell pair join reads
    * cell-partitioned parquet — the index built for ANN serving IS the
    * dedup partitioning, one build amortized over both uses.
    */
  def semanticDuplicatesFromIndex(index: DataFrame,
      threshold: Double): DataFrame =
    semanticSurvivors(index.select(col("vec_id"), col("embedding"),
      col("cell")))(threshold)

  /** Shared survivor computation over an assigned (vec_id, embedding,
    * cell) frame: within-cell pairs at cosine ≥ threshold drop their
    * higher id; survivors return as (vec_id, cell).
    */
  private def semanticSurvivors(assigned: DataFrame)(
      threshold: Double): DataFrame = {
    val pairs = assigned.as("l").join(assigned.as("r"),
        col("l.cell") === col("r.cell") &&
        col("l.vec_id") < col("r.vec_id"))
      .filter(round(cosineFor(assigned)(
        col("l.embedding"), col("r.embedding")), 4) >= threshold)
      .select(col("r.vec_id").as("vec_id"))
      .distinct()
    assigned.join(pairs, Seq("vec_id"), "left_anti")
      // UNORDERED: survivors are corpus-sized — sort at the query edge
      .select(col("vec_id"), col("cell"))
  }
}
