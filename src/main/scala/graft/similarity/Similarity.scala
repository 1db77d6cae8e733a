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

  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Cosine similarity as the native fused-loop Catalyst expression
    * (graft.plans.CosineSimilarity): one array walk instead of the
    * composed dot/norm form's four, bit-identical (CosineSimilaritySpec).
    */
  private def cosineFor(df: DataFrame)(a: Column, b: Column): Column =
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
    * [[ivfTopKFromIndex]]'s pruned scan instead.
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
    val byLabelDim = comp.groupBy(col("label"), col("dim"))
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("nv"))
      .localCheckpoint(true)
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

  /** Materialize the IVF index as a cell-partitioned table — the
    * inverted lists as a physical layout. At 100 TB this is the point
    * of IVF: a probe query filters on `cell` and the scan prunes to
    * nProbe directories (PartitionFilters on the parquet scan,
    * asserted in spec) instead of touching the corpus. Zero-norm
    * (unindexable) vectors are dropped, matching the probe scan.
    */
  /** The (embeddings + cell) assignment frame both index writers
    * share: narrow projection against the frozen centroid literals,
    * zero-norm (unindexable) rows dropped, each cell co-located
    * before the write — without the repartition every input partition
    * opens up to nCells concurrent writers and the output is
    * inputPartitions × nCells small files.
    */
  private[graft] def ivfAssignedForWrite(embeddings: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val centLit = typedlit(cents)
    embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
      .drop("__scores")
      .filter(col("cell").isNotNull)
      .repartition(col("cell"))
  }

  def writeIvfIndex(embeddings: DataFrame, cents: Seq[Seq[Double]],
      path: String): Unit =
    ivfAssignedForWrite(embeddings, cents)
      .withColumn("batch_id", lit("build"))
      .write.mode("overwrite").partitionBy("cell", "batch_id").parquet(path)

  /** The batch-name contract shared by [[appendToIvfIndex]],
    * [[appendToQuantizedIvfIndex]] and [[appendToPqIndex]] — same
    * rules as BM25's (`"build"` is the build's reserved name;
    * distinct appends need distinct keys; a RETRY reuses its key on
    * purpose). All-digit keys are rejected: the streaming ingest
    * sinks partition by the RAW numeric micro-batch id, so a manual
    * append named "5" on a stream-fed index would be dynamic-
    * overwritten by a checkpoint replay of micro-batch 5, silently
    * dropping its vectors.
    */
  private def requireIvfBatchKey(batchKey: String): Unit = {
    require(batchKey.nonEmpty && batchKey != "build",
      "batchKey must be a non-empty name other than the reserved \"build\"")
    require(!batchKey.forall(_.isDigit),
      s"batchKey \"$batchKey\" is all digits — the streaming ingest " +
        "sinks key their partitions by raw numeric micro-batch id, and " +
        "a checkpoint replay of that micro-batch would overwrite this " +
        "append; pick a non-numeric name")
    // compactIvfIndexKeeping writes kept-part tombstones under batch
    // "retained"; a later batch under that name would dynamic-
    // overwrite them, resurrecting previously erased kept-batch rows
    require(batchKey != "retained",
      "\"retained\" is reserved for compactIvfIndexKeeping's " +
        "kept-part tombstones — pick another name")
  }

  /** Loud layout guard for the batch-keyed appends: an index written
    * before the (cell, batch_id) layout has flat `cell=N` directories,
    * and appending nested `cell=N/batch_id=K` files would poison
    * PARTITION DISCOVERY for every later read ("conflicting directory
    * structures") — fail at write time instead.
    */
  private def requireBatchLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      require(spark.read.parquet(path).columns.contains("batch_id"),
        s"IVF index at $path predates the (cell, batch_id) layout — " +
          "rebuild it with writeIvfIndex/writeQuantizedIvfIndex before " +
          "batch-keyed appends")
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
    * ([[graft.streaming.Pipelines.ivfIndexSink]]'s (cell, batch_id)
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
    * Name-keyed layouts (writeIvfIndex's "build" + appendToIvfIndex
    * batchKeys) have no monotonic clock and are rejected here — use
    * the named-batch overload below.
    */
  def readIvfIndexAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, upToBatch: Long): DataFrame = {
    val snap = readIvfIndex(spark, path)
    require(snap.columns.contains("batch_id"),
      s"index at $path carries no batch_id history (pre-layout " +
        "index) — rebuild it with writeIvfIndex first")
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
    * ("build" for [[writeIvfIndex]]'s base, append batchKeys for
    * [[appendToIvfIndex]] / [[appendToQuantizedIvfIndex]]; a
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
        "index) — rebuild it with writeIvfIndex first")
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
    val mat = live.localCheckpoint(true)
    try {
      mat.write.mode("overwrite").partitionBy(parts: _*).parquet(path)
      fs.delete(tombDir, true)
      prefixes.foreach(p => registerIvfDeleteStreamPrefix(spark, path, p))
    } finally graft.Frames.freeLocalCheckpoint(mat)
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
        "index) — rebuild it with writeIvfIndex first")
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
        "index) — rebuild it with writeIvfIndex first")
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
    val matLive = foldedLive.localCheckpoint(true)
    val matTombs = retained.localCheckpoint(true)
    try {
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
    } finally {
      graft.Frames.freeLocalCheckpoint(matLive)
      graft.Frames.freeLocalCheckpoint(matTombs)
    }
  }

  /** Centroid REFRESH for a written float IVF index — the
    * maintenance member append/delete/compact still lacked: as the
    * corpus grows, the frozen build centroids drift away from the
    * data distribution and probe recall decays, so periodically the
    * LIVE entries (tombstones honored) re-cluster against NEW
    * centroids into a fresh directory. The old index is never
    * mutated — serving stays up and cutover is a path swap; the new
    * index is a [[writeIvfIndex]] layout, so probes prune and the
    * whole maintenance family (append/delete/compact/as-of via the
    * streaming sink) applies to it unchanged. O(index) by design —
    * the background job, like compaction.
    */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, cents: Seq[Seq[Double]], newPath: String): Unit =
    writeIvfIndex(
      readIvfIndex(spark, oldPath).select(col("vec_id"), col("embedding")),
      cents, newPath)

  /** Centroid REFRESH for the COMPRESSED (int8) index — the drift-
    * maintenance member the family still lacked, and at 100 TB the
    * one that matters: the compressed index is the one a deployment
    * actually serves. The int8 store holds only (vec_id, scale,
    * qvec) — no float embeddings — so refresh re-quantizes from a
    * caller-supplied SOURCE of the original embeddings (the upstream
    * corpus table): cell assignment must come from the true float
    * vectors — a dequantized approximate reassignment would let
    * quantization error move rows across cell boundaries, breaking
    * the recluster ≡ rebuild-on-live exactness every other
    * maintenance member carries — and re-quantizing the same source
    * rows reproduces the stored entries bit-for-bit (per-row
    * symmetric quantization is deterministic and index-independent).
    * Live ids (tombstones honored) with no source row fail LOUDLY —
    * a refresh must never silently shrink the index. Same operating
    * model as [[reclusterIvfIndex]]: old index untouched, cutover is
    * a path swap, O(index) background work by design.
    */
  def reclusterQuantizedIvfIndex(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, source: DataFrame, cents: Seq[Seq[Double]],
      newPath: String): Unit = {
    val live = readIvfIndex(spark, oldPath).select(col("vec_id"))
    val src = source.select(col("vec_id"), col("embedding"))
    val missing = live.join(src, Seq("vec_id"), "left_anti")
      .limit(5).collect().map(_.getLong(0))
    require(missing.isEmpty,
      s"live ids ${missing.mkString(", ")}… of the index at $oldPath " +
        "have no row in the supplied source table — the compressed " +
        "store carries no embeddings, so refresh needs the original " +
        "vectors for every live entry")
    writeQuantizedIvfIndex(
      src.join(live, Seq("vec_id"), "left_semi"), cents, newPath)
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

  /** Append a batch of NEW vectors to a written IVF index WITHOUT
    * rebuilding it — the index-maintenance member of the frozen-
    * serving family (gram index, NB gate, community labels, media
    * fingerprint probe). Assignment uses the SAME frozen centroids
    * the index was built with, so append ≡ full rebuild EXACTLY, not
    * approximately: cell assignment is per-row against frozen
    * literals, the probe scan is order-blind within a cell, and
    * appended files land inside the existing `cell=N` directories —
    * a probe's PartitionFilter prunes old and new entries through
    * the same directory listing. Per-batch cost is O(batch), never
    * O(index): the existing lists are not read, let alone rewritten.
    *
    * The caller owns id disjointness ACROSS batches (duplicate
    * vec_ids would serve twice — the upsert-by-key story belongs to
    * the keyed sinks, not the ANN index); centroids must be the
    * build's centroids, or the rebuild equivalence breaks by
    * construction.
    *
    * `batchKey` names the append: rows land under their own
    * (cell=N, batch_id=batchKey) partitions via DYNAMIC partition
    * overwrite, so a RETRY of the same key — recovery from a
    * partially-failed append — recomputes identical rows and
    * overwrites exactly its own partitions instead of
    * double-inserting vectors into served top-k (the
    * [[graft.ops.SearchOps.appendToBm25Index]] idempotence story;
    * the streaming sink's (cell, batch_id) layout already proved
    * it). Because every batch keeps its own partitions, the layout
    * carries HISTORY: [[readIvfIndexAsOf]]'s named-batch overload
    * time-travels batch-maintained indexes too. Distinct appends
    * need distinct keys; "build" is reserved for [[writeIvfIndex]].
    */
  def appendToIvfIndex(newVectors: DataFrame, cents: Seq[Seq[Double]],
      path: String, batchKey: String): Unit = {
    requireIvfBatchKey(batchKey)
    requireBatchLayout(newVectors.sparkSession, path)
    ivfAssignedForWrite(newVectors, cents)
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("cell", "batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

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

  /** Probe scan served from a [[writeIvfIndex]] table on disk — the
    * payoff of the physical layout: probe cells are literals, so the
    * `cell` predicate becomes a PartitionFilter and the scan touches
    * nProbe directories out of nCells, never the corpus. This is the
    * path a 100 TB deployment actually runs; `ivfTopKFrom` is its
    * index-free twin for ad-hoc queries.
    */
  def ivfTopKFromIndex(index: DataFrame, cents: Seq[Seq[Double]],
      queryVec: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(cents, queryVec, nProbe)
    val filtered =
      if (probes.isEmpty) index.filter(lit(false)) // zero-norm query
      else index.filter(col("cell").isin(probes: _*))
    filtered
      .select(col("vec_id"),
        round(cosineFor(index)(col("embedding"), typedlit(queryVec.toVector)), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The COMPRESSED IVF index: [[writeIvfIndex]]'s cell-partitioned
    * layout with int8 entries — (vec_id, scale, qvec, cell). Cell
    * assignment still uses the ORIGINAL float vectors (quantization
    * error must not move a vector across a cell boundary); only the
    * stored entries compress. A probed directory costs ~4× less scan
    * I/O than the float index — at 100 TB this stacks directory
    * pruning (nProbe of nCells cells) on top of byte compression.
    */
  /** The quantized twin of [[ivfAssignedForWrite]] — same frozen
    * assignment, int8 entries. */
  private[graft] def quantizedAssignedForWrite(embeddings: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val centLit = typedlit(cents)
    val q = GraftFunctions.call(embeddings)(TextHashFunctions.QuantizeVecName,
      col("embedding"))
    embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
      .filter(col("cell").isNotNull)
      .select(col("vec_id"), q.getField("scale").as("scale"),
        q.getField("qvec").as("qvec"), col("cell"))
      .repartition(col("cell"))
  }

  def writeQuantizedIvfIndex(embeddings: DataFrame, cents: Seq[Seq[Double]],
      path: String): Unit =
    quantizedAssignedForWrite(embeddings, cents)
      .withColumn("batch_id", lit("build"))
      .write.mode("overwrite").partitionBy("cell", "batch_id").parquet(path)

  /** Batch append into a written COMPRESSED IVF index — exactly
    * [[appendToIvfIndex]]'s contract (frozen centroids ⇒ append ≡
    * rebuild; O(batch); appended files inside the existing cell
    * directories; `batchKey` dynamic-overwrites its own
    * (cell, batch_id) partitions so retries never double-insert)
    * with int8 entries: per-row quantization is index-independent,
    * so compression changes nothing about the equivalence argument.
    */
  def appendToQuantizedIvfIndex(newVectors: DataFrame,
      cents: Seq[Seq[Double]], path: String, batchKey: String): Unit = {
    requireIvfBatchKey(batchKey)
    requireBatchLayout(newVectors.sparkSession, path)
    quantizedAssignedForWrite(newVectors, cents)
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("cell", "batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
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

  /** Top-k served from a [[writeQuantizedIvfIndex]] table: literal
    * probe cells become PartitionFilters (directory pruning, as
    * [[ivfTopKFromIndex]]) and the probed cells scan int8 lists with
    * EXACT integer dots, dequantized by the two scales. A degenerate
    * (zero/non-finite) query has no cosine direction → empty result.
    */
  def quantizedTopKFromIndex(index: DataFrame, cents: Seq[Seq[Double]],
      queryVec: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    // quantize FIRST: a degenerate query must short-circuit before
    // probe selection ever touches its (possibly non-finite) values
    val (qs, qq) = quantizeQuery(queryVec)
    val probes = if (qs == 0.0) Seq.empty else probeCells(cents, queryVec, nProbe)
    val filtered =
      if (probes.isEmpty || qs == 0.0) index.filter(lit(false))
      else index.filter(col("cell").isin(probes: _*))
    filtered
      .select(col("vec_id"),
        round(col("scale") * lit(qs) *
          qdotFor(index)(col("qvec"), typedlit(qq.toVector)), 6).as("q_sim"))
      .orderBy(col("q_sim").desc, col("vec_id"))
      .limit(k)
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
  private def pqCodesCol(cb: PqCodebook, v: Column): Column =
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
      k: Int): DataFrame = {
    val lut = typedlit(pqLut6(cb, query))
    val score6 = (0 until cb.m).map(j =>
      element_at(element_at(lut, j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    codes
      .select(col("vec_id"), round(score6 / 1e6, 6).as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** PQ composed with the IVF layout: codes written cell-partitioned
    * (cells assigned on the ORIGINAL floats, as the int8 index does),
    * so a probe prunes to nProbe directories of 8-byte codes — IVF's
    * directory pruning stacked on PQ's 32× compression. This is the
    * standard IVF-PQ serving shape.
    */
  def writePqIndex(embeddings: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, path: String): Unit =
    pqAssignedForWrite(embeddings, cents, cb)
      .withColumn("batch_id", lit("build"))
      .write.mode("overwrite").partitionBy("cell", "batch_id").parquet(path)

  /** The (codes + cell) assignment frame the PQ index writers share —
    * cell from the true float vector against frozen coarse centroids,
    * codes from the frozen codebook, co-located per cell.
    */
  private[graft] def pqAssignedForWrite(embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook): DataFrame = {
    val centLit = typedlit(cents)
    val cells = embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
      .filter(col("cell").isNotNull)
      .select(col("vec_id"), col("embedding"), col("cell"))
    pqEncode(cells, cb)
      .join(cells.select(col("vec_id"), col("cell")), "vec_id")
      .repartition(col("cell"))
  }

  /** Batch append into a written IVF-PQ index — the
    * [[appendToIvfIndex]] contract for the composed 100 TB serving
    * shape: coarse assignment and PQ encoding are both per-row
    * against frozen literals (centroids + codebook), so append ≡
    * rebuild exactly; `batchKey` dynamic-overwrites its own
    * (cell, batch_id) partitions, so retries never double-insert;
    * O(batch), existing code lists never read. The rest of the
    * maintenance family composes for free: [[deleteFromIvfIndex]] /
    * [[compactIvfIndex]] / [[readIvfIndex]] / [[readIvfIndexAsOf]]
    * are layout-generic over (vec_id, …, cell, batch_id) tables.
    */
  def appendToPqIndex(newVectors: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, path: String, batchKey: String): Unit = {
    requireIvfBatchKey(batchKey)
    requireBatchLayout(newVectors.sparkSession, path)
    pqAssignedForWrite(newVectors, cents, cb)
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("cell", "batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

  /** Serve top-k from a [[writePqIndex]] table: literal probe cells
    * become PartitionFilters (directory pruning), then the ADC scan
    * of [[pqTopK]] over the probed codes.
    */
  def pqTopKFromIndex(index: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, queryVec: Seq[Double], k: Int,
      nProbe: Int): DataFrame = {
    val probes = probeCells(cents, queryVec, nProbe)
    val filtered =
      if (probes.isEmpty) index.filter(lit(false))
      else index.filter(col("cell").isin(probes: _*))
    pqTopK(filtered, cb, queryVec, k)
  }

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

  /** BATCHED ADC serving: top-k for MANY queries in ONE pass over
    * the union of their probed cells — the high-QPS serving
    * economics. Q queries against [[pqTopKFromIndex]] issue Q pruned
    * scans; here the scan runs once, each scanned code row scores
    * against every query's integer LUT (a literal array — no join),
    * rows outside a query's own probe cells drop, and one bounded
    * (query_id, vec_id, score) shuffle ranks per query. Per-query
    * results are identical to the single-query path (spec-pinned);
    * zero-norm queries have no probes and are absent. Output:
    * (query_id, vec_id, pq_sim), k rows per servable query.
    */
  def pqMultiTopKFromIndex(index: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, queries: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int): DataFrame = {
    requireDistinctBatch(queries)
    if (queries.length > literalMaxQ(index))
      return pqMultiTopKFromIndexQT(index, cents, cb,
        queriesToFrame(index.sparkSession, queries), k, nProbe)
    val perQuery = queries.map { case (qid, qv) =>
      val lutLit = typedlit(pqLut6(cb, qv))
      val s6 = (0 until cb.m).map(j =>
        element_at(element_at(lutLit, j + 1),
          element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
      (qid, probeCells(cents, qv, nProbe).toSet, round(s6 / 1e6, 6))
    }
    multiServeOneScan(index, perQuery, "pq_sim", k)
  }

  /** The one-scan batched core shared by the THREE pruned stores
    * (PQ via [[pqMultiTopKFromIndex]]'s LUT, float and int8 via
    * per-query literal query vectors): scan the union of every
    * query's probe cells ONCE, score each scanned row against every
    * query's scoring column, drop rows outside a query's own probe
    * cells, rank per query through one bounded (query_id, vec_id,
    * score) shuffle. `perQuery` carries (query_id, that query's
    * probe-cell set, its scoring column over the scanned row).
    */
  /** The batched entry points' shared batch-shape guard: non-empty
    * and DISTINCT query ids. A repeated id would emit two identical
    * structs per scanned row — after the explode each (query_id,
    * vec_id) pair appears twice and row_number spends two ranks per
    * doc, silently returning ~k/2 distinct results.
    */
  private def requireDistinctBatch(queries: Seq[(Long, Any)]): Unit = {
    require(queries.nonEmpty, "batched serving needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "query ids must be distinct — a repeated id would double every " +
        "(query_id, vec_id) pair and halve the distinct top-k")
  }

  private def multiServeOneScan(index: DataFrame,
      perQuery0: Seq[(Long, Set[Int], Column)], scoreName: String,
      k: Int): DataFrame = {
    // a query with no probes (zero-norm/degenerate) contributes no
    // rows AND must not score: its scoring column would still
    // evaluate inside the struct for every scanned row (an ANSI
    // divide-by-zero for the cosine), so drop it from the scan
    val perQuery = perQuery0.filter(_._2.nonEmpty)
    if (perQuery.isEmpty)
      return index.filter(lit(false))
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0.0).as(scoreName))
    val allCells = perQuery.flatMap(_._2).toSeq.distinct
    val scanned = index.filter(col("cell").isin(allCells: _*))
    val entries = perQuery.map { case (qid, cells, score) =>
      val member = col("cell").cast("int").isin(cells.toSeq: _*)
      struct(lit(qid).as("query_id"), member.as("m"), score.as("s"))
    }
    import org.apache.spark.sql.expressions.Window
    scanned
      .select(col("vec_id"), explode(array(entries: _*)).as("e"))
      .filter(col("e.m"))
      .select(col("e.query_id").as("query_id"), col("vec_id"),
        col("e.s").as(scoreName))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(scoreName).desc, col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col(scoreName).desc, col("vec_id"))
  }

  // ---------------------------------------------------------------
  // QUERY-TABLE batched serving (round 15) — the large-Q shape
  // ---------------------------------------------------------------

  /** Upper Q for the per-query-LITERAL batched plans. The literal
    * path ([[multiServeOneScan]]) embeds every query's vector/LUT in
    * the plan and explodes a Q-struct array per scanned row: measured
    * fastest at the oracle-gated Q=3–5, but plan size, analysis time,
    * and the 64 KB codegen method limit all grow O(Q·dim). Past this
    * threshold the Seq entry points re-route to the query-TABLE path
    * (broadcast probe join — O(1) plan size in Q). Conf-overridable
    * for operating-point experiments.
    */
  private[graft] def literalMaxQ(df: DataFrame): Int =
    df.sparkSession.conf
      .get("spark.graft.batchedServeLiteralMaxQ", "16").toInt

  private def queriesToFrame(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(queries.map { case (id, v) => (id, v) })
      .toDF("query_id", "embedding")

  /** Finite positive squared norm — the in-plan twin of
    * [[probeCells]]' degenerate-query guard (zero-norm or any
    * non-finite entry ⇒ no cosine direction ⇒ the query is absent
    * from batched results, matching the single-serve paths). MUST
    * filter the query table before any cosine against centroids:
    * under ANSI mode the native cosine THROWS on a zero-norm input
    * rather than degrading.
    */
  private def servableQuery(qe: Column): Column = {
    val n2 = aggregate(qe, lit(0.0), (acc, x) => acc + x * x)
    n2 > 0.0 && !isnan(n2) && n2 =!= Double.PositiveInfinity
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

  /** Broadcast-payload budget for one query-table serve (round-16
    * verdict #4 — the [[graft.Frames.hintTombstones]] loud-ceiling
    * convention): Q·(artifact bytes + nProbe·16) must stay under it
    * or the serve's own action fails loudly with the documented
    * fallback — CHUNK THE QUERY BATCH into smaller serves. Without
    * the ceiling a caller passing a corpus-sized "query frame" gets
    * a driver/executor OOM from the forced broadcast instead of a
    * contract error. Override: `spark.graft.qtBroadcastBudget`
    * (bytes; default 64 MB ≈ 260k queries of an m=8/ksub=256 LUT at
    * nProbe=16 chunked into ~4k-query serves).
    */
  private def qtBroadcastBudget(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.qtBroadcastBudget")
      .map(_.toLong).getOrElse(64L << 20)

  /** The guarded SERVABLE query frame every query-table serve starts
    * from: (query_id, q_emb) with degenerate (zero-norm/non-finite)
    * queries dropped so they are ABSENT — the single-serve contract —
    * and the batch-shape contracts folded INTO THE PLAN (round-16
    * verdict #6): the previous eager groupBy/limit/collect
    * distinctness probe cost one extra Spark job per serve — in
    * [[graft.streaming.Pipelines.knnServingSink]]'s foreachBatch an
    * extra evaluation of the (uncached) micro-batch lineage on every
    * trigger's latency path. Now distinct-ids and the broadcast
    * budget ride the query_id column of every servable row (two
    * window counts over the bounded query frame — zero extra jobs),
    * so a duplicated id or an over-budget batch fails the serve's
    * OWN action loudly. Schema stays an eager check (metadata only,
    * no job). `artifactBytes`: estimated per-query broadcast payload
    * over the q_emb column (the scoring-artifact row plus nProbe
    * 16-byte probe pairs) for the budget check.
    */
  private[similarity] def guardedServable(queries: DataFrame,
      nProbe: Int, artifactBytes: Column): DataFrame = {
    require(queries.columns.contains("query_id") &&
        queries.columns.contains("embedding"),
      s"query table needs (query_id, embedding), got " +
        s"(${queries.columns.mkString(", ")})")
    val budget = qtBroadcastBudget(queries.sparkSession)
    val idType = queries.schema("query_id").dataType
    import org.apache.spark.sql.expressions.Window
    val dupN = count(lit(1)).over(Window.partitionBy(col("query_id")))
    val batchBytes = sum(artifactBytes.cast("long") +
        lit(nProbe.toLong * 16L))
      .over(Window.partitionBy())
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
      .filter(servableQuery(col("q_emb")))
  }

  /** The bounded (query_id, cell) probe-PAIR table: one 16-byte row
    * per (servable query, probed cell), Q·nProbe rows — the broadcast
    * side of the serve's cell join. The per-query scoring artifacts
    * ride a SECOND Q-row broadcast keyed by query_id (round-16
    * verdict #2: the artifacts used to be columns of this exploded
    * table, so an m×ksub LUT was computed and shipped nProbe times
    * per query — at nProbe=16 that is 16× the bytes and 16× the
    * per-row transform work for identical results).
    */
  private[similarity] def probePairs(servable: DataFrame,
      cents: Seq[Seq[Double]], nProbe: Int): DataFrame =
    servable.select(col("query_id"),
      explode(probeCellsCol(servable, cents, nProbe)(col("q_emb")))
        .as("cell"))

  /** The query-TABLE batched core — [[multiServeOneScan]] re-shaped
    * for large Q (round-15 verdict #1): queries ride a BROADCAST
    * probe table joined on `cell` instead of per-row Q-struct
    * explosion over plan literals, so plan size, codegen, and driver
    * work are O(1) in Q and the only Q-proportional costs are the
    * broadcast (Q·nProbe rows of query artifacts) and the bounded
    * (query_id, vec_id, score) rank shuffle. Directory pruning
    * survives as DYNAMIC partition pruning: the scan's `cell`
    * partition column is joined against the bounded probe side, so
    * Spark prunes the union of probed cells at runtime — the same
    * cells the literal path pins statically. Scoring artifacts
    * (query vector / int8 pair / integer LUTs) are a SEPARATE Q-row
    * broadcast keyed by query_id — computed once per QUERY, not once
    * per (query, probed cell) — evaluated by the same expressions as
    * the literal path, so per-query results are bit-identical to Q
    * single serves (spec- and oracle-gated).
    */
  private def multiServeQueryTable(index: DataFrame, pairs: DataFrame,
      arts: DataFrame, score: Column, scoreName: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    index.join(broadcast(pairs), Seq("cell"))
      .join(broadcast(arts), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), score.as(scoreName))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(scoreName).desc, col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col(scoreName).desc, col("vec_id"))
  }

  /** Query-table batched serving for the FLOAT IVF store — the
    * large-Q twin of [[ivfMultiTopKFromIndex]] (which re-routes here
    * past [[literalMaxQ]]). `queries`: (query_id, embedding), ids
    * distinct. Output ≡ Q single [[ivfTopKFromIndex]] serves.
    */
  def ivfMultiTopKFromIndexQT(index: DataFrame, cents: Seq[Seq[Double]],
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val sv = guardedServable(queries, nProbe,
      size(col("q_emb")).cast("long") * 8L + 16L)
    multiServeQueryTable(index, probePairs(sv, cents, nProbe),
      sv.select(col("query_id"), col("q_emb")),
      round(cosineFor(index)(col("embedding"), col("q_emb")), 4),
      "cos_sim", k)
  }

  /** Query-table batched serving for the COMPRESSED (int8) store —
    * the large-Q twin of [[quantizedMultiTopKFromIndex]]. The query
    * side quantizes IN-PLAN through the native quantization the store
    * itself uses (bit-identical to the driver-side [[quantizeQuery]]),
    * so the dequantized integer dot is the single-serve score exactly.
    */
  def quantizedMultiTopKFromIndexQT(index: DataFrame,
      cents: Seq[Seq[Double]], queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val sv = guardedServable(queries, nProbe,
      size(col("q_emb")).cast("long") * 4L + 24L)
    val q = GraftFunctions.call(sv)(TextHashFunctions.QuantizeVecName,
      col("q_emb"))
    multiServeQueryTable(index, probePairs(sv, cents, nProbe),
      sv.select(col("query_id"), q.getField("scale").as("q_scale"),
        q.getField("qvec").as("q_qvec")),
      round(col("scale") * col("q_scale") *
        qdotFor(index)(col("qvec"), col("q_qvec")), 6),
      "q_sim", k)
  }

  /** The in-plan ADC lookup table — [[pqLut6]] as a Column over the
    * query-vector column: same index-order sub-dot fold (IEEE-equal
    * to the driver loop), same ·1e6 HALF_UP long rounding, computed
    * ONCE per query row on the broadcast side.
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

  /** [[cellLut6]] as a Column: the per-cell query·centroid term of
    * the residual decomposition, in the same exact micro-units.
    */
  private def cellLut6Col(cents: Seq[Seq[Double]])(qe: Column): Column = {
    val centLit = typedlit(cents.map(_.toVector).toVector)
    transform(centLit, c =>
      round(aggregate(zip_with(qe, c, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x) * 1e6, 0).cast("long"))
  }

  private def lutScore6(lut: Column, m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(lut, j + 1),
        element_at(col("codes"), j + 1) + 1)).reduce(_ + _)

  /** Query-table batched ADC serving — the large-Q twin of
    * [[pqMultiTopKFromIndex]]: each query's integer LUT is a COLUMN
    * of the broadcast probe table (computed once per query), each
    * scanned code row pays m lookups + a long sum exactly as the
    * single-serve scan does.
    */
  def pqMultiTopKFromIndexQT(index: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val sv = guardedServable(queries, nProbe,
      lit(cb.m.toLong * cb.centroids.head.length * 8L + 16L))
    multiServeQueryTable(index, probePairs(sv, cents, nProbe),
      sv.select(col("query_id"), pqLut6Col(cb)(col("q_emb")).as("q_lut")),
      round(lutScore6(col("q_lut"), cb.m) / 1e6, 6), "pq_sim", k)
  }

  /** Query-table batched RESIDUAL (IVFADC) serving — the large-Q
    * twin of [[residualPqMultiTopKFromIndex]]: the broadcast side
    * carries BOTH per-query LUTs (residual codebook + per-cell
    * term), the scan pays one extra lookup per row, exactly the
    * single-serve decomposition.
    */
  def residualPqMultiTopKFromIndexQT(index: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val sv = guardedServable(queries, nProbe,
      lit(cb.m.toLong * cb.centroids.head.length * 8L +
        cents.length.toLong * 8L + 16L))
    multiServeQueryTable(index, probePairs(sv, cents, nProbe),
      sv.select(col("query_id"), pqLut6Col(cb)(col("q_emb")).as("q_lut"),
        cellLut6Col(cents)(col("q_emb")).as("q_clut")),
      round((element_at(col("q_clut"), col("cell").cast("int") + 1) +
        lutScore6(col("q_lut"), cb.m)) / 1e6, 6), "pq_sim", k)
  }

  /** Query-table batched TWO-STAGE serving — the large-Q twin of
    * [[pqMultiTopKRefined]] with the driver round-trip removed
    * (round-15 verdict #1): the ADC shortlist stays a DataFrame and
    * re-ranking is a SEMI-JOIN shape — candidates = embeddings ⋈
    * broadcast(shortlist pairs) ⋈ broadcast(query vectors) — so no
    * Q×R id set ever collects or re-embeds as `isin` literals. At
    * 100 TB the bounded pair table broadcast + Spark's runtime
    * row-group filtering replace the literal path's static In
    * pushdown; per-query results ≡ Q single refined serves.
    */
  def pqMultiTopKRefinedQT(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queries: DataFrame,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must cover top-$k")
    val short = pqMultiTopKFromIndexQT(index, cents, cb, queries,
      shortlist, nProbe).select(col("query_id"), col("vec_id"))
    val qv = queries.select(col("query_id"),
      asDouble(col("embedding")).as("q_emb"))
    embeddings.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** [[pqMultiTopKRefinedQT]] with the re-rank fetch BUCKET-PRUNED
    * (round-16 verdict #1 — the last streamed pass on the serving
    * path): `embeddings` is a vec_id-BUCKETED catalog table
    * ([[graft.ops.BucketedTables.writeBucketed]]); the bounded Q×R
    * ADC shortlist collects ONCE to the driver (2 longs per row —
    * the same bounded-artifact class as centroids and codebooks, and
    * the only way to reach bucket pruning: Spark prunes bucket FILES
    * from literal predicates on the bucket column, which no
    * DPP/bloom can deliver to a broadcast-hash-join's streamed
    * side), and the float fetch becomes `vec_id IN (shortlist)` over
    * the bucketed scan — at a 100 TB float table the re-rank reads
    * ~(hit buckets)/(total buckets) of the files instead of one full
    * streamed pass per batch. Scoring, tie-breaks, and output are
    * the [[pqMultiTopKRefinedQT]] plan verbatim (its oracle is the
    * gate); the unbucketed path stays the fallback for plain parquet
    * embeddings.
    */
  def pqMultiTopKRefinedQTBucketed(index: DataFrame,
      embeddings: DataFrame, cents: Seq[Seq[Double]], cb: PqCodebook,
      queries: DataFrame, k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must cover top-$k")
    val spark = index.sparkSession
    val pairs = pqMultiTopKFromIndexQT(index, cents, cb, queries,
        shortlist, nProbe)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ids = pairs.map(_._2).distinct
    val short = spark.createDataFrame(pairs).toDF("query_id", "vec_id")
    val qv = queries.select(col("query_id"),
      asDouble(col("embedding")).as("q_emb"))
    val fetched =
      if (ids.isEmpty) embeddings.filter(lit(false))
      else embeddings.filter(col("vec_id").isin(ids: _*))
    fetched.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"), col("q_emb")), 4)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** The [[qtBroadcastBudget]] fallback made real (round-16): serve
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

  /** BATCHED serving for the FLOAT IVF store — [[pqMultiTopKFromIndex]]'s
    * one-scan trick applied to [[ivfTopKFromIndex]]: Q queries, one
    * pass over the union of their probed cell directories, each
    * scanned row scored against every query's literal vector (no
    * join), one bounded (query_id, vec_id, cos_sim) shuffle. Per-query
    * results ≡ Q single serves (the oracle gate); zero-norm queries
    * have no probes and are absent.
    */
  def ivfMultiTopKFromIndex(index: DataFrame, cents: Seq[Seq[Double]],
      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int): DataFrame = {
    requireDistinctBatch(queries)
    if (queries.length > literalMaxQ(index))
      return ivfMultiTopKFromIndexQT(index, cents,
        queriesToFrame(index.sparkSession, queries), k, nProbe)
    val perQuery = queries.map { case (qid, qv) =>
      (qid, probeCells(cents, qv, nProbe).toSet,
        round(cosineFor(index)(col("embedding"),
          typedlit(qv.toVector)), 4))
    }
    multiServeOneScan(index, perQuery, "cos_sim", k)
  }

  /** BATCHED serving for the COMPRESSED (int8) store — the high-QPS
    * case that pays most: the hot tier serves many queries per
    * second, and Q probes against [[quantizedTopKFromIndex]] would
    * rescan shared cells Q times. One pass over the union of probed
    * cells; each row's EXACT integer dot runs against every query's
    * quantized literal, dequantized by the two scales exactly as the
    * single-query path. Degenerate (zero/non-finite) queries are
    * absent, matching quantizedTopKFromIndex's empty result.
    */
  def quantizedMultiTopKFromIndex(index: DataFrame,
      cents: Seq[Seq[Double]], queries: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int): DataFrame = {
    requireDistinctBatch(queries)
    if (queries.length > literalMaxQ(index))
      return quantizedMultiTopKFromIndexQT(index, cents,
        queriesToFrame(index.sparkSession, queries), k, nProbe)
    val perQuery = queries.map { case (qid, qv) =>
      val (qs, qq) = quantizeQuery(qv)
      val cells =
        if (qs == 0.0) Set.empty[Int]
        else probeCells(cents, qv, nProbe).toSet
      (qid, cells,
        round(col("scale") * lit(qs) *
          qdotFor(index)(col("qvec"), typedlit(qq.toVector)), 6))
    }
    multiServeOneScan(index, perQuery, "q_sim", k)
  }

  /** BATCHED serving for the RESIDUAL (IVFADC) store — the last cell
    * of the batched matrix: each query carries its integer LUT AND
    * its per-cell term literal (dot(q,v) = dot(q,c_cell) + dot(q,r)
    * decomposes exactly, so the batched score is the same two-part
    * lookup as [[residualPqTopK]]); one pass over the union of
    * probed cells, per-query results ≡ Q single serves.
    */
  def residualPqMultiTopKFromIndex(index: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook,
      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int): DataFrame = {
    requireDistinctBatch(queries)
    if (queries.length > literalMaxQ(index))
      return residualPqMultiTopKFromIndexQT(index, cents, cb,
        queriesToFrame(index.sparkSession, queries), k, nProbe)
    val perQuery = queries.map { case (qid, qv) =>
      val lutLit = typedlit(pqLut6(cb, qv))
      val clLit = typedlit(cellLut6(cents, qv).toVector)
      val s6 = element_at(clLit, col("cell").cast("int") + 1) +
        (0 until cb.m).map(j =>
          element_at(element_at(lutLit, j + 1),
            element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
      (qid, probeCells(cents, qv, nProbe).toSet, round(s6 / 1e6, 6))
    }
    multiServeOneScan(index, perQuery, "pq_sim", k)
  }

  /** Recall@k of the IVF-PQ serving path ([[pqTopKFromIndex]] — the
    * DOUBLY-lossy ranking: coarse cell pruning on top of 8-byte ADC
    * codes) against the exact float ranking — the [[annRecall]]
    * convention applied to the compressed store. PQ degrades
    * silently: the codes always produce a plausible top-k, so
    * without this measurement nobody knows the operating point a
    * (nCells, nProbe, m, ksub) choice actually buys.
    *
    * `embeddings` supplies the query vectors and the exact baseline
    * (the code store carries neither floats nor the full corpus
    * ranking). Query vectors collect to the driver — |queryIds| rows,
    * the bounded fixture the per-query LUT needs — and each probe
    * prunes the written index to nProbe cell directories; the only
    * corpus-wide work is the deliberate exact baseline, which is the
    * point of the evaluation. A degenerate (zero-norm) query vector
    * yields no probes and scores recall 0 rather than vanishing — an
    * eval that silently drops failing queries overstates the
    * operating point. A query id with no embedding row at all has no
    * exact baseline either and is absent from the readout (callers
    * own the eval set's existence).
    */
  def pqRecall(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryIds: Seq[Long],
      k: Int, nProbe: Int): DataFrame =
    servingRecall(embeddings, queryIds, k)(qv =>
      pqTopKFromIndex(index, cents, cb, qv, k, nProbe))

  /** The recall@k harness every serving-path evaluation shares
    * ([[pqRecall]], [[residualPqRecall]], [[quantizedRecall]]):
    * collect the bounded query vectors, run the caller's serving
    * ranking per query, left-join the exact float top-k, and read out
    * per-query recall. A query whose serving path yields no
    * candidates (e.g. zero-norm → no probes) scores 0 rather than
    * vanishing — an eval that silently drops failing queries
    * overstates the operating point. A query id with no embedding row
    * has no exact baseline either and is absent from the readout
    * (callers own the eval set's existence).
    */
  private def servingRecall(embeddings: DataFrame, queryIds: Seq[Long],
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

  /** Recall@k of the COMPRESSED (int8) IVF serving path
    * ([[quantizedTopKFromIndex]]) against the exact float ranking —
    * the [[pqRecall]] convention for the 4× store. Together with the
    * float routing recall ([[annRecall]]) and the PQ evals this
    * completes the measured compression/recall frontier a deployment
    * sizes against: float (routing loss only) → int8 4× → PQ 32×.
    */
  def quantizedRecall(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], queryIds: Seq[Long], k: Int,
      nProbe: Int): DataFrame =
    servingRecall(embeddings, queryIds, k)(qv =>
      quantizedTopKFromIndex(index, cents, qv, k, nProbe))

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

  /** Centroid + codebook REFRESH for a written IVF-PQ index — the
    * drift-maintenance member of the composed family, and the one the
    * 100 TB argument weighs heaviest: the PQ store is doubly lossy
    * (coarse cells AND per-subspace codes are both frozen literals),
    * so a drifted corpus degrades its ranking twice over — stale
    * cells mis-route the probe AND a stale codebook has no code
    * points in the drifted cone, so even correctly-routed vectors
    * quantize badly. The refresh re-encodes from a caller-supplied
    * SOURCE of the original embeddings (the code store holds only
    * 8-byte codes — the [[reclusterQuantizedIvfIndex]] contract):
    * per-row encoding from true floats against the NEW frozen
    * literals keeps recluster ≡ rebuild-on-live exact. Live ids
    * (tombstones honored) with no source row fail LOUDLY. Old index
    * untouched; cutover is a path swap; O(index) background work by
    * design.
    */
  def reclusterPqIndex(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, source: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, newPath: String): Unit = {
    val live = readIvfIndex(spark, oldPath).select(col("vec_id"))
    val src = source.select(col("vec_id"), col("embedding"))
    val missing = live.join(src, Seq("vec_id"), "left_anti")
      .limit(5).collect().map(_.getLong(0))
    require(missing.isEmpty,
      s"live ids ${missing.mkString(", ")}… of the index at $oldPath " +
        "have no row in the supplied source table — the PQ store " +
        "carries no embeddings, so refresh needs the original vectors " +
        "for every live entry")
    writePqIndex(
      src.join(live, Seq("vec_id"), "left_semi"), cents, cb, newPath)
  }

  // ---------------------------------------------------------------
  // Residual PQ — IVFADC proper (encode v − c_cell, not v)
  // ---------------------------------------------------------------

  /** Cell-assigned RESIDUAL frame: (vec_id, embedding = v − c_cell,
    * cell). The IVFADC observation (Jégou et al. 2011, §III): within
    * a coarse cell the residuals span a far smaller cone than the raw
    * vectors, so the same (m, ksub) code budget quantizes them with
    * much less error — the codebook's points chase per-cell offsets
    * instead of the whole corpus. Narrow projection: the centroid
    * table rides as a literal, subtraction is per-row IEEE arithmetic
    * (exactly replayable), nothing shuffles. Zero-norm vectors have
    * no cell, hence no residual — excluded, as in every IVF writer.
    */
  private[graft] def residualAssigned(embeddings: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val centLit = typedlit(cents)
    embeddings
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
      .filter(col("cell").isNotNull)
      .select(col("vec_id"),
        zip_with(asDouble(col("embedding")),
          element_at(centLit, col("cell") + 1),
          (x, y) => x - y).as("embedding"),
        col("cell"))
  }

  /** Train a PQ codebook on the RESIDUAL distribution — [[pqBuild]]
    * over the (v − c_cell) frame. The trained book is only meaningful
    * against the same frozen `cents` it was trained with; callers
    * freeze the pair together (exactly the coarse-centroid/codebook
    * coupling [[reclusterPqIndex]] refreshes as a unit).
    */
  def pqBuildResidual(embeddings: DataFrame, cents: Seq[Seq[Double]],
      m: Int = 4, ksub: Int = 256, iterations: Int = 2): PqCodebook =
    pqBuild(residualAssigned(embeddings, cents)
      .select(col("vec_id"), col("embedding")), m, ksub, iterations)

  /** The (codes + cell) frame the residual-PQ writers share — cell
    * from the true float vector, codes from the residual against the
    * SAME frozen centroids (assignment and encoding can never use
    * different cells), co-located per cell. Same layout as
    * [[pqAssignedForWrite]], so the whole maintenance family
    * (append / delete / compact / as-of / streaming) composes through
    * the layout-generic readers unchanged.
    */
  private[graft] def residualPqAssignedForWrite(embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook): DataFrame =
    residualAssigned(embeddings, cents)
      .select(col("vec_id"),
        pqCodesCol(cb, asDouble(col("embedding"))).as("codes"),
        col("cell"))
      .repartition(col("cell"))

  /** [[writePqIndex]] with residual encoding — same 8-byte rows, same
    * (cell, batch_id) layout, strictly better codes.
    */
  def writeResidualPqIndex(embeddings: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, path: String): Unit =
    residualPqAssignedForWrite(embeddings, cents, cb)
      .withColumn("batch_id", lit("build"))
      .write.mode("overwrite").partitionBy("cell", "batch_id").parquet(path)

  /** [[appendToPqIndex]]'s contract for the residual store: per-row
    * assignment + residual encoding against frozen literals keeps
    * append ≡ rebuild exact; `batchKey` dynamic-overwrites its own
    * (cell, batch_id) partitions, so retries never double-insert.
    */
  def appendToResidualPqIndex(newVectors: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, path: String,
      batchKey: String): Unit = {
    requireIvfBatchKey(batchKey)
    requireBatchLayout(newVectors.sparkSession, path)
    residualPqAssignedForWrite(newVectors, cents, cb)
      .withColumn("batch_id", lit(batchKey))
      .write.partitionBy("cell", "batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

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
      cb: PqCodebook, query: Seq[Double], k: Int): DataFrame = {
    val lut = typedlit(pqLut6(cb, query))
    val cl = typedlit(cellLut6(cents, query).toVector)
    val score6 = element_at(cl, col("cell").cast("int") + 1) +
      (0 until cb.m).map(j =>
        element_at(element_at(lut, j + 1),
          element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    codes
      .select(col("vec_id"), round(score6 / 1e6, 6).as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Serve top-k from a [[writeResidualPqIndex]] table — directory
    * pruning to nProbe cells, then the residual ADC scan.
    */
  def residualPqTopKFromIndex(index: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, queryVec: Seq[Double], k: Int,
      nProbe: Int): DataFrame = {
    val probes = probeCells(cents, queryVec, nProbe)
    val filtered =
      if (probes.isEmpty) index.filter(lit(false))
      else index.filter(col("cell").isin(probes: _*))
    residualPqTopK(filtered, cents, cb, queryVec, k)
  }

  /** Drift refresh for the residual store — [[reclusterPqIndex]]'s
    * contract (re-encode the live set from a caller-supplied float
    * source against the new frozen pair; missing source rows fail
    * loudly; cutover is a path swap). Residual codes are DOUBLY
    * centroid-coupled — a new coarse centroid moves both the cell
    * AND the residual every member of that cell encodes — which is
    * why refresh must re-encode from source rather than remap codes.
    */
  def reclusterResidualPqIndex(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, source: DataFrame, cents: Seq[Seq[Double]],
      cb: PqCodebook, newPath: String): Unit = {
    val live = readIvfIndex(spark, oldPath).select(col("vec_id"))
    val src = source.select(col("vec_id"), col("embedding"))
    val missing = live.join(src, Seq("vec_id"), "left_anti")
      .limit(5).collect().map(_.getLong(0))
    require(missing.isEmpty,
      s"live ids ${missing.mkString(", ")}… of the index at $oldPath " +
        "have no row in the supplied source table — the residual store " +
        "carries no embeddings, so refresh needs the original vectors " +
        "for every live entry")
    writeResidualPqIndex(
      src.join(live, Seq("vec_id"), "left_semi"), cents, cb, newPath)
  }

  /** Recall@k of the residual-PQ serving path against the exact float
    * ranking — [[pqRecall]]'s twin for the IVFADC-proper store, the
    * measurement that prices residual encoding against raw encoding
    * at the same 32× code budget.
    */
  def residualPqRecall(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryIds: Seq[Long],
      k: Int, nProbe: Int): DataFrame =
    servingRecall(embeddings, queryIds, k)(qv =>
      residualPqTopKFromIndex(index, cents, cb, qv, k, nProbe))

  // ---------------------------------------------------------------
  // Two-stage PQ serving: ADC shortlist → exact re-rank
  // ---------------------------------------------------------------

  /** Two-stage retrieval from a written IVF-PQ index: the ADC scan
    * shortlists `shortlist` candidates from the probed cells (8-byte
    * rows, directory-pruned), then the TRUE float vectors of only
    * those candidates re-rank exactly. The shortlist ids are a
    * bounded driver-side list (like the recall evals' query vectors),
    * so the re-fetch pushes `In(vec_id, …)` into the source scan —
    * row-group-pruned point lookups, not a corpus pass. This is the
    * standard production ANN shape (Jégou et al. 2011 §V: ADC
    * shortlist + exact reordering): measured here it recovers ALL of
    * the ADC loss — recall@10 is capped only by the coarse routing —
    * at the cost of `shortlist` float-row lookups per query.
    */
  def pqTopKRefined(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryVec: Seq[Double],
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover top-$k")
    val ids = pqTopKFromIndex(index, cents, cb, queryVec, shortlist, nProbe)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    exactRerank(embeddings, ids, queryVec, k)
  }

  /** The exact re-rank tail both two-stage serving paths share: the
    * true float rows of the bounded shortlist ids (In-pushdown point
    * lookups, never a corpus pass) re-ranked by exact cosine.
    */
  private def exactRerank(embeddings: DataFrame, ids: Seq[Long],
      queryVec: Seq[Double], k: Int): DataFrame = {
    val cand =
      if (ids.isEmpty) embeddings.filter(lit(false))
      else embeddings.filter(col("vec_id").isin(ids: _*))
    cand
      .select(col("vec_id"),
        round(cosineFor(embeddings)(col("embedding"),
          typedlit(queryVec.toVector)), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage serving over the RESIDUAL (IVFADC) store — the
    * composition of the round-13 waves the residual family still
    * lacked: the residual-ADC scan (cell term + residual LUTs)
    * shortlists from the probed cells, the true float rows of only
    * those ids re-rank exactly via the SAME tail as [[pqTopKRefined]].
    * Worth enabling only where residual encoding itself pays (mean
    * residual norm ≪ 1 — the [[residualPqRecall]] diagnostic); the
    * re-rank recovers residual-ADC loss up to the routing ceiling
    * exactly as it does raw-ADC loss.
    */
  def residualPqTopKRefined(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryVec: Seq[Double],
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover top-$k")
    val ids = residualPqTopKFromIndex(index, cents, cb, queryVec,
      shortlist, nProbe)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    exactRerank(embeddings, ids, queryVec, k)
  }

  /** BATCHED two-stage serving — the composition of the two
    * high-QPS waves: Q queries' ADC shortlists come from ONE pass
    * over the union of their probed cells ([[pqMultiTopKFromIndex]]
    * at depth `shortlist`), then ONE bounded fetch of the union of
    * all shortlisted float rows re-ranks every query (each scanned
    * candidate scores against every query's literal vector, rows
    * outside a query's own shortlist drop). Two scans total for the
    * whole batch — a Q-query refined workload against
    * [[pqTopKRefined]] would issue 2Q. Per-query results ≡ Q single
    * refined serves (the hash gate); zero-norm queries are absent.
    */
  def pqMultiTopKRefined(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook,
      queries: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    requireDistinctBatch(queries)
    require(shortlist >= k, s"shortlist $shortlist must cover top-$k")
    if (queries.length > literalMaxQ(index))
      return pqMultiTopKRefinedQT(index, embeddings, cents, cb,
        queriesToFrame(index.sparkSession, queries), k, nProbe,
        shortlist)
    val shortRows = pqMultiTopKFromIndex(index, cents, cb, queries,
      shortlist, nProbe)
      .select(col("query_id"), col("vec_id")).collect()
    val byQ: Map[Long, Set[Long]] = shortRows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val allIds = byQ.values.flatten.toSeq.distinct
    if (allIds.isEmpty)
      return embeddings.filter(lit(false))
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0.0).as("cos_sim"))
    val cand = embeddings.filter(col("vec_id").isin(allIds: _*))
    val entries = queries.filter(q => byQ.contains(q._1))
      .map { case (qid, qv) =>
        struct(lit(qid).as("query_id"),
          col("vec_id").isin(byQ(qid).toSeq: _*).as("m"),
          round(cosineFor(embeddings)(col("embedding"),
            typedlit(qv.toVector)), 4).as("s"))
      }
    import org.apache.spark.sql.expressions.Window
    cand
      .select(col("vec_id"), explode(array(entries: _*)).as("e"))
      .filter(col("e.m"))
      .select(col("e.query_id").as("query_id"), col("vec_id"),
        col("e.s").as("cos_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** Recall@k of the residual two-stage path — prices the re-rank
    * over the IVFADC store beside [[pqRefinedRecall]]'s raw-store
    * number: both saturate at the shared routing ceiling, so the
    * store choice (raw vs residual codes) washes out once a deep
    * enough shortlist re-ranks — the decision stays with the
    * residual-norm diagnostic, not the serving shape.
    */
  def residualPqRefinedRecall(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryIds: Seq[Long],
      k: Int, nProbe: Int, shortlist: Int): DataFrame =
    servingRecall(embeddings, queryIds, k)(qv =>
      residualPqTopKRefined(index, embeddings, cents, cb, qv, k, nProbe,
        shortlist))

  /** Recall@k of the two-stage (shortlist + exact re-rank) serving
    * path — the measurement that prices the re-rank stage: together
    * with [[pqRecall]] (the pure-ADC point) it separates what the
    * re-rank recovers (ADC loss — all of it, if `shortlist` is deep
    * enough) from what it cannot (coarse routing loss).
    */
  def pqRefinedRecall(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryIds: Seq[Long],
      k: Int, nProbe: Int, shortlist: Int): DataFrame =
    servingRecall(embeddings, queryIds, k)(qv =>
      pqTopKRefined(index, embeddings, cents, cb, qv, k, nProbe,
        shortlist))

  /** The SHORTLIST-DEPTH operating curve of [[pqRefinedRecall]] in
    * one evaluation: per-query recall@k at every depth in
    * `shortlists`, row-identical to |shortlists| separate
    * [[pqRefinedRecall]] runs unioned with a `shortlist` column
    * (SimilaritySpec pins the parity). Shares what the separate runs
    * recompute: ADC ranks by the total order (pq_sim desc, vec_id),
    * so ONE shortlist per query at the deepest depth prefixes every
    * shallower one exactly; ONE bounded float fetch per query
    * re-ranks all depths (membership in a depth = membership in its
    * prefix); and the corpus-wide exact baseline runs ONCE instead of
    * per depth. |queries| + 1 collects and |queries| served branches
    * where the composed form pays |queries| × |depths| of each.
    */
  def pqRefinedRecallCurve(index: DataFrame, embeddings: DataFrame,
      cents: Seq[Seq[Double]], cb: PqCodebook, queryIds: Seq[Long],
      k: Int, nProbe: Int, shortlists: Seq[Int]): DataFrame = {
    require(queryIds.nonEmpty, "recall eval needs at least one query id")
    require(shortlists.nonEmpty, "curve needs at least one depth")
    shortlists.foreach(r =>
      require(r >= k, s"shortlist $r must cover top-$k"))
    val maxR = shortlists.max
    val qvecs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector)
      .toMap
    val present = queryIds.filter(qvecs.contains)
    val approx = present.map { qid =>
      // ordered deepest shortlist; take(r) IS the depth-r shortlist
      val ids = pqTopKFromIndex(index, cents, cb, qvecs(qid), maxR,
        nProbe).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val cand =
        if (ids.isEmpty) embeddings.filter(lit(false))
        else embeddings.filter(col("vec_id").isin(ids: _*))
      val entries = shortlists.map { r =>
        val pref = ids.take(r)
        struct(lit(r).as("shortlist"),
          (if (pref.isEmpty) lit(false)
           else col("vec_id").isin(pref: _*)).as("m"))
      }
      import org.apache.spark.sql.expressions.Window
      cand
        .select(col("vec_id"),
          round(cosineFor(embeddings)(col("embedding"),
            typedlit(qvecs(qid).toVector)), 4).as("cos_sim"),
          explode(array(entries: _*)).as("e"))
        .filter(col("e.m"))
        // top-k within a depth by the exactRerank order — row_number
        // over (cos_sim desc, vec_id) ≡ orderBy(...).limit(k)
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
    multiQueryTopK(embeddings, queryIds, k)
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
    val b = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"),
        bucketExprFor(embeddings, hashMode)(col("embedding"), nPlanes)
          .as("bucket"))
      .persist()
    val result = b.as("l").join(b.as("r"),
        col("l.bucket") === col("r.bucket") &&
        col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        round(cosineFor(embeddings)(col("l.embedding"), col("r.embedding")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      // UNORDERED (pair lists are unbounded) — sort at the query edge
    new graft.Managed(result, Seq(b))
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
    val centLit = typedlit(cents)
    val assigned = embeddings
      // exclude zero-norm vectors BEFORE any cosine: under ANSI the
      // divide would throw (matching composed Divide), under non-ANSI
      // it nulls — filtering first gives the documented exclusion in
      // both modes, still narrow
      .filter(aggregate(asDouble(col("embedding")), lit(0.0),
        (acc, x) => acc + x * x) > 0)
      .withColumn("__scores",
        cellScoresFor(embeddings, centLit)(col("embedding")))
      .withColumn("cell", cellOf(col("__scores")))
      .drop("__scores")
      .filter(col("cell").isNotNull)
      .persist()
    new graft.Managed(semanticSurvivors(assigned)(threshold), Seq(assigned))
  }

  /** SemDeDup served from a written IVF index (see [[writeIvfIndex]]):
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
