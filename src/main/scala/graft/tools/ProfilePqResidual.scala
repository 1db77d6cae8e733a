package graft.tools

import org.apache.spark.sql.functions._

/** Raw-PQ vs residual-PQ recall@10 at the SAME (m, ksub) code budget
  * — the measurement that prices IVFADC-proper residual encoding
  * (Jégou et al. 2011, §III) against the raw-vector codes, per probe
  * width. Dev tool. Usage: runMain graft.tools.ProfilePqResidual [sfDir]
  */
object ProfilePqResidual {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables
    import graft.similarity.Similarity

    val emb = Tables.embeddings(spark, sfDir)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)

    for ((tag, cents) <- Seq(
        "seed" -> Similarity.seedCentroids(emb, 16),
        "lloyd" -> Similarity.ivfBuild(emb, 16, 2))) {
      // how much of the corpus the coarse quantizer explains — the
      // quantity residual encoding monetizes
      val rn = graft.similarity.Similarity
        .residualAssigned(emb, cents)
        .select(sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x * x)).as("rn"))
        .agg(avg(col("rn"))).head().getDouble(0)
      println(f"[pqres] $tag%-6s mean residual norm = $rn%.4f (unit-norm corpus)")

      val cbRaw = Similarity.pqBuild(emb, m = 8, ksub = 64, iterations = 2)
      val cbRes = Similarity.pqBuildResidual(emb, cents, m = 8, ksub = 64,
        iterations = 2)
      val rawDir = java.nio.file.Files.createTempDirectory("pq_raw").toString
      val resDir = java.nio.file.Files.createTempDirectory("pq_res").toString
      Similarity.writePqIndex(emb, cents, cbRaw, rawDir)
      Similarity.writeResidualPqIndex(emb, cents, cbRes, resDir)
      val rawIdx = spark.read.parquet(rawDir)
      val resIdx = spark.read.parquet(resDir)

      for (np <- Seq(1, 2, 4, 16)) {
        val raw = Similarity.pqRecall(rawIdx, emb, cents, cbRaw, qs, 10, np)
          .agg(avg(col("recall"))).head().getDouble(0)
        val res = Similarity.residualPqRecall(resIdx, emb, cents, cbRes,
          qs, 10, np)
          .agg(avg(col("recall"))).head().getDouble(0)
        println(f"[pqres] $tag%-6s nProbe=$np%-3d raw=$raw%.4f residual=$res%.4f")
      }
    }

    // the ksub lever: same m=8 code count, wider per-subspace books
    val cents = Similarity.seedCentroids(emb, 16)
    for (ks <- Seq(64, 128, 256)) {
      val cb = Similarity.pqBuild(emb, m = 8, ksub = ks, iterations = 2)
      val dir = java.nio.file.Files.createTempDirectory(s"pq_k$ks").toString
      Similarity.writePqIndex(emb, cents, cb, dir)
      val idx = spark.read.parquet(dir)
      val r = Similarity.pqRecall(idx, emb, cents, cb, qs, 10, 2)
        .agg(avg(col("recall"))).head().getDouble(0)
      val r16 = Similarity.pqRecall(idx, emb, cents, cb, qs, 10, 16)
        .agg(avg(col("recall"))).head().getDouble(0)
      println(f"[pqres] ksub=$ks%-4d nProbe=2 recall=$r%.4f  allcells=$r16%.4f")

      // the shortlist lever: ADC top-R shortlist, exact re-rank to 10
      for (shortlist <- Seq(20, 40, 80)) {
        val rec = qs.map { qid =>
          val q = emb.filter(col("vec_id") === qid)
            .select(col("embedding").cast("array<double>"))
            .head().getSeq[Double](0).toVector
          val short = Similarity.pqTopKFromIndex(idx, cents, cb, q,
            shortlist, 2).collect().map(_.getLong(0)).toSet
          val exact = Similarity.bruteForceTopK(emb, qid, 10)
            .collect().map(_.getLong(0)).toSet
          short.intersect(exact).size.toDouble / exact.size
        }.sum / qs.size
        println(f"[pqres] ksub=$ks%-4d nProbe=2 rerank R=$shortlist%-3d recall=$rec%.4f")
      }
    }
    spark.stop()
  }
}
