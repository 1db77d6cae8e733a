package graft.tools

/** Dev profiler: SemDeDup wall time as cell count scales with the
  * corpus — the experiment behind the scaling-table note that the
  * per-cell quadratic is governed by nCells ∝ corpus (the paper's
  * contract), not an accident of the operator.
  * Usage: runMain graft.tools.ProfileSemdedup [sfDir nCells]
  */
object ProfileSemdedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val cells = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm
    val cents = graft.similarity.Similarity.ivfBuild(e, cells)
    (1 to 2).foreach { pass =>
      val t0 = System.nanoTime()
      val n = graft.similarity.Similarity.semanticDuplicates(e, cents, 0.999)
        .count()
      println(f"[semdedup] pass $pass cells=$cells survivors=$n " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
