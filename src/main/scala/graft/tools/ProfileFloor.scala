package graft.tools

/** Orchestration-floor decomposition: for a few representative
  * queries, split wall time into plan construction, analysis+
  * optimization, physical planning, and execution — so floor work
  * aims at the phase that actually costs (VERDICT r4 next-round #6).
  * Dev tool, driver-invoked by hand; not part of Bench/Verify.
  */
object ProfileFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_health", "q_point_lookup", "q_text_stats",
        "q_simhash_neardup", "q_search_bm25", "q_segment_dedup")
    // warm codegen/JIT once
    names.foreach(n => graft.SparkEntry.queries(n)(spark, sfDir).count())
    spark.catalog.clearCache()
    names.foreach { n =>
      var best = Array.fill(4)(Double.MaxValue)
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.optimizedPlan // analysis + optimization
        val t2 = System.nanoTime()
        df.queryExecution.executedPlan // physical planning
        val t3 = System.nanoTime()
        df.count()
        val t4 = System.nanoTime()
        val phases = Array(t1 - t0, t2 - t1, t3 - t2, t4 - t3).map(_ / 1e6)
        best = best.zip(phases).map { case (a, b) => math.min(a, b) }
        spark.catalog.clearCache()
      }
      println(f"$n%-22s build=${best(0)}%8.1f ms  opt=${best(1)}%8.1f ms " +
        f"phys=${best(2)}%8.1f ms  exec=${best(3)}%8.1f ms")
    }
    spark.stop()
  }
}
