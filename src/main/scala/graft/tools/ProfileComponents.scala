package graft.tools

/** Dev profiler for the iterative clustering queries: per-round
  * timings (GRAFT_CC_DEBUG) + warm repeats, so optimization targets
  * the measured round cost, not guesses.
  * Usage: runMain graft.tools.ProfileComponents [sfDir]
  */
object ProfileComponents {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $label%-24s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    (1 to 3).foreach { pass =>
      println(s"--- pass $pass ---")
      Seq("q_components", "q_dedup_clusters", "q_dedup_survivors").foreach { q =>
        time(q)(graft.SparkEntry.queries(q)(spark, sfDir).count())
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
