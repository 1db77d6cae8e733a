package graft.tools

/** A/B the adaptive-execution orchestration cost on the iterative /
  * multi-stage queries that sit on the documented ~0.3 s/stage floor:
  * same session, `spark.sql.adaptive.enabled` flipped per pass (it is
  * a runtime conf). AQE is load-bearing at cluster scale (skew joins,
  * runtime coalesce); this measures what its per-stage re-planning
  * costs at TEST scale so the floor discussion rests on a number,
  * not a hunch.
  *
  * NOTE: queries already wrapped in `SparkEntry.withAqeOff`
  * (q_dedup_incremental, q_bpe_merges) force AQE off INTERNALLY, so
  * for them both passes measure the off path and off/on ≈ 1.00 —
  * that reading confirms the wrapper engaged; the 2.0×/1.3× ratios
  * in BUILD_NOTES were measured before the wrap. To re-measure a
  * wrapped query's true A/B, call its OPERATOR directly.
  * Usage: runMain graft.tools.ProfileAqe [sfDir] [q1,q2,...]
  */
object ProfileAqe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1)
      .map(_.split(",").toSeq)
      .getOrElse(Seq("q_components", "q_components_star", "q_pagerank",
        "q_dedup_incremental", "q_curation_pipeline", "q_bpe_merges"))
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    def run(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      // stop the clock BEFORE the cache clear — the clear is
      // inter-measurement hygiene, not part of the query's cost
      val t1 = System.nanoTime()
      spark.catalog.clearCache()
      (t1 - t0) / 1e9
    }
    // warm both code paths
    names.foreach { n =>
      spark.conf.set("spark.sql.adaptive.enabled", "true"); run(n)
      spark.conf.set("spark.sql.adaptive.enabled", "false"); run(n)
    }
    names.foreach { n =>
      var on = Double.MaxValue
      var off = Double.MaxValue
      for (_ <- 1 to 3) {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        on = math.min(on, run(n))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off = math.min(off, run(n))
      }
      println(f"[aqe] $n%-24s on=$on%6.2f s  off=$off%6.2f s  off/on=${off / on}%5.2f")
    }
    spark.stop()
  }
}
