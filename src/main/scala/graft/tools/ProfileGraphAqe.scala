package graft.tools

/** Dev experiment: the iterative graph operators' round loops under
  * AQE on vs off. Post round-16/17 the broadcast-regime round plans
  * are fully pre-sized (pinned width, explicit broadcast/merge hints,
  * zero per-round exchange), so AQE's per-stage materialization jobs
  * and re-planning loop may be pure overhead — the same measurement
  * ProfileAqe made for the bounded increment probes.
  * Usage: runMain graft.tools.ProfileGraphAqe [sfDir]
  */
object ProfileGraphAqe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val names = Seq("q_pagerank", "q_communities", "q_kcore", "q_components")
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    def pass(label: String): Unit =
      names.foreach { n =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).count()
        val t1 = System.nanoTime()
        spark.catalog.clearCache()
        println(f"[aqe] $label $n%-16s ${(t1 - t0) / 1e9}%7.3f s")
      }
    // interleave on/off passes so rig drift can't masquerade as signal
    (1 to 3).foreach { p =>
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      pass(s"pass$p on ")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      pass(s"pass$p off")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    spark.stop()
  }
}
