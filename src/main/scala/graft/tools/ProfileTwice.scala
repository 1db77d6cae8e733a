package graft.tools

/** Dev tool: run one SparkEntry query twice in one session (cache
  * cleared between runs, like Bench passes) and print both wall
  * times — distinguishes build-once serving artifacts from per-run
  * cost. Usage: runMain graft.tools.ProfileTwice <query> [sfDir]
  */
object ProfileTwice {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("query name required"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[twice] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
