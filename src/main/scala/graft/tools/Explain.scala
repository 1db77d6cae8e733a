package graft.tools

/** Dev tool: print the formatted physical plan of one SparkEntry query.
  * Usage: runMain graft.tools.Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    def usage(): Nothing = {
      System.err.println("usage: runMain graft.tools.Explain <queryName> [sfDir]")
      System.err.println("queries: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val name = args.headOption.getOrElse(usage())
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val fn = graft.SparkEntry.queries.getOrElse(name, {
      System.err.println(s"unknown query: $name"); usage()
    })
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val df = fn(spark, sfDir)
    println("=== FORMATTED PLAN: " + name + " ===")
    df.explain("formatted")
    println("=== END PLAN ===")
    spark.stop()
  }
}
