package graft.tools

/** Dev tool: run one SparkEntry query to completion and print the
  * FINAL adaptive physical plan — `Explain` shows the initial plan
  * (isFinalPlan=false), which hides AQE's runtime join conversions
  * and coalescing. Usage: runMain graft.tools.ExplainExecuted <query> [sfDir]
  */
object ExplainExecuted {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("query name required"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.count()
    println(s"=== EXECUTED PLAN: $name @ $sfDir ===")
    println(df.queryExecution.executedPlan.toString)
    println("=== END PLAN ===")
    spark.stop()
  }
}
