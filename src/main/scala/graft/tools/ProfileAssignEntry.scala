package graft.tools

/** Dev tool: time SparkEntry's q_communities_probe exactly as Bench
  * does (same session knobs), printing per-pass times and the final
  * executed plan — for diagnosing Bench-vs-ProfileAssign divergence.
  * Usage: runMain graft.tools.ProfileAssignEntry [dir]
  */
object ProfileAssignEntry {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sfx")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries("q_communities_probe")
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      df.queryExecution.toRdd.count()
      println(f"[assignentry] pass $i  ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      if (i == 4 && sys.env.contains("ASSIGN_PLAN"))
        println(df.queryExecution.executedPlan.toString)
      spark.catalog.clearCache()
    }
    // decomposition under the SAME session conf: the staged tables
    // exist after pass 1 (SparkEntry's builtTable names)
    import org.apache.spark.sql.functions._
    val tables = spark.catalog.listTables().collect().map(_.name)
    val edgT = tables.find(_.startsWith("graft_lpa_pedges")).get
    val labT = tables.find(_.startsWith("graft_lpa_blabels")).get
    def minOf3(label: String)(f: => Long): Unit = {
      var best = Double.MaxValue
      var rows = 0L
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        rows = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[assignentry] $label%-36s rows=$rows%-9d min $best%7.3f s")
    }
    val sym = spark.table(edgT)
    val lab = spark.table(labT)
      .select(col("node").as("v"), col("community").as("l"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val nodes = orders.select((col("o_orderkey") + 3000000000L).as("node"))
    minOf3("scan staged edges")(sym.queryExecution.toRdd.count())
    minOf3("vote join only")(
      sym.hint("merge").join(lab, Seq("v")).queryExecution.toRdd.count())
    minOf3("join + repartition + both aggs") {
      sym.hint("merge").join(lab, Seq("v"))
        .repartition(col("u"))
        .groupBy(col("u"), col("l")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
        .queryExecution.toRdd.count()
    }
    minOf3("nodes distinct only")(
      nodes.select(col("node")).distinct().queryExecution.toRdd.count())
    minOf3("full assignFromStaged")(
      graft.graph.Communities.assignFromStaged(nodes, edgT, labT)
        .queryExecution.toRdd.count())
    spark.stop()
  }
}
