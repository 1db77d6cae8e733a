package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: record the PageRank per-round plan at a scaled-up dir —
  * the r7 verdict's ask that the edge-cache no-reshuffle property be
  * VISIBLE in a recorded plan at 10×, not just pinned at test scale.
  * Prints every exchange's partitioning expressions in one rank
  * round over the replica graph; the pass criterion is the PlanSpec
  * one — no exchange keys on src/dst (the adjacency cache is scanned
  * in place; only O(nodes) rank rows move).
  * Usage: runMain graft.tools.ScalePlan [sfxDir]
  */
object ScalePlan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sfx")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val e = orders.select(col("o_orderkey").as("src"),
        (col("o_orderkey") - col("o_orderkey") % 4).as("dst"))
      .unionByName(orders.select(
        (col("o_orderkey") - col("o_orderkey") % 4).as("src"),
        (col("o_orderkey") - col("o_orderkey") % 16).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dout"))
    val adj = e.join(deg, "src")
      .select(col("src"), col("dst"), col("dout"))
      .repartition(col("src")).persist()
    val n = adj.select(col("src")).union(adj.select(col("dst")))
      .distinct().count()
    val ranks = adj.select(col("src").as("node")).distinct()
      .withColumn("dangling", lit(false))
      .withColumn("rank", lit(1.0) / n)
    val round = graft.graph.PageRank.rankRound(adj, ranks, n.toDouble,
      0.85, 0.0)
    // walk the executed plan TREE (PlanSpec's method): the string
    // printer inlines the adjacency cache's one-time BUILD subtree
    // under InMemoryRelation — whose legitimate src shuffle is not a
    // per-round cost — while tree collection stops at the
    // InMemoryTableScan leaf
    def exchangesOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        exchangesOf(a.inputPlan)
      case other => other.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          e.outputPartitioning.toString
      }
    }
    val exchanges = exchangesOf(round.queryExecution.executedPlan)
    println(s"[scaleplan] nodes=$n edges(cached adjacency)=${adj.count()}")
    println(s"[scaleplan] per-round exchanges at this scale " +
      "(cache build subtree excluded):")
    exchanges.foreach(x => println(s"[scaleplan]   $x"))
    val onEdges = exchanges.exists(x => x.contains("src") || x.contains("dst"))
    println(s"[scaleplan] exchange on edge side: $onEdges (want false)")
    adj.unpersist()
    spark.stop()
  }
}
