package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: decompose the staged community-assignment serve cost at
  * a given dir (base SF or the ScaleUp replica) — which stage carries
  * the 10× slope: the bucketed vote join, the vote aggregations, the
  * probe-nodes join, or the output sort.
  * Usage: runMain graft.tools.ProfileAssign [dir]
  */
object ProfileAssign {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sfx")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.graph.Communities

    def minOf3(label: String)(f: => Long): Unit = {
      var best = Double.MaxValue
      var rows = 0L
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        rows = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[assign] $label%-44s rows=$rows%-9d min $best%7.3f s")
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val o = orders.select(col("o_orderkey").as("k"),
      (col("o_orderkey") - col("o_orderkey") % 4).as("g"))
    val attached = o.filter(col("k") % 5 =!= 2)
    val lonely = o.filter(col("k") % 5 === 2)
    val pedges = attached
      .select((col("k") + 3000000000L).as("s"), col("g").as("t"))
      .unionByName(attached.select((col("k") + 3000000000L).as("s"),
        (col("g") + 1).as("t")))
      .unionByName(lonely.select((col("k") + 3000000000L).as("s"),
        (col("k") + 4000000000L).as("t")))
    val nodes = o.select((col("k") + 3000000000L).as("node"))

    val t0 = System.nanoTime()
    val labels = Communities.labelPropagation(
      orders.select(col("o_orderkey").as("s"),
        (col("o_orderkey") - col("o_orderkey") % 4).as("t"))
        .unionByName(orders.select(
          (col("o_orderkey") - col("o_orderkey") % 4).as("s"),
          (col("o_orderkey") - col("o_orderkey") % 16).as("t"))),
      "s", "t", rounds = 4)
    Communities.writeCommunityLabelsBucketed(labels, "p_lab")
    println(f"[assign] labels build+bucket           ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    val t1 = System.nanoTime()
    Communities.stageAssignmentEdges(pedges, "s", "t", "p_edg")
    println(f"[assign] edges stage                   ${(System.nanoTime() - t1) / 1e9}%7.3f s")

    val sym = spark.table("p_edg")
    val lab = spark.table("p_lab")
      .select(col("node").as("v"), col("community").as("l"))
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
      Communities.assignFromStaged(nodes, "p_edg", "p_lab")
        .queryExecution.toRdd.count())

    spark.sql("DROP TABLE IF EXISTS p_edg")
    spark.sql("DROP TABLE IF EXISTS p_lab")
    spark.stop()
  }
}
