package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: print the physical plan of ONE LPA vote round over a
  * checkpointed hash(u) edge layout — verifies the round-16 claim
  * that the pre-partitioned sym makes both vote aggregations
  * partition-local (no Exchange) while labels broadcast.
  */
object ExplainLpaRound {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val orders = graft.Tables.orders(spark, sfDir)
    val g = orders.select((col("o_orderkey") - col("o_orderkey") % 4).as("g"))
    val e = g.select(col("g").as("u"), (col("g") + 1).as("v"))
      .union(g.select(col("g").as("u"), (col("g") + 2).as("v")))
      .distinct()
    val width = spark.sessionState.conf.numShufflePartitions
    // arg 2: "old" reproduces the pre-round-16 layout (plain
    // localCheckpoint, no repartition) for before/after plan receipts
    val old = args.lift(1).contains("old")
    val sym0 = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val sym =
      if (old) sym0.localCheckpoint(true)
      else sym0.repartition(width, col("u")).persist()
    sym.count()
    println("=== cached sym partitioning ===")
    println(sym.queryExecution.executedPlan.outputPartitioning)
    val labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    println("=== labels init plan (should have no Exchange) ===")
    sym.select(col("u").as("node")).distinct().explain("formatted")
    val next = sym
      .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
      .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("u").as("node"), (-col("m.nl")).as("label"))
    println("=== one vote round ===")
    next.explain("formatted")
    spark.stop()
  }
}
