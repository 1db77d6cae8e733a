package graft.tools

import org.apache.spark.sql.functions._

/** Dev profiler for the q_triangles HONEST cost (the round-9 finding:
  * count() prunes the entire triangle subtree because the per-node
  * rollup is a unique-keyed left-join branch — the honest
  * full-output run is 2.8× the count-mode number). Decomposes the
  * current 2-path-join plan into stages and times a sorted-adjacency
  * intersect prototype against it.
  * Usage: runMain graft.tools.ProfileTriangles <sfDir>
  */
object ProfileTriangles {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-44s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def honest(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    spark.range(1000000L).selectExpr("sum(id)").collect()

    val g = graft.Tables.orders(spark, sfDir)
      .select((col("o_orderkey") - col("o_orderkey") % 4).as("g"))
    def edges = g.select(col("g").as("s"), (col("g") + 1).as("t"))
      .union(g.select((col("g") + 1).as("s"), (col("g") + 2).as("t")))
      .union(g.select(col("g").as("s"), (col("g") + 2).as("t")))
      .union(g.select(col("g").as("s"), (col("g") - col("g") % 16).as("t")))
      .union(g.select((col("g") + 2).as("s"), (col("g") + 1000000000L).as("t")))
      .union(g.select((col("g") + 1000000000L).as("s"),
        (col("g") + 2000000000L).as("t")))

    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      val und = edges
        .filter(col("s").isNotNull && col("t").isNotNull &&
          col("s") =!= col("t"))
        .select(least(col("s"), col("t")).as("u"),
          greatest(col("s"), col("t")).as("v"))
        .distinct()
      time("und count")(und.count())
      val deg = und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      time("deg honest")(honest(deg))

      val withDeg = und
        .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
      def rankLt(da: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column,
          db: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        da < db || (da === db && a < b)
      val uLower = rankLt(col("du"), col("u"), col("dv"), col("v"))
      val oriented = withDeg.select(
        when(uLower, col("u")).otherwise(col("v")).as("src"),
        when(uLower, col("v")).otherwise(col("u")).as("dst"),
        when(uLower, col("dv")).otherwise(col("du")).as("dd"))
      time("oriented honest")(honest(oriented))

      val o1 = oriented.select(col("src"), col("dst").as("a"), col("dd").as("da"))
      val o2 = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
      val paths = o1.join(o2, Seq("src"))
        .filter(rankLt(col("da"), col("a"), col("db"), col("b")))
        .select(col("src").as("s"), col("a"), col("b"))
      time("2-paths honest")(honest(paths))
      val triangles = paths.join(oriented,
        paths("a") === oriented("src") && paths("b") === oriented("dst"))
        .select(col("s"), col("a"), col("b"))
      time("triangles honest")(honest(triangles))

      val triPerNode = triangles
        .select(explode(array(col("s"), col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      time("triPerNode honest")(honest(triPerNode))
      val joined = deg.join(triPerNode, Seq("node"), "left")
        .select(col("node"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"))
      time("left join honest (no sort)")(honest(joined))
      val withClustering = joined.withColumn("clustering",
        when(col("degree") >= 2,
          expr("(2 * triangles * 20000 + degree * (degree - 1)) div " +
            "(2 * degree * (degree - 1))") / lit(10000.0))
          .otherwise(lit(0.0)))
      time("clustering honest (no sort)")(honest(withClustering))
      time("q_triangles full honest")(honest(
        graft.graph.Triangles.triangleStats(edges, "s", "t")))

      // prototype: sorted out-adjacency + per-edge merge intersect
      val adj = oriented.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      time("adjacency honest")(honest(adj))
      val tri2 = oriented
        .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
        .select(col("src"), col("dst"),
          size(array_intersect(col("nu"), col("nv"))).as("nw"))
      time("adj-intersect per-edge honest")(honest(tri2))
      time("adj-intersect total")(
        println("  n_triangles = " + tri2.agg(sum(col("nw"))).head().get(0)))
    }
    spark.stop()
  }
}
