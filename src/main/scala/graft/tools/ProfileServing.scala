package graft.tools

import org.apache.spark.sql.functions._

/** Constant-query vs K×-index serving measurement for the WRITTEN
  * index artifacts — the ProfileIncremental methodology applied to
  * BM25 and IVF/PQ: the serving-relevant scaling question is "the
  * corpus grew 10×, my query didn't — what does the probe cost now",
  * not "10× corpus, 10× queries". Index BUILD is expected ~linear
  * (it scans the corpus once); the PROBE should be bounded by the
  * touched partitions (BM25: the query terms' bucket directories;
  * IVF/PQ: nProbe cell directories), not the index size.
  *
  * Requires the ScaleUp replica (runMain graft.tools.ScaleUp first).
  * Usage: runMain graft.tools.ProfileServing [sfDir replicaDir]
  */
object ProfileServing {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicaDir = args.lift(1).getOrElse("/tmp/graft_sfx")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables
    import graft.ops.SearchOps
    import graft.similarity.Similarity

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def minOf3(label: String)(f: => Long): Unit = {
      var best = Double.MaxValue
      var rows = 0L
      (1 to 3).foreach { _ =>
        val (n, s) = time(label)(f)
        rows = n
        best = math.min(best, s)
      }
      println(f"[serving] $label%-40s rows=$rows%-6d min $best%7.3f s")
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()
    // constant model + query, derived from the BASE corpus only
    val cents = Similarity.seedCentroids(Tables.embeddings(spark, sfDir), 16)
    val qv = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toVector

    Seq("base" -> sfDir, "10x" -> replicaDir).foreach { case (label, dir) =>
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_serving_$label").toString

      val (_, tb) = time("build") {
        SearchOps.writeBm25Index(docs, s"$tmp/bm25")
      }
      println(f"[serving] bm25 index build ($label)  $tb%7.3f s")
      minOf3(s"bm25 probe ($label)") {
        SearchOps.searchBm25FromIndex(spark, s"$tmp/bm25",
          Seq("merge", "query"), 10).count()
      }

      val (_, ti) = time("build") {
        Similarity.writeIvfIndex(emb, cents, s"$tmp/ivf")
      }
      println(f"[serving] ivf index build ($label)  $ti%7.3f s")
      minOf3(s"ivf probe ($label)") {
        Similarity.ivfTopKFromIndex(spark.read.parquet(s"$tmp/ivf"),
          cents, qv, 10, 2).count()
      }

      val (_, tq) = time("build") {
        Similarity.writeQuantizedIvfIndex(emb, cents, s"$tmp/qivf")
      }
      println(f"[serving] qivf index build ($label)  $tq%7.3f s")
      minOf3(s"qivf probe ($label)") {
        Similarity.quantizedTopKFromIndex(
          spark.read.parquet(s"$tmp/qivf"), cents, qv, 10, 2).count()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
