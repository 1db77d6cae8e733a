package graft.tools

import org.apache.spark.sql.functions._

/** The large-tombstone receipt (round-15 verdict #7): serve cost of
  * the anti-join under a GENUINELY large erasure set (~10⁶ ids, the
  * right-to-be-forgotten year) on both sides of the
  * [[graft.Frames.hintTombstones]] budget — the broadcast path (the
  * set fits the 64 MB on-disk default) and the forced shuffle
  * fallback (0-budget override), against the no-tombstone baseline.
  * What the spec pins row-identical, this prices.
  *
  * Usage: runMain graft.tools.ProfileTombstones [sfDir]
  */
object ProfileTombstones {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables
    import graft.similarity.Similarity

    def minOf3(label: String)(f: => Long): Unit = {
      var best = Double.MaxValue; var rows = 0L
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        rows = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[tombstones] $label%-38s rows=$rows%-7d min $best%7.3f s")
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 16)
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toVector
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tomb").toString + "/idx"
    Similarity.writeIvfIndex(emb, cents, dir)

    minOf3("serve, no tombstones") {
      Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(spark, dir),
        cents, qv, 10, 2).count()
    }
    // a year of erasure: 10⁶ tombstone ids (mostly long-gone vectors
    // plus a handful of live ones — the anti-join cost is id-volume-
    // driven either way), written through the real delete layout
    spark.range(1000000L)
      .select((col("id") + 10000000L).as("vec_id"))
      .union(emb.select(col("vec_id")).limit(100))
      .withColumn("batch_id", lit("del-999"))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir + "/_tombstones")
    val tombBytes = {
      val p = new org.apache.hadoop.fs.Path(dir + "/_tombstones")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    println(f"[tombstones] on-disk erasure set: $tombBytes%d bytes " +
      f"(budget default ${64L << 20}%d)")
    minOf3("serve, 1e6 tombstones BROADCAST") {
      Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(spark, dir),
        cents, qv, 10, 2).count()
    }
    spark.conf.set("spark.graft.tombstoneBroadcastBudget", "0")
    minOf3("serve, 1e6 tombstones SHUFFLE") {
      Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(spark, dir),
        cents, qv, 10, 2).count()
    }
    spark.conf.unset("spark.graft.tombstoneBroadcastBudget")
    spark.stop()
  }
}
