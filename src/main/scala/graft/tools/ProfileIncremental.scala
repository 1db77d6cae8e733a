package graft.tools

import org.apache.spark.sql.functions._

/** Decompose q_dedup_incremental wall time: one-time signature-index
  * build (the sigIndexCache localCheckpoint) vs the per-increment
  * probe — the r7 verdict's #1 ask (3.09 s driver tail in the round
  * that de-shuffled the probe).
  * Usage: runMain graft.tools.ProfileIncremental <sfDir>
  */
object ProfileIncremental {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "firstCopy" limits the batch to the replica's copy-0 ids — the
    // constant-batch / K×-index serving measurement (a ScaleUp
    // replica batch would otherwise scale WITH the corpus and its
    // K² twin-pair volume measures duplication, not scale)
    val firstCopyOnly = args.lift(1).contains("firstCopy")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.dedup.Dedup

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-44s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()

    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val ws = split(col("text"), " ", -1)
    val batchBase =
      if (firstCopyOnly) docs.filter(col("doc_id") < 1000000000L)
      else docs
    val newBatch = batchBase.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1)))).as("text"))

    (1 to 3).foreach { pass =>
      println(s"--- pass $pass ---")
      val index = time("index build (sign + localCheckpoint)") {
        Dedup.minhashSignatures(docs, "doc_id", "text", hashMode = "md5")
          .localCheckpoint(true)
      }
      time("probe: distributed dedupIncrement") {
        Dedup.dedupIncrement(newBatch, index, "doc_id", "text",
          hashMode = "md5", smallBatchRows = 0)
          .select(col("doc_id")).orderBy(col("doc_id")).count()
      }
      time("probe: fast-path dedupIncrement") {
        Dedup.dedupIncrement(newBatch, index, "doc_id", "text",
          hashMode = "md5")
          .select(col("doc_id")).orderBy(col("doc_id")).count()
      }
      val pairs = Dedup.incrementalNearDuplicatesManaged(newBatch, index,
        "doc_id", "text", hashMode = "md5", smallBatchRows = 0)
      time("probe: distributed pairs only (managed)") { pairs.df.count() }
      pairs.release()
      index.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
