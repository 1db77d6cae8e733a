package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: print the formatted physical plan of the DSIR training
  * count aggregation (the gram-bucket hot path) — the receipt for the
  * DsirBuckets expression swap. The declared query plans embed only
  * the trained weights literal, so the train-side plan needs its own
  * receipt. Usage: runMain graft.tools.ExplainDsirCounts [sfDir]
  */
object ExplainDsirCounts {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val docs = graft.Tables.documents(spark, sfDir)
    println("=== FORMATTED PLAN: dsir bucketCounts (train hot path) ===")
    graft.selection.Dsir.bucketCounts(docs, 1024).explain("formatted")
    println("=== END PLAN ===")
    spark.stop()
  }
}
