package graft.tools

import org.apache.spark.sql.functions._

/** Stage decomposition of the curation REPORT's honest cost at bench
  * scale — where the honest-vs-count divergence lives. Dev tool.
  * Usage: runMain graft.tools.ProfileReport [sfDir]
  */
object ProfileReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    import graft.Tables
    import graft.curation.Curation
    import graft.dedup.Dedup

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[report] $name%-40s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 101 === 7)
    val corp = docs.filter(col("doc_id") % 101 =!= 7)
      .select(col("doc_id"), col("source"), col("text"))
    corp.count(); bench.count()

    for (r <- 1 to 2) {
      println(s"--- round $r ---")
      time("report honest (toRdd)") {
        Curation.curationReport(corp, bench).queryExecution.toRdd.count()
      }
      time("report count-mode") {
        Curation.curationReport(corp, bench).count()
      }
      spark.catalog.clearCache()
      // the capstone the report is compared against (r11 verdict #6):
      // if report-minus-LM ≈ capstone-minus-LM, the report sits at
      // the shared LM-token-pass floor and there is nothing left to
      // serve from an artifact
      time("capstone curate honest (toRdd)") {
        Curation.curate(corp, bench).queryExecution.toRdd.count()
      }
      spark.catalog.clearCache()
      time("LM token pass alone (count)") {
        val m = Curation.getClass.getDeclaredMethods
          .find(_.getName == "flaggedInternal").get
        m.setAccessible(true)
        val (_, tokens) = m.invoke(Curation, corp, bench,
          Double.box(10.0), Double.box(0.4))
          .asInstanceOf[(org.apache.spark.sql.DataFrame,
            org.apache.spark.sql.DataFrame)]
        tokens.count()
      }
      spark.catalog.clearCache()
      // decomposed: rebuild the slim frame by hand
      val flagged = time("flagged eval alone (count)") {
        val m = Curation.getClass.getDeclaredMethods
          .find(_.getName == "flaggedInternal").get
        m.setAccessible(true)
        val (f, _) = m.invoke(Curation, corp, bench,
          Double.box(10.0), Double.box(0.4))
          .asInstanceOf[(org.apache.spark.sql.DataFrame,
            org.apache.spark.sql.DataFrame)]
        f.count()
        f
      }
      val slim = time("slim persist (fresh)") {
        val s = flagged.select(col("doc_id"), col("source"), col("__dk"),
            col("repetitive"), col("contaminated"), col("unusual"))
          .persist()
        s.count()
        s
      }
      val passes = !col("repetitive") && !col("contaminated") && !col("unusual")
      time("gates rollup from slim") {
        slim.groupBy(col("source")).agg(
          count(lit(1)).as("docs_in"),
          count(when(col("repetitive"), 1)).as("n_repetitive"),
          count(when(passes, 1)).as("n_passed")).count()
      }
      time("survivors rollup from slim") {
        slim.filter(passes)
          .repartition(32, col("__dk"))
          .groupBy(col("__dk"))
          .agg(min(struct(col("doc_id"), col("source"))).as("__w"))
          .groupBy(col("__w.source").as("source"))
          .agg(count(lit(1)).as("n_kept")).count()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
