package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: sub-step timing of the memorization family — isolates
  * where q_memorized_grams' cost lives relative to q_memorization
  * (same gram table, 20× apart in the first profile).
  * Usage: runMain graft.tools.ProfileMemorization [sfDir]
  */
object ProfileMemorization {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.textanalysis.TextAnalysis
    val docs = graft.Tables.documents(spark, sfDir)

    def time(label: String)(f: => Long): Unit = {
      var best = Double.MaxValue
      var n = 0L
      for (_ <- 1 to 3) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        n = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[mem] $label%-28s $best%6.2f s  rows=$n")
    }

    // warm
    TextAnalysis.memorizedTopGrams(docs, 5, 20).count()
    TextAnalysis.memorizationStats(docs, 5).count()

    val dg = docs
      .select(col("doc_id"),
        explode(TextAnalysis.ngramsFor(docs)(graft.functions.TextFunctions.words(
          col("text")), 5)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    time("explode only")(
      docs.select(col("doc_id"),
        explode(TextAnalysis.ngramsFor(docs)(graft.functions.TextFunctions.words(
          col("text")), 5)).as("g")).count())
    time("explode+proj count")(
      docs.select(col("doc_id"),
        explode(TextAnalysis.ngramsFor(docs)(graft.functions.TextFunctions.words(
          col("text")), 5)).as("g"))
        .select(count(lit(1))).collect().head.getLong(0))
    time("dg (per-doc gram counts)")(dg.count())
    time("dg agg-collect")(
      dg.select(count(lit(1))).collect().head.getLong(0))
    time("gd (per-gram doc counts)")(
      dg.groupBy(col("g")).agg(count(lit(1)).as("nd")).count())
    time("top20 no-sort (agg only)")(
      dg.groupBy(col("g"))
        .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occurrences"))
        .filter(col("n_docs") >= 2).count())
    time("memorizedTopGrams full")(
      TextAnalysis.memorizedTopGrams(docs, 5, 20).count())
    time("memorizationStats count()")(
      TextAnalysis.memorizationStats(docs, 5).count())
    // count() builds a count(1) aggregate whose optimization DROPS
    // the left-join agg branch entirely (distinct-keys propagation +
    // outer-join elimination) — toRdd materializes the real output
    time("memorizationStats toRdd")(
      TextAnalysis.memorizationStats(docs, 5).queryExecution.toRdd.count())
    time("memorizationProbe toRdd") {
      val idx = TextAnalysis.memorizationIndex(
        docs.filter(col("doc_id") % 4 =!= 0), 5)
      TextAnalysis.memorizationProbe(docs.filter(col("doc_id") % 4 === 0),
        idx, 5).queryExecution.toRdd.count()
    }
    spark.stop()
  }
}
