package graft.tools

import org.apache.spark.sql.functions._

/** A/B of the curation token-artifact build: exchange AFTER the
  * bigram explode (per-exploded-row shuffle with stat columns
  * duplicated onto every row) vs BEFORE it (doc-sized rows move
  * once, the (doc_id, gram) aggregation is then partition-local).
  * Usage: runMain graft.tools.ProfileTokens [sfDir]
  */
object ProfileTokens {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    import graft.Tables
    import graft.textanalysis.TextAnalysis
    import graft.functions.TextFunctions.words

    def minOf3(name: String)(f: => Long): Unit = {
      var best = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        f
        spark.catalog.clearCache()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[tokens] $name%-34s min $best%7.2f s")
    }
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 101 =!= 7)
    docs.count()

    def prefix = docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"), col("__ws"),
        TextAnalysis.ngrams(col("__ws"), 3).as("__tg"))
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        size(col("__tg")).cast("long").as("n_trigrams"),
        size(array_distinct(col("__tg"))).cast("long").as("n_distinct_tg"),
        element_at(col("__ws"), -1).as("tail"),
        TextAnalysis.ngrams(col("__ws"), 2).as("__bg"))

    minOf3("A: explode then groupBy exchange") {
      val t = prefix
        .select(col("doc_id"), col("n_words"), col("n_trigrams"),
          col("n_distinct_tg"), col("tail"),
          explode_outer(col("__bg")).as("gram"))
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("cnt"),
          max(col("n_words")).as("n_words"),
          max(col("n_trigrams")).as("n_trigrams"),
          max(col("n_distinct_tg")).as("n_distinct_tg"),
          max(col("tail")).as("tail"))
        .persist()
      t.count()
    }
    minOf3("B: repartition(doc) then local agg") {
      val t = prefix
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_trigrams"),
          col("n_distinct_tg"), col("tail"),
          explode_outer(col("__bg")).as("gram"))
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("cnt"),
          max(col("n_words")).as("n_words"),
          max(col("n_trigrams")).as("n_trigrams"),
          max(col("n_distinct_tg")).as("n_distinct_tg"),
          max(col("tail")).as("tail"))
        .persist()
      t.count()
    }
    spark.stop()
  }
}
