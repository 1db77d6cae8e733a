package graft.tools

import org.apache.spark.sql.functions._

/** Stage decomposition of the curation tokens-pass PREFIX (the
  * per-doc projection before the bigram explode): which expression
  * carries the scan cost. Dev tool.
  * Usage: runMain graft.tools.ProfilePrefix [sfDir]
  */
object ProfilePrefix {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables
    import graft.textanalysis.TextAnalysis
    import graft.functions.TextFunctions.words

    def minOf3(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      var best = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[prefix] $name%-40s min $best%7.2f s")
    }
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 101 =!= 7)
    docs.count()
    val ng = TextAnalysis.ngramsFor(docs) _

    minOf3("scan+split only")(docs
      .select(col("doc_id"), size(words(col("text"))).as("n")))
    minOf3("+ bigram array (native)")(docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"), size(ng(col("__ws"), 2)).as("nb")))
    minOf3("+ trigram array (native)")(docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"), size(ng(col("__ws"), 3)).as("nt")))
    minOf3("+ trigram distinct (array_distinct)")(docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"),
        size(array_distinct(ng(col("__ws"), 3))).as("nd")))
    minOf3("full prefix (as flaggedInternal)")(docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"), col("__ws"), ng(col("__ws"), 3).as("__tg"))
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        size(col("__tg")).cast("long").as("n_trigrams"),
        size(array_distinct(col("__tg"))).cast("long").as("n_distinct_tg"),
        element_at(col("__ws"), -1).as("tail"),
        ng(col("__ws"), 2).as("__bg")))
    minOf3("full tokens pass (persist+count shape)")(docs
      .select(col("doc_id"), words(col("text")).as("__ws"))
      .select(col("doc_id"), col("__ws"), ng(col("__ws"), 3).as("__tg"))
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        size(col("__tg")).cast("long").as("n_trigrams"),
        size(array_distinct(col("__tg"))).cast("long").as("n_distinct_tg"),
        element_at(col("__ws"), -1).as("tail"),
        ng(col("__ws"), 2).as("__bg"))
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_trigrams"),
        col("n_distinct_tg"), col("tail"),
        explode_outer(col("__bg")).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"),
        max(col("n_words")).as("n_words"),
        max(col("n_trigrams")).as("n_trigrams"),
        max(col("n_distinct_tg")).as("n_distinct_tg"),
        max(col("tail")).as("tail")))
    spark.stop()
  }
}
