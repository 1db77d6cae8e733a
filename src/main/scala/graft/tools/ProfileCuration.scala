package graft.tools

import org.apache.spark.sql.functions._

/** Stage decomposition of the curation capstone at bench scale —
  * which part of the fused design costs. Dev tool.
  */
object ProfileCuration {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables
    import graft.textanalysis.TextAnalysis
    import graft.functions.TextFunctions.words

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 101 === 7)
    val corp = docs.filter(col("doc_id") % 101 =!= 7)
    corp.count(); bench.count()

    for (profRound <- 1 to 2) {
      println(s"--- round $profRound ---")
      time("full curate (cold cache)") {
        graft.curation.Curation.curate(corp, bench).count()
      }
      time("full curate (warm cache)") {
        graft.curation.Curation.curate(corp, bench).count()
      }
      spark.catalog.clearCache()
      val tokens = time("tokens persist (fresh)") {
        val t = corp
          .select(col("doc_id"), words(col("text")).as("__ws"))
          .select(col("doc_id"), col("__ws"),
            TextAnalysis.ngrams(col("__ws"), 3).as("__tg"))
          .select(col("doc_id"),
            size(col("__ws")).cast("long").as("n_words"),
            size(col("__tg")).cast("long").as("n_trigrams"),
            size(array_distinct(col("__tg"))).cast("long").as("n_distinct_tg"),
            element_at(col("__ws"), -1).as("tail"),
            TextAnalysis.ngrams(col("__ws"), 2).as("__bg"))
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
        t
      }
      val hasGram = col("gram").isNotNull
      val mGrams = tokens.filter(hasGram)
        .groupBy(col("gram")).agg(sum(col("cnt")).as("c12"))
        .withColumn("w1", substring_index(col("gram"), " ", 1))
      time("mGrams agg") { mGrams.count() }
      val mVocab = tokens
        .select(explode(array(
          when(hasGram, substring_index(col("gram"), " ", 1)),
          col("tail"))).as("w"))
        .filter(col("w").isNotNull)
        .agg(count_distinct(col("w")).as("v"))
      time("vocab distinct") { mVocab.count() }
      tokens.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
