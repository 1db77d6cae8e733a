package graft.tools

import org.apache.spark.sql.functions._

/** Stage decomposition of the PageRank×curation composition
  * (`q_curation_ranked`) at bench scale — which of the composed
  * parts costs, and what corpus-scan sharing would save. Dev tool.
  */
object ProfileRanked {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $name%-32s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    for (round <- 1 to 3) {
      println(s"--- round $round ---")
      val docs = Tables.documents(spark, sfDir)
      val corpus = docs.filter(col("doc_id") % 101 =!= 7)
      val benchm = docs.filter(col("doc_id") % 101 === 7)
      val e = corpus.select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 4).as("dst"))
        .unionByName(corpus.select(
          (col("doc_id") - col("doc_id") % 4).as("src"),
          (col("doc_id") - col("doc_id") % 16).as("dst")))
      val ranks = time("pageRank (default fast)") {
        val r = graft.graph.PageRank.pageRank(e, "src", "dst")
        r.count(); r
      }
      val curated = time("curate") {
        val c = graft.curation.Curation.curate(corpus, benchm)
          .localCheckpoint(true)
        c.count(); c
      }
      time("dropBottomRanked + sort") {
        graft.curation.Curation.dropBottomRanked(curated, ranks, "doc_id")
          .orderBy(col("doc_id")).count()
      }
      time("full q_curation_ranked") {
        graft.SparkEntry.queries("q_curation_ranked")(spark, sfDir).count()
      }
      spark.catalog.clearCache()
      time("overlapped (futures)") {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val rankF = Future {
          val r = graft.graph.PageRank.pageRank(e, "src", "dst")
          r.count(); r
        }
        val c = graft.curation.Curation.curate(corpus, benchm)
        val r = Await.result(rankF, Duration.Inf)
        graft.curation.Curation.dropBottomRanked(c, r, "doc_id")
          .orderBy(col("doc_id")).count()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
