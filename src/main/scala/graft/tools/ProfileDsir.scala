package graft.tools

import org.apache.spark.sql.functions._

/** Decompose DSIR wall time: the one-time model train (two bounded
  * bucket aggregations collapsed into one corpus scan) vs the scoring
  * and selection passes — at a base SF and its ScaleUp replica this
  * records the scaling record the 100 TB claim rests on (train is a
  * map-side-combined agg into ≤`buckets` rows; scoring is narrow).
  * Usage: runMain graft.tools.ProfileDsir <sfDir> [buckets]
  */
object ProfileDsir {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val buckets = args.lift(1).map(_.toInt).getOrElse(1024)
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.selection.Dsir

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-36s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()
    val docs = graft.Tables.documents(spark, sfDir)
    println(s"[profile] docs=${docs.count()} buckets=$buckets dir=$sfDir")

    (1 to 3).foreach { pass =>
      println(s"--- pass $pass ---")
      val model = time("train (single-scan, both counts)") {
        Dsir.dsirTrainWith(docs, col("lang") === "en", buckets)
      }
      time("score all docs (native fold)") {
        Dsir.dsirScore(docs, model).count()
      }
      time("score all docs (materialized)") {
        Dsir.dsirScore(docs, model)
          .agg(sum(col("dsir_logw")), sum(col("n_grams"))).collect()
      }
      time("select top-50 (Gumbel TakeOrdered)") {
        Dsir.dsirSelect(docs, model, 50).collect()
      }
    }
    spark.stop()
  }
}
