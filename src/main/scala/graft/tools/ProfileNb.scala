package graft.tools

import org.apache.spark.sql.functions._

/** NB-classifier train/serve cost at base vs replica scale (the
  * ProfileDsir methodology): training is one bounded aggregation, so
  * it should scale with the SCAN, not the model. Dev tool.
  * Usage: runMain graft.tools.ProfileNb [sfDir replicaDir]
  */
object ProfileNb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicaDir = args.lift(1).getOrElse("/tmp/graft_sfx")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.quality.NbClassifier
    spark.range(1000000L).selectExpr("sum(id)").collect()

    Seq("base" -> sfDir, "10x" -> replicaDir).foreach { case (label, dir) =>
      val docs = graft.Tables.documents(spark, dir)
      var best = Double.MaxValue
      var model: NbClassifier.NbModel = null
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        model = NbClassifier.nbTrain(
          docs.filter(col("doc_id") % 4 =!= 0), col("n_chars") >= 300, 1024)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[nb] train ($label)  min $best%7.3f s")
      var bestS = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        NbClassifier.nbScore(
          docs.filter(col("doc_id") % 4 === 0), model).count()
        bestS = math.min(bestS, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[nb] score held-out ($label)  min $bestS%7.3f s")
    }
    spark.stop()
  }
}
