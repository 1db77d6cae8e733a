package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: materialize a K× replica of a testdata SF dir so the
  * headline operators can be measured one decade of scale up —
  * catches accidentally-quadratic plans that sf0.1 is too small to
  * expose. Each copy offsets its table's OWN ids by k·10⁹ (graph and
  * per-doc ops see K disjoint copies of the same structure: volume
  * scales, diameters and per-doc shapes don't — which is exactly
  * the scaling question). Text is copied verbatim, so the near-dup
  * family sees a "every doc has K−1 exact twins" corpus — an
  * adversarially duplicated input whose pair volume is inherently
  * K²-ish per group; read those lines as duplication stress, not
  * organic growth.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir destDir K]
  */
object ScaleUp {
  private val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sfx")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    def replicate(name: String, idCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val copies = (0 until k).map { i =>
        idCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i * Off)) }
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$k -> $dst")
    }

    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    replicate("orders", Seq("o_orderkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("lineitem", Seq("l_orderkey"))
    // dims copied once — scale runs target the big-table operators
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    spark.stop()
  }
}
