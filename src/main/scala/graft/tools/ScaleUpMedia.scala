package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: ORGANIC media fixtures for the perceptual dedup
  * capstones (round-10 verdict #8) — corpora whose near-dup pair
  * volume is FIXED BY CONSTRUCTION, so the capstone's K× slope
  * measures plan scaling, not fixture artifacts.
  *
  * Why both prior fixtures fail: the [[ScaleUp]] replica offsets
  * copied ids by k·10⁹ and media renders FROM doc_id, so offset
  * classes collide — every clip gains K−1 twins (K² pairs). And a
  * fresh SEQUENTIAL id range is no better: the render rules have
  * bounded entropy (audio repeats exactly at id+65536, video at
  * id+1280; the 64-bit envelope hashes are far coarser still), so
  * 10× sequential ids pack the same hash classes 10× denser —
  * measured 90–108× pair growth at 10× (this tool's first draft).
  *
  * Construction, per family (the q_dedup_recall planted-pair idea):
  *  1. hash a candidate id pool with the REAL render→encode→decode→
  *     fingerprint path;
  *  2. keep one representative per exact hash, then drop the larger
  *     member of every Hamming≤1 pair — survivors are pairwise
  *     ≥2 bits apart, i.e. a background with ZERO near-dup pairs;
  *  3. take the first n background ids; every `plantEvery`-th gets a
  *     twin at id + cycle·BigOffset (an id that RENDERS identically —
  *     the render cycle — but lives far outside the pool, so no id
  *     collisions). Clusters are exactly size 2, pairs = n/plantEvery,
  *     LINEAR in n at any scale.
  *
  * Emits documents.parquet dirs per family and scale:
  *   <dst>/audio_x1, audio_x10, video_x1, video_x10
  * Usage: runMain graft.tools.ScaleUpMedia [srcDir destRoot K]
  */
object ScaleUpMedia {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_media")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    val n1 = spark.read.parquet(s"$src/documents.parquet").count()

    def docsOf(ids: DataFrame): DataFrame =
      ids.select(col("doc_id"),
        concat(lit("src_"), col("doc_id") % 8).as("source"),
        lit("organic media fixture").as("text"))

    def build(family: String, cycle: Long,
        hashes: DataFrame => DataFrame,
        fpCol: String): Unit = graft.Artifacts.scoped { a =>
      val poolN = n1 * k * 8
      val pool = docsOf(spark.range(poolN).select(col("id").as("doc_id")))
      val hashed = a.checkpoint(hashes(pool))
      val reps = a.checkpoint(hashed.groupBy(col(fpCol))
        .agg(min(col("doc_id")).as("doc_id")))
      val near = Dedup.hammingNearDuplicates(reps, "doc_id", fpCol,
        maxDist = 1)
      val survivors = a.checkpoint(reps
        .join(near.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id")))
      val nSurv = survivors.count()
      println(s"[scaleupmedia] $family: $nSurv pairwise-distinguishable " +
        s"fingerprints in a $poolN-id pool" +
        (if (nSurv < n1 * k) " — the render family SATURATES below the " +
          s"requested ${n1 * k}-doc scale; organic growth beyond " +
          s"~$nSurv docs is not constructible (every larger corpus has " +
          "intrinsically growing clusters)" else ""))
      Seq(1 -> n1, k -> n1 * k).foreach { case (scale, want0) =>
        // cap at the feasible organic size; an infeasible scale is
        // recorded above, and the fixture still carries the fixed
        // 10% planted rate at whatever size IS constructible
        val want = math.min(want0, nSurv * 10 / 9)
        val bg = want - want / 10 // 10% of docs are planted twins
        if (want < want0)
          println(s"[scaleupmedia] $family x$scale capped " +
            s"$want0 -> $want docs (saturation)")
        val base = survivors.orderBy(col("doc_id")).limit(bg.toInt)
        // every 9th background doc (by rank) twins at a render-cycle
        // offset far outside the pool: identical fingerprint, no id
        // collision, cluster size exactly 2
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))
        val ranked = base.withColumn("__r", row_number().over(w))
        val twins = ranked.filter(col("__r") % 9 === 1)
          .limit((want - bg).toInt)
          .select((col("doc_id") + cycle * 1000000L).as("doc_id"))
        val out = ranked.select(col("doc_id")).unionByName(twins)
        docsOf(out).repartition(8)
          .write.mode("overwrite")
          .parquet(s"$dst/${family}_x$scale/documents.parquet")
        println(s"[scaleupmedia] $family x$scale: ${want} docs " +
          s"(${want - bg} planted twins) -> $dst/${family}_x$scale")
      }
    }

    build("audio", 65536L, Multimodal.audioHashes, "ahash")
    build("video", 1280L, Multimodal.videoHashes, "vhash")
    spark.stop()
  }
}
