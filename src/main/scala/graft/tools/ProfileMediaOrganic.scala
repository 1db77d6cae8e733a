package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: pair/cluster counts of the perceptual near-dup families
  * at a given dir — the companion readout to [[ScaleUpMedia]]'s
  * organic fixture (is pair volume corpus-linear, or K²-inflated?).
  * Usage: runMain graft.tools.ProfileMediaOrganic [dir]
  */
object ProfileMediaOrganic {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sfx_media")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.{Tables}
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val aPairs = Dedup.hammingNearDuplicates(
      Multimodal.audioHashes(docs), "doc_id", "ahash", maxDist = 1).count()
    val vPairs = Dedup.hammingNearDuplicates(
      Multimodal.videoHashes(docs), "doc_id", "vhash", maxDist = 1).count()
    println(s"[mediaorganic] dir=$dir docs=$n audio_pairs=$aPairs video_pairs=$vPairs")
    spark.stop()
  }
}
