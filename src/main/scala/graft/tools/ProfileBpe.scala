package graft.tools

/** Dev profiler: the per-rank cost of the DISTRIBUTED BPE learner at
  * full merge counts (round-9 verdict #4 — the driver-side learner
  * refuses vocabularies past maxVocab, so the distributed per-merge
  * argmax must carry real tokenizer rank counts). Records total and
  * per-decile wall time for `nMerges` ranks; flat decile times are
  * the evidence the per-rank recurrence doesn't accumulate (lineage
  * stays flat via the per-round localCheckpoint).
  * Usage: runMain graft.tools.ProfileBpe [sfDir] [nMerges]
  */
object ProfileBpe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(512)
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // the sf0.1 text exhausts at ~107 learnable merges; `synth:N`
    // builds an N-word corpus of hex-structured words (rich pair
    // diversity) so full-tokenizer rank counts are actually reachable
    val docs =
      if (src.startsWith("synth:")) {
        import org.apache.spark.sql.functions._
        val n = src.stripPrefix("synth:").toLong
        spark.range(n).select(col("id").as("doc_id"),
          concat(lit("w"), lower(hex(col("id") * 2654435761L)), lit(" "),
            lower(hex(col("id")))).as("text"))
      } else graft.Tables.documents(spark, src).select("doc_id", "text")

    // three checkpoints: run the learner at n/8, n/2, n and
    // difference the times — bpeMerges is deterministic, so rank k of
    // a longer run IS rank k of a shorter one (BpeVocabSpec pins the
    // prefix property via the local twin). A flat marginal s/rank
    // across the three is the no-accumulation evidence.
    val steps = Seq(nMerges / 8, nMerges / 2, nMerges).distinct.filter(_ > 0)
    var prevT = 0.0
    var prevN = 0
    steps.foreach { n =>
      val t0 = System.nanoTime()
      val m = graft.textanalysis.TextAnalysis.bpeMerges(docs, n).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[bpe] ranks=$n%5d learned=$m%5d total=$dt%8.2f s " +
        f"marginal=${(dt - prevT) / math.max(1, n - prevN)}%6.3f s/rank")
      prevT = dt; prevN = n
    }
    spark.stop()
  }
}
