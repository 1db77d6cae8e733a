package graft.tools

/** Dev profiler: stage timings of the containment near-dup pipeline
  * (the round-6 bench top line) over the half-truncation corpus.
  * Usage: runMain graft.tools.ProfileContainment [sfDir]
  */
object ProfileContainment {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s  ($r)")
      r
    }

    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    import graft.functions.TextFunctions.words
    import graft.plans.TextHashFunctions

    spark.range(1000000L).selectExpr("sum(id)").collect() // warm

    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val ws = split(col("text"), " ", -1)
    val halves = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1),
          greatest((size(ws) / 2).cast("int"), lit(3)))).as("text"))
    val corpus = docs.unionByName(halves)

    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      val base = corpus.select(col("doc_id").as("id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .filter(size(words(col("text"))) >= 3)
        .withColumn("sig", call_function(TextHashFunctions.Md5MinHashName,
          words(col("text")), lit(3), lit(16)))
        .select(col("id"), col("text"), col("sig"))
        .persist()
      time("base (md5 sig) materialize")(base.count())

      val buckets = base
        .select(col("id"), posexplode(Dedup.bandHashesMd5(col("sig"), 16, 16)))
        .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
      val small = buckets
        .withColumn("bsz", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bucket"))))
        .filter(col("bsz") <= 100)
        .drop("bsz")
      time("  sub: buckets rows")(small.count())
      val prePairs = small.as("l")
        .join(small.as("r"),
          col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      time("  sub: pre-distinct pairs")(prePairs.count())
      val candidates = prePairs
        .distinct()
        .persist()
      time("candidates (bucket join + distinct)")(candidates.count())

      val grams = base.select(col("id"), Dedup.shingles(col("text"), 3).as("g"))
        .withColumn("ng", size(col("g")))
      val verified = candidates
        .join(grams.select(col("id").as("id_a"), col("g").as("__ga"),
          col("ng").as("__na")), "id_a")
        .join(grams.select(col("id").as("id_b"), col("g").as("__gb"),
          col("ng").as("__nb")), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("__ga"), col("__gb"))).as("__inter"),
          col("__na"), col("__nb"))
        .filter(col("__inter") * 10000L >= least(col("__na"), col("__nb")) * 9000L)
      time("verify (grams join + intersect)")(verified.count())

      // honest full-operator cost: drop this profiler's own caches so
      // CacheManager's canonicalized-plan matching can't serve the
      // operator's internal frames from them
      base.unpersist(true); candidates.unpersist(true)
      spark.catalog.clearCache()
      time("full operator")(
        Dedup.containmentNearDuplicates(corpus, "doc_id", "text",
          hashMode = "md5").count())

      base.unpersist(); candidates.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
