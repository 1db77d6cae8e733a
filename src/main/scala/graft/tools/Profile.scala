package graft.tools

/** Dev profiler: times labelled sub-pipelines of the heavy bench
  * queries so optimization targets stages, not guesses.
  * Usage: runMain graft.tools.Profile <sfDir>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    import graft.functions.TextFunctions.words
    import graft.plans.TextHashFunctions

    // warm
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val ws = split(col("text"), " ", -1)
    val perturbed = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1)))).as("text"))
    val corpus = docs.unionByName(perturbed)

    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      time("corpus count")(corpus.count())

      val base = corpus.select(col("doc_id").as("id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .filter(size(words(col("text"))) >= 3)
        .withColumn("sig", call_function(TextHashFunctions.MinHashName,
          words(col("text")), lit(3), lit(16)))
        .select(col("id"), col("text"), col("sig"))
        .persist()
      time("base (sig) materialize")(base.count())

      val buckets = base
        .select(col("id"), posexplode(Dedup.bandHashes(col("sig"), 16, 4)))
        .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
      val small = buckets
        .withColumn("bsz", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bucket"))))
        .filter(col("bsz") <= 100)
        .drop("bsz")
      time("buckets+window count")(small.count())

      val candidates = small.as("l")
        .join(small.as("r"),
          col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct()
      val nCand = time("candidates distinct")(candidates.count())
      println(s"[profile] n candidates = $nCand")

      val texts = base.select(col("id"), col("text"))
      val verified = candidates
        .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
        .withColumn("jaccard", Dedup.jaccard(
          Dedup.shingles(col("text_a"), 3), Dedup.shingles(col("text_b"), 3)))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      time("verify (no sort)")(verified.count())
      time("verify + orderBy")(verified.orderBy(col("id_a"), col("id_b")).count())

      time("full minhashNearDuplicates")(
        Dedup.minhashNearDuplicates(corpus, "doc_id", "text").count())
      spark.catalog.clearCache()

      time("full simhashNearDuplicates")(
        Dedup.simhashNearDuplicates(corpus, "doc_id", "text").count())
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
