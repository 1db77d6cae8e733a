package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** Where queries timed at `sfDir` warm up: its `sf0.001` sibling, or
    * `sfDir` itself if no smaller sibling exists.
    */
  def warmDir(sfDir: String): String = {
    val parent = new java.io.File(sfDir).getParentFile
    val sibling = Option(parent).map(p => new java.io.File(p, "sf0.001"))
    sibling.filter(f => f.exists && f.getPath != new java.io.File(sfDir).getPath)
      .map(_.getPath).getOrElse(sfDir)
  }

  /** Untimed warmup: JVM/codegen/scheduler spin-up should not be
    * attributed to whichever query happens to run first. Every query
    * shape runs once at [[warmDir]] (same schemas → identical generated
    * code → janino cache hits), so the timed passes measure data-path
    * throughput, not dozens of cold plan compilations. Returns how many
    * queries threw; warmup failures are counted, never silent.
    */
  def warmUp(spark: SparkSession,
      queries: Iterable[(SparkSession, String) => DataFrame], sfDir: String): Int = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val dir = warmDir(sfDir)
    queries.count { fn =>
      try { fn(spark, dir).count(); false }
      catch { case _: Throwable => true }
      finally spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    // dev-loop filter (mirrors Verify's): SPARK_GRAFT_BENCH_ONLY=q_a,q_b
    // times just those queries. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    // machine-speed calibration constant: the same fixed job, timed
    // min-of-5 AFTER one untimed spin-up run, emitted in the output
    // record. Cross-round ratios divide by it to normalize sandbox
    // drift mechanically (round 10 burned analysis time proving a
    // 1.19× session drift by re-benching an old commit; this makes
    // that a lookup). The job is scheduler+CPU bound with no I/O, so
    // it tracks the same floor the per-query exchanges pay.
    val calibration = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      try { once(); (1 to 5).map(_ => once()).min }
      catch { case _: Throwable => -1.0 }
    }
    try {
      val warmFailures = warmUp(spark, selected.values, sfDir)
      if (warmFailures > 0)
        System.err.println(s"[bench] warmup: $warmFailures/${selected.size} queries failed against ${warmDir(sfDir)}")
    } catch { case _: Throwable => () }
    // min of N interleaved passes per query: a single sample can't be
    // separated from sandbox GC/scheduling spikes (the round-2 driver
    // recorded 6× one-off regressions on queries whose plans hadn't
    // changed). Interleaving whole passes — not back-to-back repeats —
    // keeps one transient load burst from poisoning all samples of the
    // same query.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // SPARK_GRAFT_BENCH_FULL=1: materialize every OUTPUT COLUMN via
    // the executed plan's RDD instead of count(). df.count() builds a
    // count(1) aggregate over the query, and Spark 4's distinct-keys
    // propagation then ELIMINATES left-join branches whose values the
    // count never reads — for "documents LEFT JOIN <unique-keyed
    // agg>" readout shapes (the memorization family, triangles' tn
    // side) the count measures only the surviving scan, not the
    // query. Default stays count() so the cross-round driver chain
    // remains comparable; the full mode exists to record the honest
    // cost of those lines (BUILD_NOTES round-9 table).
    val fullEval = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    def execute(df: DataFrame): Unit =
      if (fullEval) df.queryExecution.toRdd.count() else df.count()
    val samples = scala.collection.mutable.Map.empty[String, Double]
    // a query that throws in any pass is listed under "failed" and
    // gets no timing: a broken query must not read as a fast one
    val failed = scala.collection.mutable.SortedSet.empty[String]
    for (pass <- 1 to passes) {
      selected.foreach { case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          execute(fn(spark, sfDir))
          val dt = (System.nanoTime() - t0) / 1e9
          samples.updateWith(name) {
            case Some(prev) => Some(math.min(prev, dt))
            case None       => Some(dt)
          }
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] pass $pass: $name failed: $e")
        } finally {
          // queries persist intermediates (LSH signatures etc.); drop
          // them so later timings don't pay earlier queries' memory
          // pressure
          spark.catalog.clearCache()
        }
      }
    }
    val results = samples.toMap -- failed
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // calibration-NORMALIZED per-query values (value / calibration):
    // cross-round common-line audits divide out rig-day drift
    // mechanically instead of by hand (round-14 wrong #3/#4 — the
    // official artifact samples one arbitrary rig-day). Each value
    // is the min over `passes` interleaved passes (min-of-N is the
    // committed-map discipline, not a one-sample roll).
    val qsNorm =
      if (calibration > 0)
        results.map { case (k, v) => s"\"" + k + "\":" + (v / calibration) }
          .mkString("{", ",", "}")
      else "{}"
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","calibration_s":$calibration,"passes":$passes,"failed":$failedJson,"queries":$qs,"queries_norm":$qsNorm,"sf":"$sfDir"}"""
    println(fullJson)
    // the per-query dict above can exceed the driver's tail capture —
    // repeat the headline number LAST in a short line so the round's
    // total always survives truncation
    println(s"""{"metric":"total_only","value":$total,"unit":"sec","calibration_s":$calibration,"passes":$passes,"failed":$failedJson,"n_queries":${results.size},"sf":"$sfDir"}""")
    // persist the COMPLETE timing map to a file: the driver's stdout
    // tail truncates past ~50 per-query lines, and cross-round
    // common-line audits need every declared query's number, not a
    // 20% sample. Default lands in the repo root for commit;
    // override with SPARK_GRAFT_BENCH_OUT.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
  }
}
