package graft

import org.apache.spark.sql.SparkSession

/** The one builder for every driver and dev session (Bench, Verify and
  * the tools), so their plans cannot drift apart.
  */
object Sessions {
  /** Core count from `SPARK_GRAFT_CPUS`, 4 when unset. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // older testdata generations carry TIMESTAMP(NANOS); this reads
      // them as epoch-nano Long (Tables.events normalizes either
      // generation to that contract).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions by SIZE, not to the core
      // count: at bench scale most shuffles carry a few MB, and
      // near-empty reduce tasks per stage are pure scheduler overhead
      // (the ~0.2 s/query orchestration floor). Scan-side parallelism
      // is untouched — CPU-dense narrow stages still fan out by input
      // splits. On a cluster the same settings coalesce to the
      // advisory size, which is the behavior you want there too.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // test tables are one small parquet file each; default 128 MB
      // splits would scan them single-threaded. On a cluster the
      // input is many files and this knob is irrelevant.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "128k")
      // the surface the library ships: native functions plus the
      // RewriteJaccard/RewriteCosine optimizer rules, so every oracled
      // query runs with the rewrites active
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
