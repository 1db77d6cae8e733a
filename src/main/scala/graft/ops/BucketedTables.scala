package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for repeat-join corpora — the standing
  * answer to "this join shuffles 100 TB every night".
  *
  * `bucketBy(k, key)` writes each output file pre-hash-partitioned
  * on the join key and records the layout in the catalog; any later
  * equi-join or aggregation on that key between tables bucketed with
  * the SAME bucket count reads co-located buckets and plans ZERO
  * exchanges (`BucketedTablesSpec` pins the empty-exchange plan).
  * That converts the recurring shuffle of a fact⋈dim or
  * corpus⋈signatures join into a one-time write-side cost — exactly
  * the trade a nightly 100 TB pipeline wants, and the file-level
  * analogue of what [[graft.similarity.VectorStore.write]]
  * does with partition pruning for probe scans.
  *
  * Spark constraint worth knowing before copying this to a cluster:
  * bucketed layouts live in the session catalog (`saveAsTable`), not
  * bare parquet paths — `spark.read.parquet` of the same files would
  * forget the bucketing. Bucket counts must match across join sides
  * (or be integer multiples under
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`).
  */
object BucketedTables {

  /** Write `df` as a managed bucketed table (overwriting any previous
    * layout), sorted within buckets by the key so merge-joins read
    * presorted runs.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    require(buckets > 0, s"bucket count must be positive: $buckets")
    // Overwrite replaces a CATALOGED table, but a managed location
    // left dangling by an earlier session (metadata gone with its
    // JVM, files still in the warehouse) fails LOCATION_ALREADY_EXISTS
    // — drop the entry and reclaim the table's own location first so
    // rebuilds are idempotent across sessions
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
