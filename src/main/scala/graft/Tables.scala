package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, convert_timezone, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All queries read through these helpers so that scans stay uniform:
  * plain `spark.read.parquet` gives Catalyst full pushdown/pruning
  * freedom (PushedFilters + ReadSchema reach the parquet scan). At
  * cluster scale the same call reads a partitioned directory tree;
  * nothing here assumes single-file inputs.
  */
object Tables {
  /** The driver-generated tables are immutable for a session's
    * lifetime, so the resolved relation (file listing + footer
    * schema) is shared per (session, path): a 50-query batch pays
    * the listing/schema cost once per table instead of once per
    * query. Keyed by session so stopped sessions can't leak frames
    * into live ones; non-standard paths (anything a caller might
    * overwrite mid-session) bypass the cache.
    */
  private val standardNames = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")
  private val relationCache = SessionCaches.memo[DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (standardNames(name)) relationCache(spark, path)(spark.read.parquet(path))
    else spark.read.parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events with `ts` normalized to the repo-wide contract: epoch-NANO
    * Long, UTC. Driver generations have shipped `ts` as
    * TIMESTAMP(NANOS) (read as Long under nanosAsLong) and as
    * TIMESTAMP_MICROS (read as TIMESTAMP_NTZ) — every downstream
    * operator and every DuckDB oracle (`epoch_us(ts)`) assumes the
    * naive wall clock IS the instant, so the NTZ case converts
    * explicitly against the session zone rather than trusting it to
    * be UTC. Conversion is a narrow per-row projection; pushdown on
    * the other columns is unaffected.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df // epoch-nanos already (nanosAsLong read)
      case TimestampNTZType =>
        // wall clock w is UTC by TESTDATA convention: shift it to the
        // session zone's wall clock for the same instant, so the
        // NTZ→LTZ cast (which applies the session zone) lands exactly
        // on instant(w as UTC) no matter what the session zone is
        val tz = s.conf.get("spark.sql.session.timeZone")
        df.withColumn("ts", nanosFromInstant(
          convert_timezone(lit("UTC"), lit(tz), col("ts")).cast(TimestampType)))
      case TimestampType => df.withColumn("ts", nanosFromInstant(col("ts")))
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other")
    }
  }
  private def nanosFromInstant(c: Column): Column =
    (unix_micros(c) * lit(1000L)).cast(LongType)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  // Typed loaders — metadata-only `as[T]` over the same scans (case
  // classes in graft.schema mirror the parquet schemas exactly), for
  // call sites that want compile-time field safety.
  def documentsDs(s: SparkSession, d: String): Dataset[graft.schema.Document] = {
    import s.implicits._
    documents(s, d).as[graft.schema.Document]
  }
  def eventsDs(s: SparkSession, d: String): Dataset[graft.schema.Event] = {
    import s.implicits._
    events(s, d).as[graft.schema.Event]
  }
  def embeddingsDs(s: SparkSession, d: String): Dataset[graft.schema.Embedding] = {
    import s.implicits._
    embeddings(s, d).as[graft.schema.Embedding]
  }
  def ordersDs(s: SparkSession, d: String): Dataset[graft.schema.Order] = {
    import s.implicits._
    orders(s, d).as[graft.schema.Order]
  }
}
