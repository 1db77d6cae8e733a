package graft

import org.apache.spark.sql.DataFrame

/** Shared frame helpers for the index-maintenance paths. */
private[graft] object Frames {

  /** Broadcast hint for a tombstone-id join side, gated by the
    * tombstone DIRECTORY's on-disk size — one recursive listing call,
    * no extra Spark job. Tombstone volume is unbounded in the
    * right-to-be-forgotten scenario the delete sinks exist for: after
    * years of erasure a forced `broadcast()` hint would bypass
    * Spark's own size check and OOM executors, so past the budget the
    * hint is dropped and the planner/AQE picks a shuffle join (the
    * byte-budget-with-fallback convention of the dedup fast paths).
    * `ids` may be a filtered subset of the directory's rows — the
    * directory size is then a safe upper bound. Budget override (for
    * specs and ops): `spark.graft.tombstoneBroadcastBudget` in bytes.
    */
  def hintTombstones(ids: DataFrame, dir: String): DataFrame = {
    val spark = ids.sparkSession
    val budget = spark.conf
      .getOption("spark.graft.tombstoneBroadcastBudget")
      .map(_.toLong).getOrElse(64L << 20)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes =
      try fs.getContentSummary(p).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    if (bytes <= budget) org.apache.spark.sql.functions.broadcast(ids)
    else ids
  }
}
