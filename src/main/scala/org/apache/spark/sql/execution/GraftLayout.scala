package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** graft shim: frames over a materialized RDD that the public Dataset
  * API cannot build — an eager checkpoint re-declaring its physical
  * layout, and an eager row cache that keeps its lineage. Both back
  * [[graft.Artifacts]].
  *
  * Under AQE, an eager local checkpoint captures
  * `UnknownPartitioning(0)` in its LogicalRDD leaf even when the plan
  * that produced the blocks laid them out `hash(keys, width)` —
  * AdaptiveSparkPlanExec is opaque to the partitioning capture (the
  * round-16 finding that moved the iterative graph operators onto
  * persisted layouts). For a loop whose EVOLVING frame must both cut
  * lineage per round (a persisted chain re-prints its whole cache
  * ancestry: plan text grows 2^rounds — measured OOM at 8 rounds) and
  * keep its hash layout (so the next round's joins plan co-partitioned,
  * exchange- and broadcast-free), the checkpoint's LogicalRDD is
  * rebuilt here with the partitioning the caller PROVED the blocks
  * have.
  *
  * Correctness contract: the caller must guarantee the checkpointed
  * plan's output really is hash(keys, width) — i.e. the plan ends in
  * (or partition-locally preserves) an explicit
  * `repartition(width, keys)` layout. A wrong declaration silently
  * mis-plans downstream joins, which is why this lives behind the
  * operator internals and not in a public helper.
  *
  * Lives in Spark's execution package because `classic.Dataset.ofRows`
  * and LogicalRDD's session-typed constructor are `private[sql]` —
  * the same access the built-in checkpoint implementation uses; no
  * behavior is forked.
  */
object GraftLayout {

  def withHashLayout(ck: DataFrame, keys: Seq[String],
      width: Int): DataFrame = {
    val spark = ck.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lr = ck.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.getOrElse(throw new IllegalArgumentException(
      "withHashLayout expects an eagerly checkpointed frame " +
        "(no LogicalRDD leaf found)"))
    val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"no column $k among ${lr.output.map(_.name).mkString(", ")}")))
    // only the partitioning declaration changes; the checkpoint's
    // derived statistics and constraints carry over (they feed
    // downstream join-strategy decisions exactly as the plain
    // checkpoint's did)
    val relaid = lr.copy(
      outputPartitioning = HashPartitioning(attrs, width))(
      spark, Some(lr.stats), Some(lr.constraints))
    org.apache.spark.sql.classic.Dataset.ofRows(spark, relaid)
  }

  /** `df`'s rows, computed once now and persisted (MEMORY_AND_DISK)
    * as they are: no columnar encoding, unlike a CacheManager entry.
    * The leaf is built the way the built-in checkpoint builds its own
    * (same statistics, constraints and captured layout), but the RDD
    * keeps its lineage: once its blocks are freed, a later action
    * recomputes them instead of failing. The count job runs outside
    * a SQL execution.
    */
  def rows(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
