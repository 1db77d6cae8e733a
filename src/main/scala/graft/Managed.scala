package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.QueryExecution

/** A lazily-computed result together with the [[Artifacts]] owner of
  * the state its plan reads (e.g. the signature cache inside the
  * near-duplicate pipelines). Call `release()` (idempotent) after the
  * final action over `df`, use `apply` to scope an action with
  * release-in-finally, or hand out a one-shot frame with
  * [[autoReleased]]; the lifecycle contract is the [[Artifacts]] one.
  */
final class Managed(val df: DataFrame, owner: Artifacts) {

  def release(): Unit = owner.release()

  /** `managed { d => d.collect() }` — runs the action, then releases
    * the internal cache even if the action throws.
    */
  def apply[T](f: DataFrame => T): T =
    try f(df) finally release()

  /** A Managed over a frame derived from this one, sharing its owner —
    * for wrappers that post-process the pipeline's result (e.g. an
    * anti-join against the pair list) before handing it on.
    */
  def mapDf(f: DataFrame => DataFrame): Managed =
    new Managed(f(df), owner)

  /** `df` as a one-shot frame: the owner releases as soon as the first
    * action over it completes (success or failure). The release is
    * keyed on an `observe()` marker: the observation name identifies
    * the execution in `qe.observedMetrics` (public and independent of
    * plan shape; the metrics node does not change rows).
    */
  def autoReleased(): DataFrame = {
    val name = "graft_release_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    releaseAfter(name, df.observe(name,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))))
  }

  /** [[autoReleased]] keyed on an observation `df` already carries. */
  def autoReleased(obs: Observation): DataFrame = releaseAfter(obs.name, df)

  private def releaseAfter(name: String, out: DataFrame): DataFrame = {
    if (owner.cutUnder(df)) throw new IllegalStateException(
      "a one-shot frame may own only recomputable artifacts: this one " +
        "reads a lineage-cut checkpoint its owner would free")
    val spark = df.sparkSession
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def maybeRelease(qe: QueryExecution): Unit =
        if (qe.observedMetrics.contains(name)) {
          release()
          spark.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
    out
  }
}
