package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GraftLayout, LogicalRDD}

/** The one owner of the frames an operator materializes for itself:
  * every operator, batch core, round loop and sink persists,
  * checkpoints and frees through one of these.
  *
  *   - [[persist]]: a CacheManager entry (columnar; keeps lineage).
  *   - [[checkpoint]]: an eager `localCheckpoint` — it cuts lineage, so
  *     a round loop's plan stays flat however many rounds build on it
  *     (a persisted chain re-prints its whole ancestry: 2^rounds plan
  *     text). The keyed form re-declares the `hash(keys, width)`
  *     layout the producing plan provably laid the blocks out in (see
  *     [[org.apache.spark.sql.execution.GraftLayout]]), so the next
  *     round's joins plan co-partitioned.
  *   - [[rows]]: an eager row cache — UnsafeRows as-is (no columnar
  *     encoding), planner statistics kept — that keeps its lineage.
  *   - [[free]] drops one superseded frame now (a round loop's
  *     previous round); [[keep]] hands a held frame to the caller;
  *     [[release]] drops everything still held and is idempotent.
  *     `Artifacts.scoped { a => ... }` releases in `finally`.
  *
  * Frees are non-blocking (`unpersist(blocking = false)`): Spark drops
  * the RDD from its persistent-RDD registry at once and removes the
  * blocks in the background.
  *
  * The lifecycle contract, stated once:
  *   - A one-shot result ([[Managed.autoReleased]]) may own only
  *     artifacts a later action can recompute — persist and rows —
  *     so after the first action frees them, a second action
  *     re-derives the same rows. `autoReleased()` throws an
  *     IllegalStateException when its owner holds a lineage-cut
  *     checkpoint that the frame reads: freeing it would leave a frame
  *     that fails on its next action.
  *   - A lineage-cut frame the caller receives belongs to that frame:
  *     build it with the owner-less `Artifacts.checkpoint`, or hand a
  *     held one over with [[keep]]. Spark's ContextCleaner frees it
  *     once the frame is unreachable; a release never does.
  *   - A rows frame's build job runs outside a SQL execution, so an
  *     `Observation` on the frame it caches never fills.
  */
final class Artifacts {
  private final class Held(val df: DataFrame, val cut: Option[RDD[_]],
      val free: () => Unit)
  private val held = scala.collection.mutable.ArrayBuffer.empty[Held]

  private def hold(df: DataFrame, cut: Option[RDD[_]])(
      free: () => Unit): DataFrame = synchronized {
    held += new Held(df, cut, free)
    df
  }

  private def holdLeaf(df: DataFrame, cuts: Boolean): DataFrame = {
    val rdd = Artifacts.leafRdd(df)
    hold(df, if (cuts) Some(rdd) else None)(() => rdd.unpersist(blocking = false))
  }

  def persist(df: DataFrame): DataFrame =
    hold(df.persist(), None)(() => df.unpersist(false))

  def checkpoint(df: DataFrame): DataFrame =
    holdLeaf(Artifacts.checkpoint(df), cuts = true)

  def checkpoint(df: DataFrame, keys: Seq[String], width: Int): DataFrame =
    holdLeaf(Artifacts.checkpoint(df, keys, width), cuts = true)

  def rows(df: DataFrame): DataFrame =
    holdLeaf(GraftLayout.rows(df), cuts = false)

  private def take(df: DataFrame): Held = synchronized {
    val i = held.indexWhere(_.df eq df)
    require(i >= 0, "frame is not held by this owner")
    held.remove(i)
  }

  /** Free a superseded frame now. ONLY for a frame no live plan still
    * needs: a freed checkpoint has no lineage to recompute from.
    */
  def free(df: DataFrame): Unit = take(df).free()

  /** Hand a held frame over to the caller: it leaves this owner
    * unfreed, and from then on belongs to the frames that read it.
    */
  def keep(df: DataFrame): DataFrame = { take(df); df }

  def release(): Unit = synchronized {
    held.foreach(_.free())
    held.clear()
  }

  /** Whether `df` reads a lineage-cut checkpoint this owner holds. */
  private[graft] def cutUnder(df: DataFrame): Boolean = synchronized {
    val cuts = held.flatMap(_.cut)
    cuts.nonEmpty && df.queryExecution.analyzed.exists {
      case lr: LogicalRDD => cuts.exists(_ eq lr.rdd)
      case _ => false
    }
  }
}

object Artifacts {

  def scoped[T](f: Artifacts => T): T = {
    val a = new Artifacts
    try f(a) finally a.release()
  }

  /** An owner-less eager checkpoint: the lineage-cut frame belongs to
    * the caller (see the contract above).
    */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** [[checkpoint]] that keeps a proven hash layout. ONLY call when the
    * frame's plan provably ends in (or partition-locally preserves)
    * `repartition(width, keys)`.
    */
  def checkpoint(df: DataFrame, keys: Seq[String], width: Int): DataFrame =
    GraftLayout.withHashLayout(checkpoint(df), keys, width)

  private def leafRdd(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case p => throw new IllegalArgumentException(
        s"expected a materialized frame (a LogicalRDD root), got ${p.nodeName}")
    }
}
