package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.functions.lit

/** Every query, built and collected on the shared session, leaves
  * nothing behind but its own result and the session's caches: no
  * CacheManager entry, no persisted RDD outside the result's own
  * materialized leaves or a SessionCaches frame, no active stream and
  * no new listener; and a result that reads a materialized leaf still
  * re-derives after its one-shot release.
  */
class LifecycleSweepSpec extends SparkSpec {

  // Spark adds an ExecutionListenerBus and a StreamingQueryListenerBus
  // per session, and SessionCaches hooks each session once
  private def tolerated(listener: String): Boolean =
    listener.endsWith(".ExecutionListenerBus") ||
      listener.endsWith(".StreamingQueryListenerBus") ||
      listener.startsWith("graft.SessionCaches")

  private def rowsOf(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  test("every query frees what it materializes and stays re-derivable") {
    val sc = spark.sparkContext
    val failures = Seq.newBuilder[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      spark.catalog.clearCache()
      GraftListenerBus.drain(sc)
      val rddsBefore = persistedRddIds
      val listenersBefore = GraftListenerBus.listenerClasses(sc)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val rows = df.collect()
        // a one-shot release runs on the listener bus
        GraftListenerBus.drain(sc)
        spark.catalog.clearCache()
        def fail(what: String): Unit = failures += s"$name: $what"
        if (!spark.sharedState.cacheManager.isEmpty)
          fail("left a CacheManager entry")
        val owned = leafRddIds(df) ++
          SessionCaches.liveFramesFor(spark).flatMap(leafRddIds)
        val orphans = persistedRddIds -- rddsBefore -- owned
        if (orphans.nonEmpty) fail(s"left persisted RDDs ${orphans.toSeq.sorted}")
        if (spark.streams.active.nonEmpty) fail("left an active stream")
        val added = GraftListenerBus.listenerClasses(sc)
          .diff(listenersBefore).filterNot(tolerated)
        if (added.nonEmpty) fail(s"added listeners $added")
        if (leafRddIds(df).nonEmpty &&
            rowsOf(df.filter(lit(true)).collect()) != rowsOf(rows))
          fail("re-derived different rows")
      } catch {
        case e: Exception => failures += s"$name: threw $e"
      }
    }
    val found = failures.result()
    assert(found.isEmpty, found.mkString("\n"))
  }
}
