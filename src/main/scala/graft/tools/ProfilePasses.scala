package graft.tools

/** Dev profiler: bench-style passes for named queries, but with the
  * CONSTRUCT (entry-fn call: artifact gates, collects, planning-time
  * actions) and ACTION (count) phases timed separately — the split
  * the bench's single number hides. Usage:
  *   runMain graft.tools.ProfilePasses q_a,q_b [sfDir] [passes]
  */
object ProfilePasses {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_pq_refined_curve")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    // job accounting: count + summed wall time of jobs, snapshotted
    // between phases so construct-time Spark work separates from
    // driver-side (analysis/planning) time
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, System.nanoTime())
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(starts.remove(j.jobId)).foreach { t0 =>
            nJobs.incrementAndGet()
            jobNanos.addAndGet(System.nanoTime() - t0)
          }
      })
    def snap(): (Int, Double) = (nJobs.get(), jobNanos.get() / 1e9)
    // bench-style warmup at the smallest SF
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    (1 to passes).foreach { p =>
      names.foreach { n =>
        val (j0, s0) = snap()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        Thread.sleep(50) // listener drain
        val (j1, s1) = snap()
        df.count()
        val t2 = System.nanoTime()
        Thread.sleep(50)
        val (j2, s2) = snap()
        spark.catalog.clearCache()
        println(f"[passes] pass $p $n%-34s construct ${(t1 - t0) / 1e9}%7.3f s (${j1 - j0}%2d jobs ${s1 - s0}%6.3f s)  action ${(t2 - t1) / 1e9}%7.3f s (${j2 - j1}%2d jobs ${s2 - s1}%6.3f s)")
      }
    }
    spark.stop()
  }
}
