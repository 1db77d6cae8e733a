package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiler for the iterative graph operators (round-16
  * optimization): runs one distributed-pin query end to end with a
  * job listener, printing every Spark job's wall time, stage count
  * and task count — so the per-round cost splits into its exchange /
  * checkpoint / readout parts instead of being guessed at.
  * Usage: runMain graft.tools.ProfileGraphRounds <queryName> [sfDir]
  */
object ProfileGraphRounds {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_communities")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    // warm codegen on the smallest SF so the profiled run isn't
    // dominated by first-plan compilation
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(), j.stageInfos.size))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stageTasks.put(s.stageInfo.stageId,
          (s.stageInfo.numTasks, s.stageInfo.name.takeWhile(_ != '\n').take(60)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach { case (t0, nStages) =>
          done.add(f"job ${j.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%7.3f s  $nStages%2d stages")
        }
      }
    })
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    df.count()
    val t2 = System.nanoTime()
    // let listener events drain
    Thread.sleep(1000)
    println(s"=== $name @ $sfDir ===")
    println(f"construct (rounds run here): ${(t1 - t0) / 1e9}%.3f s, final action: ${(t2 - t1) / 1e9}%.3f s")
    done.forEach(l => println(l))
    spark.stop()
  }
}
