package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler: steady-state per-job breakdown of one query. Runs
  * the query twice (pass 1 pays build-once artifacts and codegen);
  * prints pass 2's jobs with wall time and call site so eager
  * construct-time work is attributable to code lines.
  * Usage: runMain graft.tools.ProfileJobs <queryName> [sfDir]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_neardup_catalog_retained")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    try graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    // pass 1: artifacts + codegen
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    spark.catalog.clearCache()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.lastOption.map { s =>
          val frames = s.details.split("\n")
          val graftFrame = frames.find(f => f.contains("graft.") &&
            !f.contains("graft.tools")).getOrElse("")
          s.name.takeWhile(_ != '\n').take(50) + " | " + graftFrame.trim.take(80)
        }.getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          done.add(f"job ${j.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
        }
    })
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    df.count()
    val t2 = System.nanoTime()
    Thread.sleep(500)
    println(s"=== $name @ $sfDir (steady-state pass) ===")
    println(f"construct ${(t1 - t0) / 1e9}%.3f s, action ${(t2 - t1) / 1e9}%.3f s")
    done.forEach(l => println(l))
    spark.stop()
  }
}
