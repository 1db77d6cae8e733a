package graft.tools

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.{SessionCaches, SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {
  private def shuffles(p: SparkPlan): Int = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
      (kids ++ p.subqueries).map(shuffles).sum
  }

  // Spark's ContextCleaner removes a collected session's
  // ExecutionListenerBus at any GC, so those entries come and go with
  // timing; the comparisons below cover every other listener
  private val executionBus = "org.apache.spark.sql.util.ExecutionListenerBus"

  private def listeners() = {
    GraftListenerBus.drain(spark.sparkContext)
    val all = GraftListenerBus.listenerClasses(spark.sparkContext)
    assert(!all.exists(_.startsWith("graft.tools.Profile")), all)
    all.filterNot(_ == executionBus)
  }

  test("Profile.run files every job under a phase, counts the final plan's " +
      "exchanges, lists a throwing query as failed and removes its listener") {
    SessionCaches.ensureHook(spark) // the engine's own one-time hook
    val l0 = listeners()
    val (health, healthFailed) = Profile.run(spark, Seq("q_health"), sfDir)
    val l1 = listeners()
    val (kcore, kcoreFailed) = Profile.run(spark, Seq("q_kcore"), sfDir)
    val l2 = listeners()
    val missing = s"${tempDir("profile")}/missing"
    val (noProfiles, missingFailed) = Profile.run(spark, Seq("q_kcore"), missing)
    val l3 = listeners()
    assert(l1 === l0)
    assert(l3 === l2)
    assert(l1.diff(l2).isEmpty)
    assert(l2.diff(l1).isEmpty)

    assert(healthFailed.isEmpty && kcoreFailed.isEmpty)
    val profiles = health ++ kcore
    assert(profiles.map(_.query) === Seq("q_health", "q_kcore"))
    profiles.foreach { p =>
      assert(p.planJobs === 0, p.query)
      assert(p.constructJobs + p.actionJobs === p.jobs.size, p.query)
      assert(p.jobs.map(_.phase).toSet.subsetOf(Set("construct", "action")), p.query)
      assert(p.actionJobs > 0, p.query)
      assert(p.initialPlan.nonEmpty && p.finalPlan.contains("isFinalPlan=true"), p.query)
    }

    val counted = SparkEntry.queries("q_kcore")(spark, sfDir).groupBy().count()
    counted.collect()
    spark.catalog.clearCache()
    val direct = shuffles(counted.queryExecution.executedPlan)
    assert(direct > 0)
    assert(kcore.head.exchanges === direct)

    assert(missingFailed === Seq("q_kcore"))
    assert(noProfiles.isEmpty)
  }
}
