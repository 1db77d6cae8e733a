package graft

import org.apache.spark.sql.DataFrame

/** Driver-contract smoke: `SparkEntry.entry` must return rows on the
  * sf0.001 flagship — the exact check the round driver runs before
  * anything else. Kept as a spec so `sbt test` exercises the entry
  * path every run instead of only the `queries` map.
  */
class EntrySmokeSpec extends SparkSpec {
  test("entry returns rows on the sf0.001 flagship (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("entry and a native-expression query on a bare session match " +
      "the shared session, on the native plan") {
    // no extensions and no register(): entry may be handed a plain
    // session, and the native functions must register on first use
    val bare = spark.newSession()
    assert(!graft.plans.GraftFunctions.isRegistered(bare))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    assert(rows(SparkEntry.entry(bare)) === rows(SparkEntry.entry(spark)))
    val q = SparkEntry.queries("q_token_entropy")
    val onBare = q(bare, sfDir)
    assert(rows(onBare) === rows(q(spark, sfDir)))
    assert(graft.plans.GraftFunctions.isRegistered(bare))
    assert(onBare.queryExecution.executedPlan.toString
      .contains("tokenentropy6("))
  }
}
