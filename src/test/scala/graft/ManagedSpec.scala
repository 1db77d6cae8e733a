package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.dedup.Dedup
import graft.ops.SearchOps
import graft.similarity.Similarity

class ManagedSpec extends SparkSpec {

  // suites share one session, so other specs' caches may be live —
  // assert relatively: release leaves no NEW persisted RDDs behind
  private def assertNoLeak[T](body: => T): T = {
    val before = persistedRddIds
    val out = body
    val leaked = persistedRddIds -- before
    assert(leaked.isEmpty, s"released run left persisted RDDs: $leaked")
    out
  }

  test("managed search leaves no cache behind after the action") {
    val docs = Tables.documents(spark, sfDir)
    val rows = assertNoCacheLeft {
      SearchOps.searchManaged(docs, "merge", size = 5)(_.collect())
    }
    assert(rows.nonEmpty)
  }

  test("managed minhash near-dup releases the signature cache") {
    val docs = Tables.documents(spark, sfDir)
    assertNoLeak {
      Dedup.minhashNearDuplicatesManaged(docs, "doc_id", "text")(_.count())
    }
  }

  test("managed embedding near-dup releases the bucket cache") {
    val emb = Tables.embeddings(spark, sfDir)
    assertNoLeak {
      Similarity.embeddingNearDuplicatesManaged(emb, 0.999)(_.count())
    }
  }

  test("release is idempotent and fires even when the action throws") {
    val docs = Tables.documents(spark, sfDir)
    assertNoCacheLeft {
      // the signature cache is registered when the handle is built
      val m = Dedup.minhashNearDuplicatesManaged(docs, "doc_id", "text")
      intercept[RuntimeException] { m(_ => throw new RuntimeException("boom")) }
      assert(spark.sharedState.cacheManager.isEmpty, "no release on throw")
      m.release() // second release is a no-op
    }
  }

  test("unmanaged variants still return the same rows as managed") {
    val docs = Tables.documents(spark, sfDir)
    val plain = assertNoCacheLeft(SearchOps.search(docs, "merge", size = 5).collect())
    val managed = SearchOps.searchManaged(docs, "merge", size = 5)(_.collect())
    assert(plain.map(_.toString).toSeq === managed.map(_.toString).toSeq)
  }

  test("autoReleased refuses, at the call, an owner holding a " +
      "lineage-cut checkpoint the frame reads") {
    val a = new Artifacts
    val ck = a.checkpoint(spark.range(10).toDF("id"))
    val frame = ck.filter(col("id") > 3)
    intercept[IllegalStateException] { new Managed(frame, a).autoReleased() }
    // the checkpoint stays usable, and is the frame's own once kept
    a.keep(ck)
    assert(new Managed(frame, a).autoReleased().count() === 6)
  }

  test("a row-cached one-shot frame re-derives after its release") {
    val a = new Artifacts
    val cached = a.rows(spark.range(100).toDF("id"))
    val out = new Managed(cached.filter(col("id") % 7 === 0), a).autoReleased()
    assert(leafRddIds(cached).subsetOf(persistedRddIds))
    assert(out.count() === 15)
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    assert(leafRddIds(cached).intersect(persistedRddIds).isEmpty)
    assert(out.filter(lit(true)).count() === 15)
  }

  test("autoReleased frees the pipeline caches after the first action") {
    // the one-shot convenience lifecycle behind the plain containment
    // wrapper and dedupIncrement: the release listener fires on the
    // ASYNC ExecutionListenerBus, so poll (the curate()-spec pattern)
    val docs = Tables.documents(spark, sfDir).limit(60)
    val before = persistedRddIds
    val out = Dedup
      .containmentNearDuplicatesManaged(docs, "doc_id", "text",
        hashMode = "md5")
      .autoReleased()
    assert(out.count() >= 0)
    val deadline = System.currentTimeMillis + 15000
    while ((persistedRddIds -- before).nonEmpty &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    assert((persistedRddIds -- before).isEmpty,
      "autoReleased left pipeline caches persisted after the action")
  }
}
