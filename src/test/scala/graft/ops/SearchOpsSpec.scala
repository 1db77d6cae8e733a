package graft.ops

import graft.{SparkSpec, Tables}
import graft.similarity.{VectorCodec, VectorStore}

class SearchOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfDir)

  test("title hits outrank body hits (title^2 boost)") {
    val df = Seq(
      (1L, "merge", "nothing relevant here", "en", 20L),
      (2L, "other", "merge once", "en", 10L)
    ).toDF("doc_id", "source", "text", "lang", "n_chars")
    val r = SearchOps.search(df, "merge").collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 2L)) // 2 pts beats 1 pt
    assert(r(0).getAs[Long]("score") === 2L)
  }

  test("null field still matches on the other field; empty query rejected") {
    val docs = Seq(
      (1L, "merge proposal", Option("merge details inside"), "en", 100L),
      (2L, "merge proposal", Option.empty[String], "en", 100L) // null body
    ).toDF("doc_id", "source", "text", "lang", "n_chars")
    val hits = assertNoCacheLeft(SearchOps.search(docs, "merge").collect())
      .map(_.getLong(0)).toSet
    assert(hits === Set(1L, 2L)) // title-only match survives null body
    intercept[IllegalArgumentException] { SearchOps.search(docs, "") }
  }

  test("fuzziness AUTO thresholds") {
    assert(SearchOps.autoFuzziness("ab") === 0)
    assert(SearchOps.autoFuzziness("abc") === 1)
    assert(SearchOps.autoFuzziness("abcdef") === 2)
  }

  test("fuzzy search matches within edit distance, exact does not") {
    val exact = SearchOps.search(docs, "mergee", size = 100).count()
    val fuzzy = SearchOps.search(docs, "mergee", fuzzy = true, size = 100).count()
    assert(exact === 0) // 'mergee' never appears literally
    assert(fuzzy > 0)   // but 'merge' is 1 edit away
  }

  test("pagination disjoint; total_hits constant across pages") {
    val p1 = SearchOps.search(docs, "merge", from = 0, size = 5).collect()
    val p2 = SearchOps.search(docs, "merge", from = 5, size = 5).collect()
    assert(p1.map(_.getLong(0)).toSet.intersect(p2.map(_.getLong(0)).toSet).isEmpty)
    val totals = (p1 ++ p2).map(_.getAs[Long]("total_hits")).toSet
    assert(totals.size === 1)
  }

  test("pages from = 0, 5, 10 … end to end equal one large page, ties " +
      "included; every row carries the same total_hits") {
    // a one-letter word: most documents match, many with equal scores
    val q = "e"
    val big = SearchOps.search(docs, q, size = 60).collect()
    val pages = (0 until 60 by 5).flatMap(f =>
      SearchOps.search(docs, q, from = f, size = 5).collect())
    assert(big.length === 60)
    assert(pages.map(_.toSeq) === big.map(_.toSeq).toSeq)
    val scores = big.map(_.getAs[Long]("score"))
    assert(scores.distinct.length < scores.length) // ties cross page ends
    // the page order is the full sort of the match set
    val matches = docs.withColumn("score",
        SearchOps.score($"source", $"text", q)).filter($"score" > 0)
    val sorted = matches.orderBy($"score".desc, $"doc_id").limit(60)
      .select("doc_id", "lang", "n_chars", "score").collect()
    assert(big.map(r => r.toSeq.dropRight(1)).toSeq === sorted.map(_.toSeq).toSeq)
    val totals = (big ++ pages).map(_.getAs[Long]("total_hits")).toSet
    assert(totals === Set(matches.count()))
  }

  test("paging arguments: size 0 is an empty page, negative from or size " +
      "and pages past MaxResultWindow are refused") {
    val enriched = graft.streaming.Pipelines.qualityEnrich(
      graft.cdc.Cdc.syntheticEnvelopes(docs))
    def enrichedPage(from: Int, size: Int) =
      SearchOps.searchEnriched(enriched, "e", 0.0, excludePii = false,
        from = from, size = size)
    assert(SearchOps.search(docs, "e", size = 0).collect().isEmpty)
    assert(SearchOps.search(docs, "e", from = 7, size = 0).collect().isEmpty)
    assert(enrichedPage(0, 0).collect().isEmpty)
    for ((from, size) <- Seq((-1, 10), (0, -1),
        (SearchOps.MaxResultWindow, 1), (Int.MaxValue, Int.MaxValue))) {
      intercept[IllegalArgumentException] {
        SearchOps.search(docs, "e", from = from, size = size)
      }
      intercept[IllegalArgumentException] { enrichedPage(from, size) }
    }
  }

  test("plain search and searchEnriched: at most 2 jobs each, no cache " +
      "left behind") {
    val dir = tempDir("graft-search-jobs")
    // the enriched corpus as a parquet read, like the live index
    graft.streaming.Pipelines.qualityEnrich(graft.cdc.Cdc.syntheticEnvelopes(docs))
      .write.parquet(s"$dir/enriched")
    val enriched = spark.read.parquet(s"$dir/enriched")
    for (page <- Seq(SearchOps.search(docs, "merge", size = 5),
        SearchOps.searchEnriched(enriched, "merge", 50.0, excludePii = true,
          size = 5))) {
      val (rows, log) = assertNoCacheLeft(logJobs(page.collect()))
      assert(rows.nonEmpty)
      assert(log.jobs.get <= 2, s"${log.jobs.get} jobs")
    }
  }

  test("filters restrict the match set") {
    val all = SearchOps.search(docs, "merge", size = 1000).count()
    val en = SearchOps.search(docs, "merge", lang = Some("en"), size = 1000).count()
    assert(en <= all && en > 0)
  }

  test("highlight wraps the matched term") {
    val r = SearchOps.searchWithHighlight(docs, "window", 5).collect()
    assert(r.nonEmpty)
    assert(r.exists(_.getAs[String]("snippet").contains("<em>window</em>")))
  }

  test("BM25: tf saturation, idf rarity, length normalization") {
    val corpus = Seq(
      (1L, "merge merge merge merge merge"),          // high tf, short
      (2L, "merge"),                                  // tf=1, shortest
      (3L, "merge " + Seq.fill(95)("pad").mkString(" ")), // tf=1, long
      (4L, "rareterm"),
      (5L, "pad pad pad")                             // no query terms
    ).toDF("doc_id", "text")
    val r = SearchOps.searchBm25(corpus, Seq("merge", "rareterm"), 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(!r.contains(5L)) // non-matching docs never surface
    // tf saturation: 5 occurrences score higher than 1, but < 5x
    assert(r(1L) > r(2L) && r(1L) < 5 * r(2L))
    // length normalization: same tf, longer doc scores lower
    assert(r(2L) > r(3L))
    // idf: the rarer term (df=1 vs df=3) outscores at equal tf/length
    assert(r(4L) > r(2L))
  }

  test("BM25 over the corpus ranks deterministically with doc_id ties") {
    val r = SearchOps.searchBm25(docs, Seq("merge", "query"), 10).collect()
    assert(r.length === 10)
    val scores = r.map(_.getDouble(1))
    assert(scores.sorted(Ordering[Double].reverse).toSeq === scores.toSeq)
  }

  test("retrievalEval: metrics match a per-row Scala reference over the corpus") {
    import org.apache.spark.sql.functions.col
    val queries = Seq("merge+query" -> Seq("merge", "query"),
      "sort+window" -> Seq("sort", "window"))
    val out = SearchOps.retrievalEval(docs, queries, 10).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("merge+query", "sort+window"))
    // Scala reference: whitespace tokenize, relevance = every term
    // ≥3 times, ranking = the already-spec'd searchBm25
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    queries.foreach { case (label, terms) =>
      val rel = texts.filter { case (_, ws) =>
        terms.forall(t => ws.count(_ == t) >= 3)
      }.keySet
      val ranked = SearchOps.searchBm25(docs, terms, 10).collect()
        .map(_.getLong(0)).toSeq
      val hits = ranked.filter(rel)
      val fr = ranked.zipWithIndex.collectFirst {
        case (id, i) if rel(id) => i + 1
      }
      val r = out(label)
      assert(r.getLong(1) === rel.size.toLong, s"$label n_relevant")
      assert(r.getLong(2) === hits.size.toLong, s"$label n_hit")
      assert(r.getInt(3) === fr.getOrElse(0), s"$label first_rank")
      val mrr = fr.map(x => BigDecimal(1.0 / x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).getOrElse(0.0)
      assert(r.getDouble(4) === mrr, s"$label mrr")
      assert(r.getDouble(5) === hits.size / 10.0, s"$label p_at_k")
      val rk = if (rel.nonEmpty) BigDecimal(hits.size.toDouble / rel.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      assert(r.getDouble(6) === rk, s"$label r_at_k")
    }
    // a query whose terms never reach the tf floor: zero relevant,
    // recall pinned to 0.0 rather than a division error
    val none = SearchOps.retrievalEval(docs,
      Seq("nohit" -> Seq("zzzznotaword")), 5).collect()
    assert(none.length === 1)
    assert(none(0).getLong(1) === 0L && none(0).getDouble(6) === 0.0)
  }

  test("hybrid RRF fuses lexical and semantic ranks; single-list docs score once") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sfDir)
    val out = SearchOps.hybridSearch(docs, emb, Seq("merge", "query"), 0L, 20,
      depth = 30).collect()
    assert(out.length === 20)
    // fused scores are the hand-computed reciprocal sums of the ranks
    out.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val sem = if (r.isNullAt(2)) None else Some(r.getInt(2))
      assert(lex.isDefined || sem.isDefined)
      val expect = BigDecimal(
        lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          sem.map(x => 1.0 / (60 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === expect, s"doc ${r.getLong(0)}")
    }
    // descending by fused score, doc_id tiebreak
    val scores = out.map(_.getDouble(3))
    assert(scores.sorted(Ordering[Double].reverse).toSeq === scores.toSeq)
    // a doc topping BOTH branch rankings must top the fusion
    val bm1 = SearchOps.searchBm25(docs, Seq("merge", "query"), 1)
      .collect()(0).getLong(0)
    val knn1 = graft.similarity.Similarity.bruteForceTopK(emb, 0L, 1)
      .collect()(0).getLong(0)
    if (bm1 == knn1) assert(out(0).getLong(0) === bm1)
  }

  test("BM25 from+size pages partition the ranked list in order") {
    // page 1 ++ page 2 must equal the top 10 exactly (the reference
    // API pages ES results with from+size — search/main.py:79-80)
    val top10 = SearchOps.searchBm25(docs, Seq("merge", "query"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val p1 = SearchOps.searchBm25(docs, Seq("merge", "query"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val p2 = SearchOps.searchBm25(docs, Seq("merge", "query"), 5, from = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p1 ++ p2 === top10)
  }

  test("BM25 index: served ranking ≡ one-shot; buckets prune; no tokenize") {
    val dir = tempDir("graft-bm25")
    SearchOps.writeBm25Index(docs, dir)
    val terms = Seq("merge", "query")
    val served = SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
    val oneShot = SearchOps.searchBm25(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === oneShot)
    val p = served.queryExecution.executedPlan.toString
    // literal term buckets inside PartitionFilters = directory pruning
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined, p)
    // the served plan never tokenizes: zero generators
    assert(!p.contains("Generate"), p)
    // paging parity on the served path too
    val sp1 = SearchOps.searchBm25FromIndex(spark, dir, terms, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val sp2 = SearchOps.searchBm25FromIndex(spark, dir, terms, 5, from = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sp1 ++ sp2 === oneShot)
  }

  test("past termLiteralMax the postings term filter is a broadcast " +
      "join (O(1) plan in the term count), rows ≡ the literal path; " +
      "bucket directory pruning survives") {
    val dir = tempDir("graft-bm25tl")
    SearchOps.writeBm25Index(docs, dir)
    val terms = Seq("merge", "query", "sort", "window")
    def run() = SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
    val literal = run().collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.conf.set("spark.graft.termLiteralMax", "1")
    try {
      val served = run()
      val p = served.queryExecution.executedPlan.toString
      // the term frame rides a broadcast join, not an In literal...
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!("term#\\d+ IN \\(".r.findFirstIn(p).isDefined ||
        p.contains("term IN (")), p.take(2000))
      // ...while bucket directory pruning is unaffected
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p)
        .isDefined, p.take(2000))
      assert(served.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq === literal)
    } finally spark.conf.unset("spark.graft.termLiteralMax")
  }

  test("term-bucketed postings serve ≡ path-layout serve; the df " +
      "re-aggregation rides the bucket layout exchange-free and the " +
      "term predicate prunes bucket files") {
    val dir = tempDir("graft-bm25bkt")
    SearchOps.writeBm25Index(docs, dir)
    SearchOps.writeBm25BucketedPostings(spark, dir, "b_postings", 8)
    try {
      val terms = Seq("merge", "query")
      val path = SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
      val bkt = SearchOps.searchBm25FromBucketedPostings(spark, dir,
        "b_postings", terms, 10)
      assert(bkt.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === path.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      val pPlan = path.queryExecution.executedPlan.toString
      val bPlan = bkt.queryExecution.executedPlan.toString
      // path layout: the df groupBy(term) re-aggregation shuffles on
      // term; bucketed: term grouping rides the write-time layout —
      // no term exchange anywhere in the plan (the doc-score agg's
      // doc_id exchange remains in both, it is not on the bucket key)
      assert("hashpartitioning\\(term".r.findFirstIn(pPlan).isDefined,
        pPlan.take(1500))
      assert("hashpartitioning\\(term".r.findFirstIn(bPlan).isEmpty,
        bPlan.take(1500))
      // the term predicate reaches the bucketed scan as FILE pruning
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(bPlan)
      assert(sel.isDefined, bPlan.take(1500))
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        sel.get.matched)
    } finally spark.sql("DROP TABLE IF EXISTS b_postings")
  }

  test("retrievalEvalFromIndex ≡ one-shot eval, on a postings-pruned scan") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-ev")
    SearchOps.writeBm25Index(docs, dir)
    val queries = Seq("merge+query" -> Seq("merge", "query"),
      "nohit" -> Seq("zzzznotaword"))
    val oneShot = SearchOps.retrievalEval(docs, queries, 10).collect().toSeq
    val served = SearchOps.retrievalEvalFromIndex(spark, dir, queries, 10)
    assert(served.collect().toSeq === oneShot)
    // the eval batch reads the postings through a bucket
    // PartitionFilter — never the corpus
    val plan = served.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    assert(!plan.contains("documents"))
  }

  test("appendToBm25Index ≡ full rebuild: stats, postings, served ranking") {
    import org.apache.spark.sql.functions.col
    val full = tempDir("graft-bm25-full")
    val inc = tempDir("graft-bm25-inc")
    SearchOps.writeBm25Index(docs, full)
    SearchOps.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 1), inc)
    // two appended batches — the merged scalars must stay exact
    SearchOps.appendToBm25Index(docs.filter(col("doc_id") % 6 === 1), inc, "b1")
    SearchOps.appendToBm25Index(docs.filter(col("doc_id") % 6 === 4), inc, "b2")
    // a RETRY of an already-landed batch (the partial-failure
    // recovery path) must be a no-op on served state: the same key
    // dynamic-overwrites exactly its own partitions, never doubling
    // tf/df or the stats ledger
    SearchOps.appendToBm25Index(docs.filter(col("doc_id") % 6 === 4), inc, "b2")
    // the stats LEDGER sums to the same exact longs (full: one build
    // row; inc: build row + two appended batch rows) — equal longs
    // derive a bit-identical average at serving time by construction
    def scalars(dir: String): (Long, Long) = {
      val rows = spark.read.parquet(dir + "/stats").collect()
      (rows.map(_.getAs[Long]("n_docs")).sum,
        rows.map(_.getAs[Long]("sum_dl")).sum)
    }
    assert(spark.read.parquet(inc + "/stats").count() === 3L)
    assert(scalars(inc) === scalars(full))
    def postings(dir: String) = spark.read.parquet(dir + "/postings")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        col("bucket").cast("long")) // partition columns read back INT
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(postings(inc) === postings(full))
    val servedFull = SearchOps.searchBm25FromIndex(spark, full,
      Seq("merge", "query"), 10).collect().toSeq
    val servedInc = SearchOps.searchBm25FromIndex(spark, inc,
      Seq("merge", "query"), 10).collect().toSeq
    assert(servedInc === servedFull)
  }

  test("deleteFromBm25Index: tombstoned serving ≡ rebuild-on-remaining; " +
      "retries and overlapping batches never double-subtract; " +
      "compaction is invisible to serving and drops the tombstones") {
    import org.apache.spark.sql.functions.col
    val del = tempDir("graft-bm25-del")
    val reb = tempDir("graft-bm25-reb")
    val terms = Seq("merge", "query")
    SearchOps.writeBm25Index(docs, del)
    SearchOps.writeBm25Index(docs.filter(col("doc_id") % 7 =!= 3), reb)
    val ids = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    SearchOps.deleteFromBm25Index(ids, del, "d1")
    // a RETRY of the same batch (partial-failure recovery) must be a
    // no-op on ledger state, and a SECOND batch overlapping the first
    // must subtract only its genuinely-new ids
    SearchOps.deleteFromBm25Index(ids, del, "d1")
    SearchOps.deleteFromBm25Index(
      docs.filter(col("doc_id") % 14 === 3).select(col("doc_id")), del, "d2")
    def scalars(dir: String): (Long, Long) = {
      val rows = spark.read.parquet(dir + "/stats").collect()
      (rows.map(_.getAs[Long]("n_docs")).sum,
        rows.map(_.getAs[Long]("sum_dl")).sum)
    }
    assert(scalars(del) === scalars(reb))
    val want = SearchOps.searchBm25FromIndex(spark, reb, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(SearchOps.searchBm25FromIndex(spark, del, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
    // compaction: same served values, tombstones gone, ledger is one
    // build row with the remaining-corpus exact longs
    SearchOps.compactBm25Index(spark, del)
    assert(!new java.io.File(del + "/tombstones").exists())
    assert(spark.read.parquet(del + "/stats").count() === 1L)
    assert(scalars(del) === scalars(reb))
    assert(SearchOps.searchBm25FromIndex(spark, del, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
    // the compacted layout still accepts appends (partition columns
    // preserved through the rewrite)
    SearchOps.appendToBm25Index(docs.filter(col("doc_id") % 7 === 3), del,
      "readd")
    val full = SearchOps.searchBm25FromIndex(spark, del, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fullWant = SearchOps.searchBm25(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === fullWant)
  }

  test("searchBm25FromIndexAsOf: every batch-prefix snapshot ≡ the " +
      "rebuild at that point in history; batch_id prunes partitions") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-asof")
    val terms = Seq("merge", "query")
    val base = docs.filter(col("doc_id") % 4 === 0)
    val a1 = docs.filter(col("doc_id") % 4 === 1)
    val a2 = docs.filter(col("doc_id") % 4 === 2)
    SearchOps.writeBm25Index(base, dir)
    SearchOps.appendToBm25Index(a1, dir, "a1")
    SearchOps.appendToBm25Index(a2, dir, "a2")
    SearchOps.deleteFromBm25Index(
      base.filter(col("doc_id") % 8 === 0).select(col("doc_id")), dir, "d1")
    def rebuildAt(df: org.apache.spark.sql.DataFrame) = {
      val p = tempDir("graft-bm25-rb")
      SearchOps.writeBm25Index(df, p)
      SearchOps.searchBm25FromIndex(spark, p, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    def asOf(bs: String*) =
      SearchOps.searchBm25FromIndexAsOf(spark, dir, terms, 10, bs)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(asOf("build") === rebuildAt(base))
    assert(asOf("build", "a1") === rebuildAt(base.unionByName(a1)))
    assert(asOf("build", "a1", "a2") ===
      rebuildAt(base.unionByName(a1).unionByName(a2)))
    // naming the delete batch makes its tombstones + ledger row
    // visible: the full history ≡ today's unrestricted serving
    assert(asOf("build", "a1", "a2", "d1") ===
      SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // time travel is partition pruning: batch_id rides the postings
    // scan's PartitionFilters next to the term buckets
    val plan = SearchOps.searchBm25FromIndexAsOf(spark, dir, terms, 10,
        Seq("build")).queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(plan.contains("PartitionFilters") && plan.contains("batch_id"))
    // the ledger IS the history: one exact row per batch, the delete
    // batch as its negative correction, and the rows sum to serving's
    // scalars
    val hist = SearchOps.bm25IndexHistory(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hist.keySet === Set("build", "a1", "a2", "del-d1"))
    assert(hist("build")._1 === base.count())
    assert(hist("a1")._1 === a1.count() && hist("a2")._1 === a2.count())
    assert(hist("del-d1")._1 ===
      -base.filter(col("doc_id") % 8 === 0).count())
    val live = spark.read.parquet(dir + "/stats")
      .agg(org.apache.spark.sql.functions.sum(col("n_docs"))).head.getLong(0)
    assert(live === hist.values.map(_._1).sum)
    // compaction destroys history: serving is unchanged, the whole
    // state answers as "build", and naming a pre-compaction batch
    // fails LOUDLY instead of pairing its postings with global stats
    val before = SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    SearchOps.compactBm25Index(spark, dir)
    assert(SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === before)
    assert(asOf("build") === before)
    intercept[IllegalArgumentException] {
      SearchOps.searchBm25FromIndexAsOf(spark, dir, terms, 10,
        Seq("build", "a1")).collect()
    }
  }

  test("BM25 term buckets: driver-side assignment matches the written column") {
    // the probe's literal IN-list is computed on the driver; a drift
    // from the executor-side md5 bucketing would silently prune the
    // WRONG directories (empty results, no error) — pin exact parity
    import org.apache.spark.sql.functions._
    val sample = docs.select(explode(graft.functions.TextFunctions
        .words(col("text"))).as("term"))
      .distinct().limit(200)
    val both = sample
      .select(col("term"), SearchOps.termBucketCol(col("term")).as("b"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r =>
      assert(SearchOps.termBucket(r.getString(0)) === r.getLong(1),
        r.getString(0)))
  }

  test("hybridSearchIndexed ≡ hybridSearch on the shared corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tempDir("graft-bm25h")
    SearchOps.writeBm25Index(docs, dir)
    val direct = SearchOps.hybridSearch(docs, emb, Seq("merge", "query"),
      0L, 20).collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val indexed = SearchOps.hybridSearchIndexed(dir, emb,
      Seq("merge", "query"), 0L, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(indexed === direct)
  }

  test("hybridMultiSearchServed: batched fully-served hybrid ≡ " +
      "per-query hybridSearchServed rows") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val bm25Dir = tempDir("graft-bm25m")
    SearchOps.writeBm25Index(docs, bm25Dir)
    val Similarity = graft.similarity.Similarity
    val cents = Similarity.seedCentroids(emb, 16)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val pqDir = tempDir("graft-pqm") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, pqDir)
    val pqIndex = spark.read.parquet(pqDir)
    val qs = Seq(0L -> Seq("merge", "query"), 1L -> Seq("sort", "window"))
    val multi = SearchOps.hybridMultiSearchServed(spark, bm25Dir,
      pqIndex, emb, cents, cb, qs, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      .groupBy(_._1)
    qs.foreach { case (vid, terms) =>
      val qv = emb.filter(col("vec_id") === vid)
        .selectExpr("cast(embedding as array<double>)")
        .head().getSeq[Double](0).toVector
      val single = SearchOps.hybridSearchServed(spark, bm25Dir, pqIndex,
        emb, cents, cb, terms, qv, 10).collect()
        .map(r => (vid, r.getLong(0), r.getDouble(3))).toSeq
      assert(multi(vid).toSeq === single, s"query $vid")
    }
  }

  test("keyed batched hybrid over bucketed postings ≡ path serve at " +
      "large Q: broadcast term frame, zero term exchange on the " +
      "postings side") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val bm25Dir = tempDir("graft-bm25hbkt")
    SearchOps.writeBm25Index(docs, bm25Dir)
    SearchOps.writeBm25BucketedPostings(spark, bm25Dir, "hb_postings", 8)
    val Similarity = graft.similarity.Similarity
    val cents = Similarity.seedCentroids(emb, 16)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val pqDir = tempDir("graft-pqhbkt") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, pqDir)
    val pqIndex = spark.read.parquet(pqDir)
    val qs = Seq((0L, Seq("merge", "query"), 0L),
      (1L, Seq("sort", "window"), 1L), (2L, Seq("alpha", "merge"), 2L))
    def run(bkt: Option[String]) =
      SearchOps.hybridMultiSearchServedKeyed(spark, bm25Dir, pqIndex,
        emb, cents, cb, qs, 10, bucketedPostings = bkt)
    val viaPath = run(None).collect().map(_.toSeq).toSeq
    // termLiteralMax = 1 simulates the Q≈10⁴ regime: the term union
    // exceeds any literal budget, so the restriction must ride a
    // broadcast term-frame join on BOTH layouts
    spark.conf.set("spark.graft.termLiteralMax", "1")
    try {
      val pathPlan = run(None).queryExecution.executedPlan.toString
      val bkt = run(Some("hb_postings"))
      val bktPlan = bkt.queryExecution.executedPlan.toString
      // hashes unchanged: identical rows to the path-layout serve
      assert(bkt.collect().map(_.toSeq).toSeq === viaPath)
      // path layout re-aggregates df with a term shuffle; the
      // bucketed layout plans ZERO exchange on the postings side
      assert("hashpartitioning\\(term".r.findFirstIn(pathPlan).isDefined,
        pathPlan.take(1500))
      assert("hashpartitioning\\(term".r.findFirstIn(bktPlan).isEmpty,
        bktPlan.take(1500))
      // the term restriction is a join (no plan-sized In literal) and
      // still prunes bucket FILES on the bucketed layout
      assert(!bktPlan.contains("term IN ("), bktPlan.take(1500))
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(bktPlan)
      assert(sel.isDefined, bktPlan.take(1500))
    } finally {
      spark.conf.unset("spark.graft.termLiteralMax")
      spark.sql("DROP TABLE IF EXISTS hb_postings")
    }
  }

  test("as-of over a PURE stream-built index: numeric micro-batch ids " +
      "serve as string batch names (partition-type inference)") {
    import org.apache.spark.sql.functions.col
    // a stream-only index's batch_id partition values are the sink's
    // numeric micro-batch ids (0,1,…) — Spark's partition-type
    // inference reads the column back as INTEGER, so the as-of path
    // must compare as string or the ledger check ClassCastExceptions
    val dir = tempDir("graft-bm25-num") + "/idx"
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    graft.streaming.Pipelines.processBm25IngestBatch(b0, dir, 0L)
    graft.streaming.Pipelines.processBm25IngestBatch(b1, dir, 1L)
    val terms = Seq("merge", "query")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rb = tempDir("graft-bm25-numrb")
    SearchOps.writeBm25Index(b0, rb)
    assert(ranked(SearchOps.searchBm25FromIndexAsOf(spark, dir, terms, 10,
      Seq("0"))) === ranked(SearchOps.searchBm25FromIndex(spark, rb, terms, 10)))
    assert(ranked(SearchOps.searchBm25FromIndexAsOf(spark, dir, terms, 10,
      Seq("0", "1"))) ===
      ranked(SearchOps.searchBm25FromIndex(spark, dir, terms, 10)))
    intercept[IllegalArgumentException] {
      SearchOps.searchBm25FromIndexAsOf(spark, dir, terms, 10, Seq("7"))
        .collect()
    }
  }

  test("batchKey reservations: \"del-\" prefix rejected everywhere; a " +
      "manual key shaped like a registered delete stream's is rejected") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-res")
    SearchOps.writeBm25Index(docs, dir)
    // an append named "del-x" would pair batch "x" with this ledger
    // row in the as-of existence check — reserved
    intercept[IllegalArgumentException] {
      SearchOps.appendToBm25Index(docs.limit(1), dir, "del-x")
    }
    intercept[IllegalArgumentException] {
      SearchOps.deleteFromBm25Index(
        docs.select(col("doc_id")).limit(1), dir, "del-x")
    }
    // the delete sink registers its prefix; a later MANUAL delete
    // under "sweep-5" would be dynamic-overwritten by that stream's
    // replay of micro-batch 5 — rejected loudly
    graft.streaming.Pipelines.processBm25DeleteBatch(
      docs.select(col("doc_id")).limit(1), dir, 0L, keyPrefix = "sweep")
    intercept[IllegalArgumentException] {
      SearchOps.deleteFromBm25Index(
        docs.select(col("doc_id")).limit(2), dir, "sweep-5")
    }
    // a non-digit suffix is not sink-shaped — still allowed
    SearchOps.deleteFromBm25Index(
      docs.select(col("doc_id")).limit(2), dir, "sweep-x")
    // a misconfigured empty prefix fails on batch 0 even when empty
    intercept[IllegalArgumentException] {
      graft.streaming.Pipelines.processBm25DeleteBatch(
        docs.select(col("doc_id")).limit(0), dir, 0L, keyPrefix = "")
    }
  }

  test("compactBm25IndexKeeping: folded window collapses with erasure " +
      "applied physically; the kept-part correction re-materializes " +
      "as retained tombstones + an exact ledger row") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-ret")
    val terms = Seq("merge", "query")
    SearchOps.writeBm25Index(
      docs.filter(col("doc_id") % 8 =!= 5 && col("doc_id") % 8 =!= 6), dir)
    SearchOps.appendToBm25Index(
      docs.filter(col("doc_id") % 8 === 5), dir, "w1")
    SearchOps.appendToBm25Index(
      docs.filter(col("doc_id") % 8 === 6), dir, "w2")
    SearchOps.deleteFromBm25Index(
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), dir,
      "del1")
    def serve(p: String, asOf: Option[Seq[String]] = None) =
      asOf.fold(SearchOps.searchBm25FromIndex(spark, p, terms, 10))(bs =>
        SearchOps.searchBm25FromIndexAsOf(spark, p, terms, 10, bs))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = serve(dir)

    // guards: the collapse target and the reserved delete key can't
    // be named; unknown names fail loudly
    intercept[IllegalArgumentException] {
      SearchOps.compactBm25IndexKeeping(spark, dir, Seq("build", "w2"))
    }
    intercept[IllegalArgumentException] {
      SearchOps.compactBm25IndexKeeping(spark, dir, Seq("retained"))
    }
    intercept[IllegalArgumentException] {
      SearchOps.compactBm25IndexKeeping(spark, dir, Seq("w9"))
    }

    SearchOps.compactBm25IndexKeeping(spark, dir, Seq("w2"))
    // serving is invariant under retention
    assert(serve(dir) === before)
    // the ledger now states exactly each partition set's contribution:
    // folded build, kept w2 raw, and the exact negative kept-part
    // correction — compare each against a fresh reference index's row
    def refStats(sub: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val t = tempDir("graft-bm25-ref")
      SearchOps.writeBm25Index(sub, t)
      val r = spark.read.parquet(t + "/stats").collect().head
      (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))
    }
    val ledger = spark.read.parquet(dir + "/stats").collect()
      .map(r => r.getAs[String]("batch_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))).toMap
    assert(ledger.keySet === Set("build", "w2", "del-retained"))
    assert(ledger("build") === refStats(
      docs.filter(col("doc_id") % 8 =!= 6 && col("doc_id") % 7 =!= 3)))
    assert(ledger("w2") === refStats(docs.filter(col("doc_id") % 8 === 6)))
    val (rc, rs) = refStats(
      docs.filter(col("doc_id") % 8 === 6 && col("doc_id") % 7 === 3))
    assert(ledger("del-retained") === (-rc, -rs))
    // retained tombstones cover exactly the kept batch's erased docs
    val tombs = spark.read.parquet(dir + "/tombstones")
      .filter(col("batch_id").cast("string") === "retained")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tombs === docs
      .filter(col("doc_id") % 8 === 6 && col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // as-of: the fold is self-consistent (folded postings against
    // folded-only scalars ≡ a fresh rebuild); the folded name is gone
    val reb = tempDir("graft-bm25-rfold")
    SearchOps.writeBm25Index(
      docs.filter(col("doc_id") % 8 =!= 6 && col("doc_id") % 7 =!= 3), reb)
    assert(serve(dir, Some(Seq("build"))) === serve(reb))
    intercept[IllegalArgumentException] {
      serve(dir, Some(Seq("w1")))
    }
    // omitting the retained delete reproduces pre-erasure history for
    // the KEPT docs only (folded erasure is physical, the named-delete
    // visibility rule for the rest)
    val reb2 = tempDir("graft-bm25-rpre")
    SearchOps.writeBm25Index(
      docs.filter(col("doc_id") % 8 === 6 || col("doc_id") % 7 =!= 3), reb2)
    assert(serve(dir, Some(Seq("build", "w2"))) === serve(reb2))
    // ...and naming it restores the erased view
    assert(serve(dir, Some(Seq("build", "w2", "retained"))) === before)
    // maintenance keeps composing after retention
    SearchOps.appendToBm25Index(
      docs.filter(col("doc_id") % 8 === 5 && col("doc_id") % 7 === 3),
      dir, "w3")
    val reb3 = tempDir("graft-bm25-rw3")
    SearchOps.writeBm25Index(docs.filter(col("doc_id") % 7 =!= 3 ||
      (col("doc_id") % 8 === 5 && col("doc_id") % 7 === 3)), reb3)
    assert(serve(dir) === serve(reb3))
  }

  test("compactBm25IndexKeeping: the common retention case — every " +
      "delete folded, no kept-part corrections — removes the " +
      "tombstones root so serving keeps working") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-ret0")
    val terms = Seq("merge", "query")
    SearchOps.writeBm25Index(
      docs.filter(col("doc_id") % 8 =!= 6), dir)
    SearchOps.appendToBm25Index(
      docs.filter(col("doc_id") % 8 === 6), dir, "w1")
    // delete docs that live ONLY in the folded build (doc_id%8 != 6),
    // so after folding w1-keeping retention there is no kept-part
    // correction and no kept delete batch
    SearchOps.deleteFromBm25Index(
      docs.filter(col("doc_id") % 8 === 2).select(col("doc_id")), dir,
      "del1")
    def serve(p: String) =
      SearchOps.searchBm25FromIndex(spark, p, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = serve(dir)
    SearchOps.compactBm25IndexKeeping(spark, dir, Seq("w1"))
    // the empty tombstones/ root is gone — a directory with no data
    // files would fail every later read with "Unable to infer schema"
    assert(!new java.io.File(dir + "/tombstones").exists())
    assert(serve(dir) === before)
    // and the whole maintenance family still composes on the index
    SearchOps.deleteFromBm25Index(
      docs.filter(col("doc_id") % 8 === 6).select(col("doc_id")).limit(5),
      dir, "del2")
    assert(serve(dir).nonEmpty)
  }

  test("\"retained\" is reserved: appends and deletes under " +
      "retention's tombstone key are rejected loudly") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-resv")
    SearchOps.writeBm25Index(docs.filter(col("doc_id") < 100), dir)
    intercept[IllegalArgumentException] {
      SearchOps.appendToBm25Index(docs.limit(1), dir, "retained")
    }
    intercept[IllegalArgumentException] {
      SearchOps.deleteFromBm25Index(
        docs.select(col("doc_id")).limit(1), dir, "retained")
    }
  }

  test("tombstone broadcast budget: past the byte budget the hint is " +
      "dropped and serving still matches the broadcast plan's result") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-bm25-tbud")
    val terms = Seq("merge", "query")
    SearchOps.writeBm25Index(docs, dir)
    SearchOps.deleteFromBm25Index(
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), dir,
      "del1")
    def serve() = SearchOps.searchBm25FromIndex(spark, dir, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val hinted = serve()
    spark.conf.set("spark.graft.tombstoneBroadcastBudget", "0")
    try {
      // the anti-join falls back to a planner-chosen join — results
      // are identical, no forced broadcast of an unbounded erasure set
      assert(serve() === hinted)
    } finally spark.conf.unset("spark.graft.tombstoneBroadcastBudget")
  }

  test("hybridEval refuses duplicate query labels (shared label would " +
      "merge two queries into one plausible-but-wrong metrics row)") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = graft.similarity.Similarity.seedCentroids(emb, 4)
    val cb = graft.similarity.Similarity.pqBuild(emb, m = 8, ksub = 4,
      iterations = 1)
    val e = intercept[IllegalArgumentException] {
      SearchOps.hybridEval(spark, "/nonexistent", emb, emb, cents, cb,
        Seq(("q", Seq("alpha"), 0L), ("q", Seq("beta"), 1L)), 5)
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("hybridEval accepts two labels sharing one vector id (term " +
      "formulations against the same relevance vector) — each row ≡ " +
      "its own single-query eval") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val bm25Dir = tempDir("graft-bm25shv")
    SearchOps.writeBm25Index(docs, bm25Dir)
    val Similarity = graft.similarity.Similarity
    val cents = Similarity.seedCentroids(emb, 16)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val pqDir = tempDir("graft-pqshv") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, pqDir)
    val pqIndex = spark.read.parquet(pqDir)
    // two term formulations, ONE shared relevance vector (vec 0) —
    // the round-15 batched serve refused this shape outright
    val shared = Seq(("fa", Seq("merge", "query"), 0L),
      ("fb", Seq("sort", "window"), 0L))
    val both = SearchOps.hybridEval(spark, bm25Dir, pqIndex, emb,
      cents, cb, shared, 5).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(both.keySet === Set("fa", "fb"))
    shared.foreach { q =>
      val single = SearchOps.hybridEval(spark, bm25Dir, pqIndex, emb,
        cents, cb, Seq(q), 5).collect()
        .map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(both(q._1) === single(q._1), s"label ${q._1}")
    }
  }

  test("batched hybrid past the literal threshold: the semantic stage " +
      "serves query-table end-to-end (vectors never collect to the " +
      "driver) with rows ≡ the literal path; a missing vector id " +
      "fails loudly") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val bm25Dir = tempDir("graft-bm25qt")
    SearchOps.writeBm25Index(docs, bm25Dir)
    val Similarity = graft.similarity.Similarity
    val cents = Similarity.seedCentroids(emb, 16)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val pqDir = tempDir("graft-pqqt") + "/idx"
    VectorStore.write(VectorCodec.Pq(cb), emb, cents, pqDir)
    val pqIndex = spark.read.parquet(pqDir)
    // one more distinct vector id than the literal plan takes
    val terms = Seq(Seq("merge", "query"), Seq("sort", "window"),
      Seq("alpha", "merge"))
    val past = VectorStore.LiteralMaxQ + 1
    val qs = (0 until past).map(i => i.toLong -> terms(i % terms.size))
    def run(batch: Seq[(Long, Seq[String])]) =
      SearchOps.hybridMultiSearchServed(spark, bm25Dir, pqIndex, emb, cents,
        cb, batch, 10)
    // per-query rows do not depend on the batch a query rides in, so
    // literal-sized batches give the reference rows
    val viaLiteral = qs.grouped(VectorStore.LiteralMaxQ)
      .flatMap(run(_).collect().map(_.toSeq)).toSeq
    val qtServe = run(qs)
    // the semantic code scan rides the QT plan: DPP on the cell
    // join is its signature (no literal path has one)
    assert(qtServe.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression"))
    assert(qtServe.collect().map(_.toSeq).toSeq === viaLiteral)
    // loud missing-id contract survives the join-based fetch
    val bad = run(qs :+ (999999999L -> Seq("merge")))
    val e = intercept[Exception] { bad.collect() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null &&
      m.contains("no embedding row")), msgs.mkString(" | "))
    // ALL ids missing: zero joined rows carry zero in-plan guards —
    // the bounded eager check must refuse, not serve lexical-only
    val eAll = intercept[IllegalArgumentException] {
      run((1 to past).map(i => (888888880L + i) -> Seq("merge")))
    }
    assert(eAll.getMessage.contains("none of the"), eAll.getMessage)
  }
}
