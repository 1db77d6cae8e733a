package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "another unrelated text mentioning vectors and embeddings only")
  )
  lazy val df = corpus.toDF("doc_id", "text")

  test("exact dedup groups exact copies, keeps min id") {
    val groups = Dedup.exactDuplicateGroups(df, "doc_id", Seq("text")).collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("n_copies") === 2)
    assert(groups(0).getAs[Long]("keep_id") === 1L)
    val kept = Dedup.dropExactDuplicates(df, "doc_id", Seq("text"))
    assert(kept.count() === 4)
    assert(kept.filter($"doc_id" === 4).count() === 0)
  }

  test("substringDedup drops non-canonical duplicated spans, keeps first") {
    // doc 10 and doc 20 share a 10-word prefix (so 3 duplicated 8-word
    // windows in doc 20 cover its first 10 positions); doc 30 is under
    // 8 words and passes through; doc 40 repeats one 8-word span twice
    // internally so its SECOND occurrence (positions 8..15) drops
    val span = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near x1 y1 z1"),
      (20L, "the quick brown fox jumps over the lazy dog near x2 y2 z2"),
      (30L, "short doc under eight"),
      (40L, s"$span $span tail1 tail2")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(10L) === ((13, 0,
      "the quick brown fox jumps over the lazy dog near x1 y1 z1")))
    // doc 20: windows at pos 0..2 duplicate doc 10's; covered = 0..9
    assert(out(20L) === ((13, 10, "x2 y2 z2")))
    assert(out(30L) === ((4, 0, "short doc under eight")))
    // doc 40: the window at pos 8 equals the canonical one at pos 0
    // (other windows straddle the boundary and are unique)
    assert(out(40L) === ((18, 8, s"$span tail1 tail2")))
  }

  test("substringDedupStaged ≡ one-shot; hh ops co-bucketed with zero " +
      "exchanges; never re-tokenizes") {
    val span = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near x1 y1 z1"),
      (20L, "the quick brown fox jumps over the lazy dog near x2 y2 z2"),
      (30L, "short doc under eight"),
      (40L, s"$span $span tail1 tail2")
    ).toDF("doc_id", "text")
    try {
      Dedup.stageWindowOccurrences(docs, "t_ss_occ", w = 8, buckets = 32)
      Dedup.stageDocWords(docs, "t_ss_words", buckets = 32)
      val served = Dedup.substringDedupStaged(spark, "t_ss_occ",
        "t_ss_words", w = 8)
      val want = Dedup.substringDedup(docs, "doc_id", "text", w = 8)
        .collect().map(_.toSeq).toSet
      assert(served.collect().map(_.toSeq).toSet === want)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        p +: kids.flatMap(allNodes)
      }
      val ex = served.queryExecution.executedPlan
      // exactly ONE Generate — the covered-position expansion of the
      // small removed frame; the corpus is NEVER re-tokenized (the
      // one-shot pays three corpus-wide Generates)
      assert(allNodes(ex).count(
        _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]) === 1,
        ex.toString)
      // the occurrence⋈winner join runs on the shared hh bucketing:
      // an SMJ with zero exchanges anywhere beneath it
      val hhJoin = allNodes(ex).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.map(_.toString).exists(_.contains("hh#")) => j
      }
      assert(hhJoin.nonEmpty, ex.toString)
      hhJoin.foreach { j =>
        assert(!allNodes(j).tail.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
          j.toString)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_ss_occ")
      spark.sql("DROP TABLE IF EXISTS t_ss_words")
    }
  }

  test("spanDecontaminate cuts benchmark-overlapping spans, keeps the rest") {
    val bench = Seq((100L, "q1 q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text")
    val docs = Seq(
      // embeds the benchmark's first 8-word span mid-document
      (1L, "intro words q1 q2 q3 q4 q5 q6 q7 q8 outro tail"),
      // clean doc: untouched
      (2L, "totally unrelated content with many distinct words here ok"),
      // exact copy of the benchmark: both its windows hit; all 9 drop
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDecontaminate(docs, bench, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) === ((12, 8, "intro words outro tail")))
    assert(out(2L) === ((9, 0,
      "totally unrelated content with many distinct words here ok")))
    assert(out(3L) === ((9, 9, "")))
    // unlike substringDedup there is NO surviving canonical occurrence
    assert(out.values.forall(_._3 != null))
  }

  test("hammingNearDuplicates finds all pairs within maxDist, bands lossless") {
    // fingerprints chosen so the single differing bit lands in every
    // band position at least once (band join must still catch them),
    // plus an exact pair, a 2-bit pair (excluded at maxDist=1), and a
    // far-away fingerprint
    val base = 0x0123456789ABCDEFL
    val fps = Seq(
      1L -> base,
      2L -> base,                  // hamming 0
      3L -> (base ^ (1L << 3)),    // band 0
      4L -> (base ^ (1L << 17)),   // band 1
      5L -> (base ^ (1L << 40)),   // band 2
      6L -> (base ^ (1L << 63)),   // band 3 (sign bit)
      7L -> (base ^ 3L),           // hamming 2 from base
      8L -> ~base                  // hamming 64
    ).toDF("doc_id", "fp")
    val pairs = Dedup.hammingNearDuplicates(fps, "doc_id", "fp", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 1), (1L, 5L, 1),
      (1L, 6L, 1), (2L, 3L, 1), (2L, 4L, 1), (2L, 5L, 1), (2L, 6L, 1)))
    // maxDist=2 admits the 2-bit pair (and 3↔7 at distance 1+2=3 stays out)
    val pairs2 = Dedup.hammingNearDuplicates(fps, "doc_id", "fp", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs2.contains((1L, 7L, 2)) && pairs2.contains((2L, 7L, 2)))
    // degenerate buckets drop under the skew cap rather than joining
    val flood = (1L to 50L).map(i => i -> 0L).toDF("doc_id", "fp")
    assert(Dedup.hammingNearDuplicates(flood, "doc_id", "fp",
      maxBucketSize = 10).count() === 0L)
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDuplicates(fps, "doc_id", "fp", maxDist = 4)
    }
  }

  test("dropExactDuplicates is idempotent") {
    val once = Dedup.dropExactDuplicates(df, "doc_id", Seq("text"))
    val twice = Dedup.dropExactDuplicates(once, "doc_id", Seq("text"))
    assert(once.count() === twice.count())
  }

  test("null key values dedup as their own class, never silently dropped") {
    val df = Seq(
      (1L, Some("x"), Some("a")),
      (2L, None, Some("a")),       // null-keyed class...
      (3L, None, Some("a")),       // ...with a duplicate
      (4L, Some("x"), None),       // ('x', null) must differ from...
      (5L, None, Some("x"))        // ...(null, 'x')
    ).toDF("id", "k1", "k2")
    val kept = Dedup.dropExactDuplicates(df, "id", Seq("k1", "k2"))
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L, 5L)) // 3 is the null-class duplicate
    val groups = Dedup.exactDuplicateGroups(df, "id", Seq("k1", "k2"))
      .collect()
    assert(groups.length === 1) // ONLY the (null,'a') class duplicates
    assert(groups(0).getAs[Long]("keep_id") === 2L)
  }

  test("jaccard: identical=1, near-dup high, unrelated low") {
    val sh = df.select($"doc_id", Dedup.shingles($"text", 2).as("sh"))
    def j(a: Long, b: Long): Double = {
      val ra = sh.filter($"doc_id" === a).select("sh").head.getSeq[String](0)
      val rb = sh.filter($"doc_id" === b).select("sh").head.getSeq[String](0)
      ra.toSet.intersect(rb.toSet).size.toDouble / ra.toSet.union(rb.toSet).size
    }
    assert(j(1, 4) === 1.0)
    assert(j(1, 2) > 0.8)
    assert(j(1, 3) < 0.1)
  }

  test("minhash LSH recovers planted near-dups, skips unrelated") {
    val pairs = Dedup.minhashNearDuplicates(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 4L))) // exact dup always caught
    assert(!pairs.contains((1L, 3L)))
    assert(!pairs.contains((3L, 5L)))
  }

  test("containment catches a subset doc whose Jaccard is length-diluted") {
    // doc 11 = a 24-word doc; doc 12 = its first 8 words. Trigram
    // shingles: 6 of doc 12's 6 ⊂ doc 11's 22, so J = 6/22 ≈ 0.27 —
    // well below the Jaccard pipeline's 0.5 threshold — while
    // containment = 6/min(22,6) = 1.0: found, and oriented 11 → 12
    val longText = (1 to 24).map(i => s"w$i").mkString(" ")
    val subText = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (11L, longText), (12L, subText),
      (13L, "completely unrelated content about other things entirely")
    ).toDF("doc_id", "text")
    val jacc = Dedup.minhashNearDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jacc.contains((11L, 12L)))
    val cont = Dedup.containmentNearDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.map(t => (t._1, t._2)).toSet === Set((11L, 12L)))
    assert(cont.head._3 === 1.0) // the contained doc dropped, container kept
  }

  test("containment md5 mode finds the same oriented pair set as xx mode") {
    val longText = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, longText),
      (2L, (1 to 12).map(i => s"t$i").mkString(" ")),
      (3L, (10 to 30).map(i => s"t$i").mkString(" ")),
      (4L, "nothing in common with the numbered tokens at all")
    ).toDF("doc_id", "text")
    def pairs(mode: String) =
      Dedup.containmentNearDuplicates(docs, "doc_id", "text", hashMode = mode)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val xx = pairs("xx")
    assert(xx === pairs("md5"))
    assert(xx.map(t => (t._1, t._2)) === Set((1L, 2L), (1L, 3L)))
  }

  test("containment ties on equal shingle counts keep the lower id") {
    val same = "a b c d e f g h i j"
    val docs = Seq((5L, same), (2L, same)).toDF("doc_id", "text")
    val p = Dedup.containmentNearDuplicates(docs, "doc_id", "text").head
    assert((p.getLong(0), p.getLong(1), p.getDouble(2)) === ((2L, 5L, 1.0)))
  }

  test("minhash signature of identical text is identical") {
    val sigs = df.filter($"doc_id".isin(1L, 4L))
      .select(graft.Composed.minhashSignature(Dedup.shingles($"text", 2), 16))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) === sigs(1))
  }

  test("simhash: identical text → distance 0; near-dup close; unrelated far") {
    val sh = df.select($"doc_id", graft.Composed.simhashBands($"text").as("sh"))
    def bands(id: Long) = sh.filter($"doc_id" === id).head.getSeq[Long](1)
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(ham(bands(1), bands(4)) === 0)
    assert(ham(bands(1), bands(2)) < ham(bands(1), bands(3)))
  }

  test("simhash near-dup pipeline finds exact + near pairs") {
    val pairs = Dedup.simhashNearDuplicates(df, "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("connected components: chain, clique, pair, multi-hop min label") {
    // chain 1-2-3-4 (diameter 3: needs real propagation), clique
    // {10,11,12}, isolated pair {20,21}
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    // both algorithms — union-find fast path (default) and the
    // distributed propagation scale path (forced) — must agree
    val fast = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iterative = Dedup.connectedComponents(edges, "id_a", "id_b",
      smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === expected)
    assert(iterative === expected)
  }

  test("connected components ignore self-loops and duplicate edges") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("a", "b")
    Seq(0L, 1000L).foreach { limit =>
      val comps = Dedup.connectedComponents(edges, "a", "b",
        smallGraphEdges = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps === Map(1L -> 1L, 2L -> 1L))
    }
  }

  test("union-find fast path declines past the byte budget") {
    // 3 edges × 128 B/edge = 384 B estimated task state. A 100-byte
    // budget must push the call onto the distributed path (rounds > 0)
    // even though the edge cap alone would admit it; the default
    // budget keeps the one-job fast path (rounds == 0).
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
    val (declined, dRounds) = Dedup.connectedComponentsWithRounds(
      edges, "id_a", "id_b", unionFindByteBudget = 100L)
    assert(dRounds > 0, "a tiny byte budget must decline the fast path")
    assert(declined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === expected)
    val (kept, kRounds) = Dedup.connectedComponentsWithRounds(
      edges, "id_a", "id_b")
    assert(kRounds === 0, "the default budget admits a 3-edge graph")
    assert(kept.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === expected)
  }

  test("star contraction agrees with min-label and union-find") {
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    // default budget → the mid-contraction in-task finish fires;
    // finishInTaskBytes = 0 → pure star rounds all the way down
    for (finish <- Seq(Dedup.UnionFindByteBudget, 0L)) {
      val star = Dedup.connectedComponents(edges, "id_a", "id_b",
        smallGraphEdges = 0L, algorithm = "star",
        finishInTaskBytes = finish)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === expected, s"finishInTaskBytes=$finish")
    }
  }

  test("star contraction converges in O(log n) rounds on a 1000-node chain") {
    // chain 0-1-2-…-1000: diameter 1000 — min-label propagation would
    // need ~1000 rounds (and rightly throws at maxIter); star
    // contraction must land every node on component 0 within ~log2(n)
    // alternating rounds
    val chain = spark.range(1000)
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    // finishInTaskBytes = 0: pin the PURE contraction round bound
    // (the default budget would switch to the in-task finish after
    // round one and prove nothing about O(log n))
    val (comps, rounds) = Dedup.connectedComponentsWithRounds(
      chain.toDF(), "id_a", "id_b", maxIter = 15,
      smallGraphEdges = 0L, algorithm = "star", finishInTaskBytes = 0L)
    val labels = comps.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === 1001)
    assert(labels.forall(_._2 === 0L))
    assert(rounds <= 10, s"star contraction took $rounds rounds")
    // the default budget switches over early — same labels, fewer
    // distributed rounds
    val (comps2, rounds2) = Dedup.connectedComponentsWithRounds(
      chain.toDF(), "id_a", "id_b", maxIter = 15,
      smallGraphEdges = 0L, algorithm = "star")
    assert(comps2.collect().map(r => r.getLong(0) -> r.getLong(1))
      .forall(_._2 === 0L))
    assert(rounds2 <= rounds, s"switch-over ran $rounds2 > $rounds rounds")
    // and min-label on the same graph refuses to return wrong labels
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF(), "id_a", "id_b",
        maxIter = 5, smallGraphEdges = 0L)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("pointer-jumping min-label is O(log diameter) on the same chain") {
    // plain min-label moves one hop per round (needs ~1000 rounds and
    // rightly throws above); the jump step composes the label frame
    // with itself, so reach roughly doubles per round — the 1000-node
    // chain must land every label on 0 within ~log2(1000) + slack
    val chain = spark.range(1000)
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val (comps, rounds) = Dedup.connectedComponentsWithRounds(
      chain.toDF(), "id_a", "id_b", maxIter = 15,
      smallGraphEdges = 0L, algorithm = "jump")
    val labels = comps.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === 1001)
    assert(labels.forall(_._2 === 0L))
    assert(rounds <= 12, s"pointer jumping took $rounds rounds")
  }

  test("jump-mode components leave no persisted RDD but the result's own") {
    // each round's jump step materializes the propagated labels; the
    // round must free it once the next label frame is built
    val chain = spark.range(64)
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val before = persistedRddIds
    val (comps, _) = Dedup.connectedComponentsWithRounds(
      chain.toDF(), "id_a", "id_b", maxIter = 15,
      smallGraphEdges = 0L, algorithm = "jump")
    val left = persistedRddIds -- before -- leafRddIds(comps)
    assert(left.isEmpty, s"left persisted RDDs $left")
    assert(comps.collect().forall(_.getLong(1) === 0L))
  }

  test("star contraction: bridged stars merge into one component") {
    // r1<r2<c<v1<v2<h1<h2 wired so intermediate star rounds produce a
    // child (c) reachable from two tentative roots — the state a
    // "no lo as hi" certificate alone would wrongly accept as
    // converged (split components + duplicate rows for c). The full
    // certificate (single parent per child) must keep iterating
    // until everything labels r1=1.
    val edges = Seq(
      (6L, 4L), (4L, 3L), (6L, 1L),
      (7L, 5L), (5L, 3L), (7L, 2L)
    ).toDF("id_a", "id_b")
    for (algo <- Seq("minlabel", "star", "jump"); fast <- Seq(0L, 1000L);
         finish <- Seq(0L, Dedup.UnionFindByteBudget)) {
      val comps = Dedup.connectedComponents(edges, "id_a", "id_b",
        smallGraphEdges = fast, algorithm = algo,
        finishInTaskBytes = finish)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(comps.length === 7, s"$algo/$fast/$finish: ${comps.toSeq}")
      assert(comps.toMap.values.toSet === Set(1L), s"$algo/$fast/$finish")
    }
  }

  test("components on an empty edge list return empty, not NPE") {
    // ADVICE r3: labelSum over zero rows is a null decimal — both
    // distributed paths must short-circuit. Non-long ids skip the
    // union-find fast path, so a string-keyed empty corpus hits it.
    val emptyLong = Seq.empty[(Long, Long)].toDF("a", "b")
    val emptyStr = Seq.empty[(String, String)].toDF("a", "b")
    for (algo <- Seq("minlabel", "star")) {
      assert(Dedup.connectedComponents(emptyLong, "a", "b",
        smallGraphEdges = 0L, algorithm = algo).count() === 0)
      assert(Dedup.connectedComponents(emptyStr, "a", "b",
        algorithm = algo).count() === 0)
    }
    // self-loops only ⇒ zero effective edges: same guard, via the
    // public near-dup entry points' shape (no pairs found)
    val selfOnly = Seq(("x", "x")).toDF("a", "b")
    assert(Dedup.connectedComponents(selfOnly, "a", "b").count() === 0)
  }

  test("star contraction works on string ids (lexicographic min label)") {
    val edges = Seq(("b", "a"), ("b", "c"), ("z", "y")).toDF("a", "b")
    val comps = Dedup.connectedComponents(edges, "a", "b",
      algorithm = "star")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "y" -> "y", "z" -> "y"))
  }

  test("md5 signature mode finds the same verified pair set as xxhash64 mode") {
    // different hash families bucket differently, but on a corpus
    // whose near-dups share most shingles both families must surface
    // every true pair — and exact-Jaccard verification makes the
    // final pair sets (and scores) identical
    def pairs(mode: String) =
      Dedup.minhashNearDuplicates(df, "doc_id", "text", hashMode = mode)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs("md5") === pairs("xx"))
    assert(pairs("md5").map(p => (p._1, p._2)).contains((1L, 4L)))
    // clusters built from md5-mode pairs agree too
    val comps = Dedup.minhashClusters(df, "doc_id", "text", hashMode = "md5")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.get(4L) === Some(1L) && comps.get(2L) === Some(1L))
  }

  test("minhash clusters close pairs under transitivity") {
    // 1≈2 and 1=4: whatever pairs LSH finds, clustering must put
    // {1,2,4} in one component labeled by the canonical min id 1
    val comps = Dedup.minhashClusters(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.get(4L) === Some(1L))
    assert(comps.get(2L) === Some(1L))
    assert(comps.get(1L) === Some(1L))
    assert(!comps.contains(3L) && !comps.contains(5L)) // singletons absent
  }

  test("incremental dedup: new batch probes the index; existing always wins") {
    // index = docs {3, 5, 10}; doc 10 carries the fox text. New batch:
    // 2 (near-copy of 10 — NEW ID SMALLER than the existing doc's) and
    // 6 (unrelated). The pair must orient (kept=10, dropped=2) even
    // though 2 < 10, and 6 must survive.
    val existing = Seq(
      (3L, "completely different content about spark query engines and shuffles"),
      (5L, "another unrelated text mentioning vectors and embeddings only"),
      (10L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (2L, "the quick brown fox jumps over the lazy dog near the river"),
      (6L, "fresh material on watermarks checkpoints and state stores")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashSignatures(existing, "doc_id", "text")
    val pairs = Dedup.incrementalNearDuplicates(batch, index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 2L)))
    val kept = Dedup.dedupIncrement(batch, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(6L))
  }

  test("incremental pairs ≡ full-pipeline pairs restricted to the new side") {
    // full rebuild over (existing ∪ batch) must agree with the
    // incremental probe on every pair touching the batch — same
    // bucket cap, same verification (ids here make batch ids larger,
    // matching the full pipeline's id_a < id_b orientation)
    val existing = df // the 5-doc corpus
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river"),
      (12L, "utterly new content about adaptive query execution plans")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashSignatures(existing, "doc_id", "text")
    // default gate → the bounded-batch FAST path on this tiny batch
    val inc = Dedup.incrementalNearDuplicates(batch, index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashNearDuplicates(existing.unionByName(batch),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._2 >= 11L).toSet
    assert(inc === full)
    assert(inc.exists(p => p._2 === 11L)) // the near-copy was found
    // and the DISTRIBUTED probe (smallBatchRows = 0) agrees with both
    val dist = Dedup.incrementalNearDuplicates(batch, index, "doc_id",
        "text", smallBatchRows = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dist === full)
  }

  test("incremental bucket cap counts index ∪ batch together") {
    // 5 identical texts share every band bucket, so the bucket holds
    // index(4) + batch(1) = 5 rows: cap 4 suppresses every candidate,
    // cap 5 admits them — pinning that the touched-bucket cap
    // aggregation sees the UNION occupancy, exactly like a rebuild
    val txt = "the quick brown fox jumps over the lazy dog tonight"
    val existing = (1L to 4L).map(i => (i, txt)).toDF("doc_id", "text")
    val batch = Seq((11L, txt)).toDF("doc_id", "text")
    for (mode <- Seq("xx", "md5"); gate <- Seq(Dedup.IncrementalFastBatchRows, 0L)) {
      val index = Dedup.minhashSignatures(existing, "doc_id", "text",
        hashMode = mode)
      assert(Dedup.incrementalNearDuplicates(batch, index, "doc_id", "text",
        maxBucketSize = 4, hashMode = mode, smallBatchRows = gate).isEmpty,
        s"mode=$mode gate=$gate")
      val open = Dedup.incrementalNearDuplicates(batch, index, "doc_id",
          "text", maxBucketSize = 5, hashMode = mode, smallBatchRows = gate)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(open === (1L to 4L).map(i => (i, 11L)).toSet,
        s"mode=$mode gate=$gate")
      // batch-only buckets are capped too (no index occupancy at all)
      val batch5 = (21L to 25L).map(i => (i, txt)).toDF("doc_id", "text")
      val emptyIdx = Dedup.minhashSignatures(existing.limit(0),
        "doc_id", "text", hashMode = mode)
      assert(Dedup.incrementalNearDuplicates(batch5, emptyIdx, "doc_id",
        "text", maxBucketSize = 4, hashMode = mode,
        smallBatchRows = gate).isEmpty, s"mode=$mode gate=$gate")
    }
  }

  test("native WordSegments ≡ composed segments, element for element") {
    import spark.implicits._
    assert(graft.plans.GraftFunctions.isRegistered(spark))
    val edge = Seq(
      (1L, Some("a b c d e f")),       // exact multiple of 3
      (2L, Some("a b c d")),           // remainder segment
      (3L, Some("x")),                 // single word
      (4L, Some("")),                  // split("") -> [""]: one "" segment
      (5L, None),                      // null text -> null
      (6L, Some("naïve café 模型 тест p q r")),
      (7L, Some("a  b c"))             // empty token from double space
    ).toDF("doc_id", "text")
    for (w <- Seq(1, 2, 3, 5)) {
      val native = call_function(
        graft.plans.TextHashFunctions.WordSegmentsName,
        graft.functions.TextFunctions.words(col("text")), lit(w))
      val rows = edge.select(col("doc_id"), native.as("n"),
          graft.Composed.segments(col("text"), w).as("c")).collect()
      rows.foreach { r =>
        val n = if (r.isNullAt(1)) null else r.getSeq[String](1)
        val c = if (r.isNullAt(2)) null else r.getSeq[String](2)
        assert(n == c, s"doc ${r.getLong(0)} w=$w: $n != $c")
      }
      assert(rows.find(_.getLong(0) == 5L).get.isNullAt(1))
    }
  }

  test("segmentDedup keeps first occurrences only and rebuilds docs") {
    import spark.implicits._
    // 3-word segments: doc 2 repeats doc 1's opener; doc 3 is built
    // entirely from earlier segments and drops out; doc 4 repeats a
    // segment within itself
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "d e f a b c"),
      (4L, "p q r p q r")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList.sortBy(_._1)
    assert(out === List(
      (1L, "a b c d e f", 2L, 2L),
      (2L, "x y z", 1L, 2L),
      (4L, "p q r", 1L, 2L)))
  }

  test("segmentDedup: remainder segments survive and order is by id") {
    import spark.implicits._
    // the last segment keeps the remainder ("d" alone); a later doc
    // repeating that remainder segment loses it
    val docs = Seq((5L, "a b c d"), (2L, "d q r"), (9L, "d"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList.sortBy(_._1)
    // "d q r" (doc 2) wins segment "d q r"; doc 5's remainder "d" is
    // distinct from it; doc 9's whole-doc "d" repeats doc 5's remainder
    assert(out === List(
      (2L, "d q r", 1L, 1L),
      (5L, "a b c d", 2L, 2L)))
  }

  test("removeBoilerplate cuts high-DF segments everywhere, keeps repeats") {
    // "nav bar home" appears in 3 docs → boilerplate at minDocs=3,
    // removed from ALL of them (incl. the first occurrence);
    // "foo bar baz" repeats twice WITHIN doc 4 but only 1 doc → kept
    // both times (frequency across docs, not repetition, is the bar)
    val docs = Seq(
      (1L, "nav bar home one two three"),
      (2L, "nav bar home four five six"),
      (3L, "nav bar home seven eight nine"),
      (4L, "foo bar baz foo bar baz"),
      (5L, "nav bar home") // nothing left → drops entirely
    ).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(docs, "doc_id", "text", 3, 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L) === (("one two three", 1L, 2L)))
    assert(out(2L) === (("four five six", 1L, 2L)))
    assert(out(4L) === (("foo bar baz foo bar baz", 2L, 2L)))
    // below the bar ("nav bar home" is in 4 docs < 5) nothing is removed
    val loose = Dedup.removeBoilerplate(docs, "doc_id", "text", 3, 5)
      .collect()
    assert(loose.length === 5)
    assert(loose.map(_.getLong(2)).sum === 9L) // every segment kept
    intercept[IllegalArgumentException] {
      Dedup.removeBoilerplate(docs, "doc_id", "text", 3, 1)
    }
  }

  test("segmentDigests ≡ the winners' digest set (cheap bootstrap)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c x y z"))
      .toDF("doc_id", "text")
    val cheap = Dedup.segmentDigests(docs, "text")
      .collect().map(_.getString(0)).toSet
    val winners = Dedup.segmentWinners(docs, "doc_id", "text")
      .select("digest").collect().map(_.getString(0)).toSet
    assert(cheap === winners)
  }

  test("duplicationProfile scores shared trigram fractions per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),       // trigrams: abc bcd cde
      (2L, "a b c x y"),       // abc (shared with 1), bcx, cxy
      (3L, "a b c d e"),       // identical to 1 → all shared
      (4L, "p q r s t"),       // nothing shared
      (5L, "z z")              // fewer than 3 words → zero grams
    ).toDF("doc_id", "text")
    val out = Dedup.duplicationProfile(docs)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out(1L) === ((3L, 3L, 1.0, true)))   // doc 3 duplicates it all
    assert(out(2L) === ((3L, 1L, 0.3333, false)))
    assert(out(3L) === ((3L, 3L, 1.0, true)))
    assert(out(4L) === ((3L, 0L, 0.0, false)))
    assert(out(5L) === ((0L, 0L, 0.0, false)))  // degenerate, never flagged
  }

  test("dropNearDuplicates keeps canonical member + untouched docs") {
    val kept = Dedup.dropNearDuplicates(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L)) // 2 and 4 collapse into 1
    // idempotent: a deduped corpus has nothing left to drop
    val again = Dedup.dropNearDuplicates(
      df.filter($"doc_id".isin(1L, 3L, 5L)), "doc_id", "text")
    assert(again.count() === 3)
  }

  test("preference survivor policy keeps the best cluster member") {
    import org.apache.spark.sql.functions.{col, when, lit}
    // cluster {1,2,4}: prefer doc 4 explicitly — it must win over the
    // min-id canonical member
    val best = Dedup.dropNearDuplicatesBy(df, "doc_id", "text",
      when(col("doc_id") === 4L, lit(10)).otherwise(lit(1)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best === Set(4L, 3L, 5L))
    // a constant preference degrades to the min-id policy
    val const = Dedup.dropNearDuplicatesBy(df, "doc_id", "text", lit(0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(const === Set(1L, 3L, 5L))
  }

  test("hammingProbe matches brute force; cap + null-fp contracts hold") {
    import spark.implicits._
    // index: 0x00 twice (one skew pair), 0xFF, a far value; probe:
    // hamming-1 from 0x00, hamming-1 from 0xFF, unmatched, null fp
    val index = Seq(
      (10L, Some(0x0000000000000000L)),
      (11L, Some(0x0000000000000000L)),
      (12L, Some(0x00FF00FF00FF00FFL)), // shares no band bucket with 10/11
      (13L, Some(0x7777777777777777L)))
      .toDF("doc_id", "fp")
    val probe = Seq(
      (20L, Some(0x0000000000000001L)), // 1 bit from 10/11
      (21L, Some(0x00FF00FF00FF00FDL)), // 1 bit from 12
      (22L, Some(0x1111111111111111L)), // matches nothing at dist 1
      (23L, None: Option[Long]))        // no fingerprint: no evidence
      .toDF("doc_id", "fp")
    val got = Dedup.hammingProbe(probe, index, "doc_id", "fp", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force reference over the non-null pairs
    val idx = Seq(10L -> 0L, 11L -> 0L, 12L -> 0x00FF00FF00FF00FFL,
      13L -> 0x7777777777777777L)
    val prb = Seq(20L -> 1L, 21L -> 0x00FF00FF00FF00FDL,
      22L -> 0x1111111111111111L)
    val want = (for {
      (p, pf) <- prb; (i, ifp) <- idx
      d = java.lang.Long.bitCount(pf ^ ifp) if d <= 1
    } yield (p, i, d)).toSet
    assert(got === want)
    assert(got === Set((20L, 10L, 1), (20L, 11L, 1), (21L, 12L, 1)))
    // skew cap: occupancy is counted per TOUCHED index bucket — at
    // cap 1 the two identical 0x00 fingerprints overflow every band
    // bucket they share with probe 20 and the pairs drop (loudly
    // documented contract), while 21↔12 survives in its own buckets
    val capped = Dedup.hammingProbe(probe, index, "doc_id", "fp",
      maxDist = 1, maxBucketSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((21L, 12L)))
    // maxDist 0 = exact-fingerprint lookup
    val exact = Dedup.hammingProbe(
      Seq((30L, Some(0L))).toDF("doc_id", "fp"), index, "doc_id", "fp",
      maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((30L, 10L), (30L, 11L)))
    intercept[IllegalArgumentException] {
      Dedup.hammingProbe(probe, index, "doc_id", "fp", maxDist = 4)
    }
  }

  test("fingerprint index round-trips through the written artifact") {
    import spark.implicits._
    val tmp = tempDir("graft_fpidx")
    val fps = Seq((1L, 42L), (2L, -1L), (3L, Long.MinValue))
      .toDF("id0", "h0")
    Dedup.writeFingerprintIndex(fps, "id0", "h0", s"$tmp/index")
    val back = Dedup.readFingerprintIndex(spark, s"$tmp/index")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back === Map(1L -> 42L, 2L -> -1L, 3L -> Long.MinValue))
  }
}
