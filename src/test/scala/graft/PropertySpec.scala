package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.quality.RuleBasedScorer
import graft.ops.{RelationalOps, StatsOps}
import graft.similarity.{VectorCodec, VectorStore}

/** Invariant checks over generated inputs (SURVEY §5: weight bounds,
  * pagination completeness, CDC op totality, HLL error envelope).
  * Inputs come from ScalaCheck generators with a fixed seed, then one
  * Spark evaluation asserts the invariant over every sample.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val textGen: Gen[String] = for {
    words <- Gen.listOfN(30, Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(8)), Gen.oneOf("the", "a", "of", "le", "der"),
      Gen.const("123-45-6789"), Gen.const("x@y.com")))
  } yield words.filter(_.nonEmpty).mkString(" ")

  test("quality scores bounded and formula-consistent for arbitrary text") {
    val df = samples(textGen, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = RuleBasedScorer.score(df, "text").collect()
    rows.foreach { r =>
      val (c, k, p, l) = (r.getAs[Long]("completeness"), r.getAs[Long]("consistency"),
        r.getAs[Long]("pii_detection"), r.getAs[Long]("language_quality"))
      Seq(c, k, p, l).foreach(v => assert(v >= 0 && v <= 100))
      val overall = r.getAs[Double]("quality_score")
      assert(overall === (c * 3 + k * 3 + p * 2 + l * 2) / 10.0)
      assert(r.getAs[Boolean]("quality_is_valid") === (overall >= 50.0))
      assert(r.getAs[Boolean]("has_pii") === (p === 0L))
    }
  }

  test("pagination is a partition: pages concatenate to the prefix, disjoint") {
    val orders = Tables.orders(spark, sfDir)
    val pageSize = 17 // deliberately not dividing anything evenly
    val pages = (0 until 5).map(i =>
      RelationalOps.listPage(orders, i * pageSize, pageSize)
        .collect().map(_.getLong(0)).toSeq)
    val all = RelationalOps.listPage(orders, 0, 5 * pageSize)
      .collect().map(_.getLong(0)).toSeq
    assert(pages.flatten === all)
    assert(pages.flatten.distinct.size === pages.flatten.size)
  }

  test("components: star ≡ min-label ≡ jump ≡ union-find on random graphs") {
    // four independent algorithms must agree exactly on arbitrary
    // edge lists — sparse (forests + chains) and dense (many
    // triangles) regimes both covered
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 60L)
      b <- Gen.chooseNum(0L, 60L)
    } yield (a, b)
    for ((n, seedOffset) <- Seq((30, 0), (120, 1))) {
      val edges = Gen.listOfN(n, edgeGen)
        .apply(Gen.Parameters.default, Seed(42L + seedOffset)).get
        .toDF("a", "b")
      val fast = Dedup.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val minlabel = Dedup.connectedComponents(edges, "a", "b",
        maxIter = 70, smallGraphEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // pure contraction rounds (finishInTaskBytes = 0) AND the
      // mid-contraction in-task switch-over must both agree
      val star = Dedup.connectedComponents(edges, "a", "b",
        smallGraphEdges = 0L, algorithm = "star", finishInTaskBytes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val starSwitch = Dedup.connectedComponents(edges, "a", "b",
        smallGraphEdges = 0L, algorithm = "star")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val jump = Dedup.connectedComponents(edges, "a", "b",
        smallGraphEdges = 0L, algorithm = "jump")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(minlabel === fast, s"minlabel vs union-find, n=$n")
      assert(star === fast, s"star vs union-find, n=$n")
      assert(starSwitch === fast, s"star switch-over vs union-find, n=$n")
      assert(jump === fast, s"jump vs union-find, n=$n")
    }
  }

  test("incremental dedup: fast path ≡ distributed probe on random corpora") {
    // random word-soup corpora with planted perturbed near-copies —
    // the bounded-batch in-task probe and the distributed broadcast
    // pipeline must agree on the exact (id_a, id_b, jaccard) set,
    // in both hash modes, including the rounded jaccard value
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta", "iota", "kappa")
    val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    for (seedOff <- 0 to 2) {
      val texts = Gen.listOfN(14, docGen)
        .apply(Gen.Parameters.default, Seed(77L + seedOff)).get
      val existing = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // batch: every 3rd doc loses its last word (near-copy), plus
      // one fresh doc
      val batch = (texts.zipWithIndex.collect { case (t, i) if i % 3 == 0 =>
        (i.toLong + 500L, t.split(" ").dropRight(1).mkString(" "))
      } :+ (999L, "omega psi chi phi upsilon tau sigma rho pi omicron"))
        .toDF("doc_id", "text")
      for (mode <- Seq("xx", "md5")) {
        val index = Dedup.minhashSignatures(existing, "doc_id", "text",
          hashMode = mode)
        def run(gate: Long) = Dedup.incrementalNearDuplicates(batch, index,
            "doc_id", "text", hashMode = mode, smallBatchRows = gate)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val fast = run(Dedup.IncrementalFastBatchRows)
        val dist = run(0L)
        assert(fast === dist, s"seed=$seedOff mode=$mode")
        assert(fast.nonEmpty, s"seed=$seedOff mode=$mode planted copies missed")
      }
    }
  }

  test("CDC synthetic op assignment is total and filter is its complement") {
    val ids = samples(Gen.chooseNum(0L, 100000L), 300).distinct
    val df = ids.map(i => (i, "t", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val decoded = graft.cdc.Cdc.decode(graft.cdc.Cdc.syntheticEnvelopes(df))
    val ops = decoded.select($"env.op").as[String].collect()
    assert(ops.forall(Set("c", "u", "r", "d").contains))
    val kept = graft.cdc.Cdc.pipeline(graft.cdc.Cdc.syntheticEnvelopes(df)).count()
    val expected = ids.count(i => i % 20 != 0 && i % 20 != 1)
    assert(kept === expected)
  }

  test("asofJoin matches a per-row Scala reference on random keyed streams") {
    val rowGen = for {
      key <- Gen.choose(1L, 5L)
      ts <- Gen.choose(0L, 40L)
    } yield (key, ts)
    val lefts = samples(rowGen, 120).zipWithIndex
      .map { case ((k, t), i) => (1000L + i, k, t) }
    val rights = samples(rowGen, 150).zipWithIndex
      .map { case ((k, t), i) => (k, t, 2000L + i) }
    val out = graft.ops.SessionOps.asofJoin(
      lefts.toDF("left_id", "key", "ts"),
      rights.toDF("key", "ts", "val"),
      "key", "ts", "val", "matched")
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    // reference: latest right at-or-before; ties broken by max value
    val byKey = rights.groupBy(_._1)
    lefts.foreach { case (lid, k, t) =>
      val expected = byKey.getOrElse(k, Nil)
        .filter(_._2 <= t)
        .sortBy(r => (r._2, r._3))
        .lastOption.map(_._3)
      assert(out(lid) === expected, s"left $lid key=$k ts=$t")
    }
  }

  test("windowedCountJoin matches a per-row Scala reference on random streams") {
    val rowGen = for {
      key <- Gen.choose(1L, 4L)
      ts <- Gen.choose(0L, 200L)
    } yield (key, ts)
    val lefts = samples(rowGen, 100).zipWithIndex
      .map { case ((k, t), i) => (3000L + i, k, t) }
    val rights = samples(rowGen, 200)
    val span = 25L
    val out = graft.ops.SessionOps.windowedCountJoin(
      lefts.toDF("left_id", "key", "ts"),
      rights.toDF("key", "ts"),
      "key", "ts", span, "n")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val byKey = rights.groupBy(_._1)
    lefts.foreach { case (lid, k, t) =>
      val expected = byKey.getOrElse(k, Nil)
        .count(r => r._2 > t - span && r._2 <= t)
      assert(out(lid) === expected.toLong, s"left $lid key=$k ts=$t")
    }
  }

  test("segmentDedup matches an exact Scala reference on random corpora") {
    // small vocabulary so segment repeats actually occur
    val docGen = for {
      n <- Gen.choose(1, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield ws.mkString(" ")
    val docs = samples(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val out = Dedup.segmentDedup(docs.toDF("doc_id", "text"),
      "doc_id", "text", segWords = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // reference: first corpus-wide (id, pos) occurrence per segment,
    // docs rebuilt from surviving segments in position order
    def segs(t: String): Seq[String] =
      t.split(" ", -1).grouped(3).map(_.mkString(" ")).toSeq
    val firsts = scala.collection.mutable.Map.empty[String, (Long, Int)]
    docs.sortBy(_._1).foreach { case (id, t) =>
      segs(t).zipWithIndex.foreach { case (s, p) =>
        if (!firsts.contains(s)) firsts(s) = (id, p)
      }
    }
    docs.foreach { case (id, t) =>
      val all = segs(t)
      val kept = all.zipWithIndex
        .filter { case (s, p) => firsts(s) == ((id, p)) }.map(_._1)
      if (kept.isEmpty) assert(!out.contains(id), s"doc $id")
      else assert(out(id) ===
        ((kept.mkString(" "), kept.size.toLong, all.size.toLong)), s"doc $id")
    }
  }

  test("substringDedup matches an exact Scala reference on random corpora") {
    // tiny vocabulary + short window so duplicated spans actually
    // occur, both across documents and within one
    val W = 3
    val docGen = for {
      n <- Gen.choose(1, 14)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield ws.mkString(" ")
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val out = Dedup.substringDedup(docs.toDF("doc_id", "text"),
      "doc_id", "text", w = W)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    // reference: count every W-window occurrence corpus-wide; the min
    // (doc_id, pos) occurrence of a duplicated window is canonical;
    // every other occurrence covers positions pos..pos+W-1
    val occs = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    docs.foreach { case (id, t) =>
      val ws = t.split(" ", -1)
      (0 to ws.length - W).foreach { p =>
        val k = ws.slice(p, p + W).mkString(" ")
        occs(k) = (id, p) :: occs.getOrElse(k, Nil)
      }
    }
    val removed = occs.values.filter(_.size >= 2)
      .flatMap(os => os.sorted.drop(1)).toSet
    docs.foreach { case (id, t) =>
      val ws = t.split(" ", -1)
      val covered = removed.filter(_._1 == id)
        .flatMap { case (_, p) => p until p + W }
      val kept = ws.zipWithIndex.collect {
        case (wd, i) if !covered(i) => wd }
      assert(out(id) === ((ws.length, covered.size, kept.mkString(" "))),
        s"doc $id text='$t'")
    }
  }

  test("uuid7 ordering follows timestamp ordering") {
    val ts = samples(Gen.chooseNum(1L, 1L << 40), 100).distinct.sorted
    val df = ts.map(t => (t, s"k$t")).toDF("ts", "k")
    val ids = df.orderBy($"ts").select(TextFunctions.uuid7($"ts", $"k"))
      .collect().map(_.getString(0))
    assert(ids.sorted.toSeq === ids.toSeq)
  }

  test("weightedSample matches a per-row md5 reference") {
    val rowGen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      p <- Gen.chooseNum(-100, 1100).map(_ / 1000.0) // includes out-of-range
    } yield (id, p)
    val rows = samples(rowGen, 300).distinctBy(_._1)
    val kept = graft.ops.SampleOps
      .weightedSample(rows.toDF("id", "p"), "id", col("p"))
      .select("id").collect().map(_.getLong(0)).toSet
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = rows.filter { case (id, p) =>
      val clamped = math.min(math.max(p, 0.0), 1.0)
      val bound = math.min(math.floor(clamped * 4294967296.0).toLong, 0xffffffffL)
      md5hex(id.toString).substring(0, 8) < f"$bound%08x"
    }.map(_._1).toSet
    assert(kept === expect)
  }

  test("funnel matches a per-user Scala reference on random event streams") {
    val steps = Seq("view", "click", "purchase")
    val evGen = for {
      u <- Gen.chooseNum(1L, 25L)
      t <- Gen.chooseNum(0L, 500L)
      ty <- Gen.oneOf("view", "click", "purchase", "error", "signup")
    } yield (u, t, ty)
    val evs = samples(evGen, 500).zipWithIndex
      .map { case ((u, t, ty), i) => (i.toLong, u, t * 1000000000L, ty, 0.0) }
    val out = graft.ops.SessionOps
      .funnel(evs.toDF("event_id", "user_id", "ts", "event_type", "value"), steps)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // reference: per user, chain strict-after minima step by step
    val byUser = evs.groupBy(_._2)
      .view.mapValues(_.map(e => (e._3 / 1000, e._4))).toMap
    val reached = byUser.values.map { events =>
      var depth = 0
      var tPrev = Long.MinValue
      var go = true
      for (step <- steps if go) {
        val cand = events.collect {
          case (t, ty) if ty == step && (depth == 0 || t > tPrev) => t
        }
        if (cand.isEmpty) go = false
        else { tPrev = cand.min; depth += 1 }
      }
      depth
    }.toSeq
    steps.zipWithIndex.foreach { case (step, i) =>
      assert(out(step) === reached.count(_ >= i + 1).toLong, step)
    }
  }

  test("lm score matches an exact Scala reference on random corpora") {
    val vocabGen = Gen.oneOf("a", "b", "c", "dd", "ee")
    val docGen = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, vocabGen).map(_.mkString(" ")))
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = graft.textanalysis.TextAnalysis
      .lmScore(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // exact reference on the same split(" ", -1) tokenization
    def toks(t: String) = t.split(" ", -1).toSeq
    def bgs(t: String) = { val w = toks(t); w.sliding(2).filter(_.size == 2)
      .map(_.mkString(" ")).toSeq }
    val c12 = docs.flatMap(d => bgs(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val c1 = c12.toSeq.groupBy(_._1.split(" ", -1).head)
      .view.mapValues(_.map(_._2).sum).toMap
    val v = docs.flatMap(d => toks(d._2)).distinct.size.toLong
    docs.foreach { case (id, t) =>
      val nll6 = bgs(t).map { bg =>
        val num = (c1(bg.split(" ", -1).head) + v).toDouble
        math.round(math.log(num / (c12(bg) + 1.0)) * 1e6)
      }
      val expect =
        if (nll6.isEmpty) 0.0
        else BigDecimal(nll6.sum.toDouble / (nll6.size * 1e6))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) === ((nll6.size.toLong, expect)), s"doc $id '$t'")
    }
  }

  test("retention cohorts match a per-user Scala reference") {
    val evGen = for {
      u <- Gen.chooseNum(1L, 40L)
      t <- Gen.chooseNum(0L, 3000000L) // ~5 weeks of micros headroom
    } yield (u, t)
    val period = 604800L // scaled-down "week" in micros
    val evs = samples(evGen, 400).zipWithIndex
      .map { case ((u, t), i) => (i.toLong, u, t * 1000L, "view", 0.0) }
    val got = graft.ops.SessionOps
      .retentionCohorts(
        evs.toDF("event_id", "user_id", "ts", "event_type", "value"), period)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cells = evs.groupBy(_._2).values.flatMap { es =>
      val ps = es.map(_._3 / 1000 / period).distinct
      val p0 = ps.min
      ps.map(p => (p0, p - p0))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === cells)
  }

  test("HLL sketch merge ≡ single sketch (PFMERGE associativity)") {
    val events = Tables.events(spark, sfDir)
    val merged = StatsOps.viewStatsSketched(events)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = events.filter($"event_type" === "view")
      .select(StatsOps.docKey($"props").as("doc_id"), $"user_id")
      .groupBy($"doc_id")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === direct)
    // and the estimate tracks the exact count within HLL error
    val exact = StatsOps.viewStats(events)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    merged.foreach { case (k, est) =>
      assert(math.abs(est - exact(k)).toDouble / math.max(exact(k), 1) < 0.1)
    }
  }

  test("removeBoilerplate matches an exact Scala reference on random corpora") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "nav", "bar",
      "home", "foo", "baz", "qux")
    val gen = for {
      n <- Gen.choose(1, 20)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val docs = samples(gen, 80).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val (segW, minDocs) = (2, 3)
    // reference: segment every doc, count distinct docs per segment,
    // drop >=minDocs segments everywhere, rebuild in position order
    def segsOf(t: String): Seq[String] = {
      val ws = t.split(" ", -1)
      ws.grouped(segW).map(_.mkString(" ")).toSeq
    }
    val docFreq = docs.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
    val expected = docs.flatMap { case (id, t) =>
      val kept = segsOf(t).filter(s => docFreq(s) < minDocs)
      if (kept.isEmpty) None
      else Some((id, kept.mkString(" "), kept.size.toLong, segsOf(t).size.toLong))
    }.toSet
    val got = graft.dedup.Dedup.removeBoilerplate(
        docs.toDF("doc_id", "text"), "doc_id", "text", segW, minDocs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
  }

  test("containment pairs are sound and complete over planted prefixes") {
    // corpus: 40 random docs + a half-truncation of each even-id doc.
    // Soundness: every emitted pair really has overlap ≥ 0.9 with the
    // container holding ≥ the contained's gram count. Recall: every
    // planted prefix is found (per-pair LSH miss rate (1−J)^16 ≈ 1e-5;
    // the fixed generator seed makes the check deterministic).
    val wordGen = Gen.choose(0, 400).map(i => s"w$i")
    val gen = for { ws <- Gen.listOfN(24, wordGen) } yield ws.mkString(" ")
    val baseDocs = samples(gen, 40).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val planted = baseDocs.filter(_._1 % 2 == 0).map { case (id, t) =>
      (id + 1000L, t.split(" ").take(12).mkString(" "))
    }
    val docs = baseDocs ++ planted
    def grams(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val byId = docs.toMap
    val got = graft.dedup.Dedup.containmentNearDuplicates(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.foreach { case (kept, dropped, c) =>
      val (ga, gb) = (grams(byId(kept)), grams(byId(dropped)))
      val ref = ga.intersect(gb).size.toDouble / math.min(ga.size, gb.size)
      assert(math.abs(ref - c) < 5e-5, s"($kept,$dropped)")
      assert(ref >= 0.9)
      assert(ga.size > gb.size || (ga.size == gb.size && kept < dropped))
    }
    val pairs = got.map(t => (t._1, t._2)).toSet
    planted.foreach { case (pid, _) =>
      assert(pairs.contains((pid - 1000L, pid)), s"planted $pid missed")
    }
  }

  test("bpeMerges matches an exact Scala reference on random corpora") {
    // small alphabet + long repeats stress the greedy-merge equivalence
    val gen = for {
      n <- Gen.choose(1, 7)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'a', 'b', 'c', '_'))
    } yield cs.mkString
    val ws = samples(gen, 400)
    def reference(words: Seq[String], nMerges: Int): Seq[(Long, String, String, Long)] = {
      // marker-carrying words are excluded from the vocabulary,
      // mirroring the operator's filter
      var vocab: Map[Seq[String], Long] =
        words.filterNot(w => w.exists("<>_".contains(_)))
          .groupBy(w => (w.map(_.toString) :+ "_"): Seq[String])
          .map { case (k, v) => k -> v.size.toLong }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      for (r <- 1 to nMerges) {
        val stats = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.sliding(2).foreach {
            case Seq(a, b) => stats((a, b)) = stats.getOrElse((a, b), 0L) + c
            case _ =>
          }
        }
        if (stats.nonEmpty) {
          val mx = stats.values.max
          val (a, b) = stats.filter(_._2 == mx).keys.min
          out += ((r.toLong, a, b, mx))
          vocab = vocab.groupBy { case (syms, _) =>
            val o = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                o += a + b; i += 2
              } else { o += syms(i); i += 1 }
            }
            o.toSeq
          }.map { case (k, vs) => k -> vs.values.sum }
        }
      }
      out.toSeq
    }
    val docs = ws.grouped(20).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
    val got = graft.textanalysis.TextAnalysis.bpeMerges(
        docs.toDF("doc_id", "text"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === reference(ws, 10))
    // the driver-side bounded-vocab learner agrees with the same
    // reference — and therefore with the distributed operator — on
    // the identical corpus (rank depth past the fuzz corpus's
    // exhaustion point exercises the stop condition too)
    val wc = ws.filterNot(w => w.isEmpty || w.exists("<>_".contains(_)))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }.toSeq
    val local = graft.textanalysis.TextAnalysis.bpeMergesLocal(wc, 10)
    assert(local === reference(ws, 10))
  }

  test("bpeEncode matches an exact Scala reference on random corpora") {
    val gen = for {
      n <- Gen.choose(1, 7)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'a', 'b', 'c', '_'))
    } yield cs.mkString
    val ws = samples(gen, 300)
    val docs = ws.grouped(15).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
    val merges = graft.textanalysis.TextAnalysis.bpeMerges(
        docs.toDF("doc_id", "text"), 6)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // greedy left-to-right single-pass merge — the same scan the
    // bpeMerges reference uses to rewrite its vocabulary
    def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
      val o = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          o += a + b; i += 2
        } else { o += syms(i); i += 1 }
      }
      o.toSeq
    }
    def reference(text: String): (Long, String) = {
      val toks = text.split(" ", -1).toSeq
        .filter(w => w.nonEmpty && !w.exists("<>_".contains(_)))
        .flatMap { w =>
          merges.foldLeft((w.map(_.toString) :+ "_"): Seq[String]) {
            case (s, (a, b)) => applyMerge(s, a, b)
          }
        }
      (toks.length.toLong, toks.mkString(" "))
    }
    val got = graft.textanalysis.TextAnalysis.bpeEncode(
        docs.toDF("doc_id", "text"), merges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) === reference(text), s"doc $id: '$text'")
    }
  }

  test("chunkDocuments matches an exact Scala reference on random corpora") {
    val gen = for {
      n <- Gen.choose(1, 90)
      ws <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(5)))
    } yield ws.mkString(" ")
    val docs = samples(gen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val (chunk, stride) = (16, 11)
    def reference(id: Long, text: String): Seq[(Long, Long, String, Long)] = {
      val ws = text.split(" ", -1)
      val n = ws.length
      val k = if (n <= chunk) 1 else 1 + (n - chunk + stride - 1) / stride
      (0 until k).map { i =>
        val start = i * stride
        val slice = ws.slice(start, math.min(n, start + chunk))
        (id, i.toLong, slice.mkString(" "), slice.length.toLong)
      }
    }
    val expected = docs.flatMap { case (id, t) => reference(id, t) }.toSet
    val got = graft.textanalysis.TextAnalysis.chunkDocuments(
        docs.toDF("doc_id", "text"), chunkWords = chunk, strideWords = stride)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got === expected)
  }

  test("token entropy matches an exact Scala reference on random corpora") {
    // heavy-repeat word pool so runs of every length occur
    val repTextGen: Gen[String] = for {
      words <- Gen.listOfN(40, Gen.oneOf("a", "b", "spam", "the", "zz"))
    } yield words.mkString(" ")
    val docs = samples(repTextGen, 150).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    def reference(t: String): Double = {
      val ws = t.split(" ", -1)
      val n = ws.length.toLong
      val s6 = ws.groupBy(identity).values.map(_.length.toLong)
        .map(c => c * math.round(math.log(n.toDouble / c) * 1e6)).sum
      BigDecimal(s6 / (n * 1e6))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = graft.textanalysis.TextAnalysis.tokenEntropy(
        docs.toDF("doc_id", "text"))
      .select($"doc_id", $"entropy").as[(Long, Double)].collect().toMap
    docs.foreach { case (id, t) =>
      assert(got(id) === reference(t), s"doc $id: '$t'")
    }
  }

  test("native dsir score ≡ composed fold ≡ local md5 reference on random corpora") {
    import graft.selection.Dsir
    val B = 64
    val tokGen: Gen[String] = Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(6)), Gen.oneOf("the", "a", "日本", "é"),
      Gen.const(""), Gen.numStr.map(_.take(4)))
    val corpus = samples(Gen.listOfN(12, tokGen), 150).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = corpus.toDF("doc_id", "text")
    val m = Dsir.dsirTrainWith(df, col("doc_id") % 3 === 0, B)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(g: String) = java.lang.Long.parseLong(md5hex(g).take(15), 16) % B
    def refScore(text: String): Long = {
      val ws = text.split(" ", -1).toSeq
      val grams = ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      grams.map(g => m.ratios6(bucket(g).toInt)).sum
    }
    val ws = graft.functions.TextFunctions.words(col("text"))
    val both = df.select($"doc_id",
        Dsir.score6For(df, m)(ws).as("native"),
        Dsir.score6Local(m)(ws).as("composed"))
      .as[(Long, Long, Long)].collect()
    assert(graft.plans.GraftFunctions.isRegistered(spark))
    both.foreach { case (id, n, c) =>
      val want = refScore(corpus(id.toInt)._2)
      assert(n === want, s"native doc $id")
      assert(c === want, s"composed doc $id")
    }
  }

  test("sorted-intersect size ≡ set intersection on random string sets") {
    val setGen: Gen[Seq[String]] = Gen.listOf(Gen.oneOf(
      "a", "ab", "abc", "b", "ba", "é", "日本", "", "z"))
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(setGen, setGen), 250).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }
    val got = pairs.toDF("id", "x", "y")
      .select($"id", call_function(
        graft.plans.TextHashFunctions.SortedIntersectSizeName,
        $"x", $"y").as("n"))
      .as[(Long, Int)].collect().toMap
    pairs.foreach { case (id, x, y) =>
      assert(got(id) === x.toSet.intersect(y.toSet).size, s"pair $id")
    }
  }

  test("IVF retention preserves the serving and as-of algebra for " +
      "arbitrary batch/delete/keep partitions") {
    import graft.similarity.Similarity
    val rnd = new scala.util.Random(42)
    val emb = Tables.embeddings(spark, sfDir).limit(40)
      .select("vec_id", "embedding").cache()
    val cents = Similarity.seedCentroids(emb, 4)
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    def rowsOf(s: Seq[Long]) =
      emb.filter(col("vec_id").isin(s.map(Long.box): _*))
    def toIdDf(s: Seq[Long]) = s.toDF("vec_id")
    for (scenario <- 1 to 4) {
      val nApp = 1 + rnd.nextInt(3)
      // id 0 pins the base nonempty; appends may come out empty and
      // then simply don't exist as batches
      val assign = allIds.map(id =>
        id -> (if (id == allIds.head) 0 else rnd.nextInt(nApp + 1))).toMap
      val batchIds = (0 to nApp).map(b =>
        b -> allIds.filter(assign(_) == b).toSeq).toMap
      val root = tempDir(s"graft_retp$scenario") + "/idx"
      VectorStore.write(VectorCodec.Float, rowsOf(batchIds(0)), cents, root)
      val appNames = (1 to nApp).filter(b => batchIds(b).nonEmpty).map { b =>
        VectorStore.append(VectorCodec.Float,
          rowsOf(batchIds(b)), cents, root, s"a$b")
        s"a$b"
      }
      val del1 = allIds.filter(_ => rnd.nextInt(4) == 0).toSeq
      val del2 = allIds.filter(_ => rnd.nextInt(6) == 0).toSeq
      if (del1.nonEmpty) Similarity.deleteFromIvfIndex(toIdDf(del1), root, "d1")
      if (del2.nonEmpty) Similarity.deleteFromIvfIndex(toIdDf(del2), root, "d2")
      val deleted = (del1 ++ del2).toSet
      if (appNames.nonEmpty) {
        val keep = rnd.shuffle(appNames).take(1 + rnd.nextInt(appNames.size))
        Similarity.compactIvfIndexKeeping(spark, root, keep)
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.select("vec_id").collect().map(_.getLong(0)).toSet
        // serving invariant
        assert(ids(Similarity.readIvfIndex(spark, root)) ===
          allIds.toSet -- deleted, s"scenario $scenario serve")
        // every kept batch replays alone (tombstones retroactive)
        keep.foreach { k =>
          val b = k.stripPrefix("a").toInt
          assert(ids(Similarity.readIvfIndexAsOf(spark, root, Seq(k))) ===
            batchIds(b).toSet -- deleted, s"scenario $scenario as-of $k")
        }
        // the folded window is the base
        val keptIds = keep.flatMap(k =>
          batchIds(k.stripPrefix("a").toInt)).toSet
        assert(ids(Similarity.readIvfIndexAsOf(spark, root, Seq("build")))
          === (allIds.toSet -- keptIds) -- deleted,
          s"scenario $scenario as-of build")
        // folded names fail loudly
        appNames.filterNot(keep.contains).foreach { k =>
          intercept[IllegalArgumentException] {
            Similarity.readIvfIndexAsOf(spark, root, Seq(k))
          }
        }
        // physical erasure outside the kept partitions
        val raw = ids(spark.read.parquet(root))
        assert(((deleted -- keptIds) & raw).isEmpty,
          s"scenario $scenario physical")
      }
    }
    emb.unpersist()
  }

  test("gram-index retention ≡ retrain for arbitrary batch/delete/keep " +
      "partitions, including kept delete batches") {
    import graft.textanalysis.TextAnalysis
    val rnd = new scala.util.Random(7)
    val docs = Tables.documents(spark, sfDir).limit(30)
      .select("doc_id", "text").cache()
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    def rowsOf(s: Seq[Long]) =
      docs.filter(col("doc_id").isin(s.map(Long.box): _*))
    def gm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (scenario <- 1 to 3) {
      val assign = allIds.map(id =>
        id -> (if (id == allIds.head) 0 else rnd.nextInt(3))).toMap
      val batchIds = (0 to 2).map(b =>
        b -> allIds.filter(assign(_) == b).toSeq).toMap
      val root = tempDir(s"graft_gretp$scenario")
      TextAnalysis.writeMemorizationIndex(
        TextAnalysis.memorizationIndex(rowsOf(batchIds(0)), 3), root)
      val appNames = (1 to 2).filter(b => batchIds(b).nonEmpty).map { b =>
        TextAnalysis.appendToMemorizationIndex(rowsOf(batchIds(b)), root,
          s"a$b", 3)
        s"a$b"
      }
      // each doc deleted at most once (the membership contract)
      val delDocs = allIds.filter(_ => rnd.nextInt(4) == 0).toSeq
      val delNames =
        if (delDocs.nonEmpty) {
          TextAnalysis.deleteFromMemorizationIndex(rowsOf(delDocs), root,
            "d1", 3)
          Seq("d1")
        } else Seq.empty
      if (appNames.nonEmpty) {
        // sometimes keep the delete batch too — its negatives must
        // keep applying unfolded
        val keep = rnd.shuffle(appNames).take(1 + rnd.nextInt(appNames.size)) ++
          (if (delNames.nonEmpty && rnd.nextBoolean()) delNames else Seq.empty)
        TextAnalysis.compactMemorizationIndexKeeping(spark, root, keep)
        val survivors = allIds.filterNot(delDocs.contains).toSeq
        assert(gm(TextAnalysis.readMemorizationIndexMerged(spark, root)) ===
          gm(TextAnalysis.memorizationIndex(rowsOf(survivors), 3)),
          s"scenario $scenario merged")
        // a kept APPEND replays alone pre-erasure (named-delete rule)
        keep.filter(_.startsWith("a")).foreach { k =>
          val b = k.stripPrefix("a").toInt
          assert(gm(TextAnalysis.readMemorizationIndexAsOf(spark, root,
            Seq(k))) ===
            gm(TextAnalysis.memorizationIndex(rowsOf(batchIds(b)), 3)),
            s"scenario $scenario as-of $k")
        }
        // folded append names fail loudly
        appNames.filterNot(keep.contains).foreach { k =>
          intercept[IllegalArgumentException] {
            TextAnalysis.readMemorizationIndexAsOf(spark, root, Seq(k))
          }
        }
      }
    }
    docs.unpersist()
  }
}
