package graft.textanalysis

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.dedup.Dedup

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace vs bpe-ish vs estimate") {
    val df = Seq((1L, "hello world, it's 42 degrees!")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.tokenCount($"text"),
      TextAnalysis.bpeishTokenCount($"text"),
      TextAnalysis.estimatedLlmTokens($"text")).head
    assert(r.getLong(0) === 5)
    // hello|world|,|it|'|s|42|degrees|! = 9
    assert(r.getLong(1) === 9)
    assert(r.getLong(2) === math.ceil(29 / 4.0).toLong)
  }

  test("bpeMerges learns the classic subword merges") {
    // Sennrich-style toy corpus: 'es' then 'est' dominate
    val df = Seq(
      (1L, "newest newest newest widest widest low low low lower")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(df, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // 'e s' appears in newest×3 + widest×2 = 5 (most frequent pair)
    assert(m(0) === ((1L, "e", "s", 5L)))
    assert(m(1) === ((2L, "es", "t", 5L)))
    assert(m(2) === ((3L, "est", "_", 5L)))
    // then 'l o' from low×3 + lower = 4
    assert(m(3) === ((4L, "l", "o", 4L)))
  }

  test("bpeMerges: runs of identical symbols merge greedily (no skip)") {
    // 'aaaa' x5: round 1 must count (a,a) at ALL 3 adjacent positions
    // (15 total) and merge to <aa><aa><_>. Round 2 then ties (aa,aa)
    // and (aa,_) at 5; the documented (freq desc, a, b) tie-break
    // picks (aa,_) because '_' < 'a'. A naive single-delimiter
    // replace would instead leave <aa><a><a><_>, whose round-2
    // argmax is (a,_) — so sym_a == "aa" proves the greedy merge.
    val df = Seq((1L, "aaaa aaaa aaaa aaaa aaaa")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(df, 2).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) === (("a", "a", 15L)))
    assert(m(1) === (("aa", "_", 5L)))
  }

  test("bpeEncode applies the learned merges greedily per word") {
    val train = Seq(
      (1L, "newest newest newest widest widest low low low lower")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(train, 4).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // (e,s) (es,t) (est,_) (l,o) per the learning spec above
    val out = TextAnalysis.bpeEncode(
        Seq((7L, "newest low lower"), (8L, ""), (9L, "has_marker"))
          .toDF("doc_id", "text"), merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // newest → n e w est_ ; low → lo w _ ; lower → lo w e r _
    assert(out(0) === ((7L, 12L, "n e w est_ lo w _ lo w e r _")))
    // empty doc and a doc whose only word carries the marker: 0 tokens
    assert(out(1) === ((8L, 0L, "")))
    assert(out(2) === ((9L, 0L, "")))
  }

  test("chunkDocuments: window count, overlap, tail, and short docs") {
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc(5)), (2L, doc(10)), (3L, doc(11)), (4L, doc(25)))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(df, chunkWords = 10, strideWords = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // n=5 (< chunk) and n=10 (= chunk): exactly one chunk, whole doc
    assert(chunks.filter(_._1 == 1L) === Seq((1L, 0L, doc(5), 5L)))
    assert(chunks.filter(_._1 == 2L) === Seq((2L, 0L, doc(10), 10L)))
    // n=11: 1 + ceil(1/7) = 2 chunks; second starts at word 8 (overlap 3)
    val c3 = chunks.filter(_._1 == 3L)
    assert(c3.length === 2)
    assert(c3(1)._3 === (8 to 11).map(i => s"w$i").mkString(" "))
    assert(c3(1)._4 === 4L)
    // n=25: 1 + ceil(15/7) = 4 chunks; starts 0,7,14,21; tail 4 words
    val c4 = chunks.filter(_._1 == 4L)
    assert(c4.map(_._2) === Seq(0L, 1L, 2L, 3L))
    assert(c4(1)._3 === (8 to 17).map(i => s"w$i").mkString(" "))
    assert(c4(3)._4 === 4L)
    // every word of every doc appears in at least one of its chunks,
    // and consecutive chunks overlap by chunk − stride words
    assert(c4.map(_._4).sum === 10 + 10 + 10 + 4)
  }

  test("chunkDocuments rejects bad window parameters") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(df, chunkWords = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(df, chunkWords = 8, strideWords = 9)
    }
  }

  test("language detection picks the profile with most hits") {
    val df = Seq(
      (1L, "the cat and the dog is a friend of mine"),
      (2L, "le chat et la maison des amis les voisins"),
      (3L, "der hund und die katze das ist gut"),
      (4L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val langs = df.select($"doc_id", TextAnalysis.detectLang($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) === "en")
    assert(langs(2L) === "fr")
    assert(langs(3L) === "de")
    assert(langs(4L) === "und")
  }

  test("rolling hash: deterministic, order-sensitive, bounded") {
    val df = Seq((1L, "abc"), (2L, "acb"), (3L, "abc")).toDF("doc_id", "text")
    val h = df.select(graft.Composed.rollingHash($"text")).collect().map(_.getLong(0))
    assert(h(0) === h(2))
    assert(h(0) !== h(1)) // order matters — not a bag hash
    assert(h.forall(v => v >= 0 && v < graft.Composed.FpMod))
    // matches the direct fold
    val expected = "abc".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % graft.Composed.FpMod)
    assert(h(0) === expected)
  }

  test("bottom-k sketch overlap tracks similarity") {
    val a = Dedup.shingles(lit("the quick brown fox jumps over the lazy dog"), 2)
    val b = Dedup.shingles(lit("the quick brown fox jumps over the lazy cat"), 2)
    val c = Dedup.shingles(lit("entirely different words in this sentence here"), 2)
    val r = spark.range(1).select(
      TextAnalysis.bottomKSketch(a, 4).as("sa"),
      TextAnalysis.bottomKSketch(b, 4).as("sb"),
      TextAnalysis.bottomKSketch(c, 4).as("sc")).head
    val (sa, sb, sc) = (r.getSeq[Long](0).toSet, r.getSeq[Long](1).toSet, r.getSeq[Long](2).toSet)
    assert(sa.intersect(sb).size > sa.intersect(sc).size)
  }

  test("corpus stats partition the corpus") {
    val docs = Tables.documents(spark, sfDir)
    val stats = TextAnalysis.corpusStats(docs).collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum === docs.count())
    stats.foreach(r => assert(r.getAs[Long]("min_chars") <= r.getAs[Long]("max_chars")))
  }

  test("repetition stats: hand-computed fractions and the length gate") {
    val docs = Seq(
      // ws=("a b")×10: 20 words, 2 distinct → dup_word 0.9; bg: 19
      // slots, 2 distinct ("a b"×10, "b a"×9) → dup_bigram
      // 1-2/19=0.8947, top 10/19=0.5263; tg: 18 slots, 2 distinct →
      // dup_trigram 1-2/18=0.8889 — flagged on both criteria
      (1L, "a b a b a b a b a b a b a b a b a b a b"),
      // all-unique 4-word doc: top_bigram_frac 1/3 but UNDER the
      // length gate → never flagged
      (2L, "p q r s"),
      // 20 unique words: every dup fraction 0, top 1/19 → clean
      (3L, "a b c d e f g h i j k l m n o p q r s t")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("dup_word_frac") === 0.9)
    assert(r(1L).getAs[Double]("dup_bigram_frac") === 0.8947)
    assert(r(1L).getAs[Double]("top_bigram_frac") === 0.5263)
    assert(r(1L).getAs[Double]("dup_trigram_frac") === 0.8889)
    assert(r(1L).getAs[Boolean]("repetitive"))
    assert(r(2L).getAs[Double]("top_bigram_frac") === 0.3333)
    assert(!r(2L).getAs[Boolean]("repetitive"))
    assert(r(3L).getAs[Double]("dup_word_frac") === 0.0)
    assert(r(3L).getAs[Double]("top_bigram_frac") === 0.0526)
    assert(!r(3L).getAs[Boolean]("repetitive"))
  }

  test("repetitiveFlag: the inline gate matches repetitionStats on the corpus") {
    import graft.functions.TextFunctions.words
    val docs = Tables.documents(spark, sfDir)
    val inline = docs.select($"doc_id",
      TextAnalysis.repetitiveFlag(words($"text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val framed = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "repetitive")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(inline === framed)
    assert(inline.values.exists(identity), "corpus should have at least one repetitive doc")
  }

  test("maxMultiplicity: run-length fold equals brute-force mode count") {
    val arrs = Seq(
      Seq("a", "a", "a", "b", "c"), Seq("x"), Seq[String](),
      Seq("m", "n", "m", "n", "m", "q", "q", "q", "q"))
    val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "arr")
    val got = df.select($"id",
      TextAnalysis.maxMultiplicity(array_sort($"arr")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    arrs.zipWithIndex.foreach { case (a, i) =>
      val want = if (a.isEmpty) 0L
        else a.groupBy(identity).values.map(_.size).max.toLong
      assert(got(i.toLong) === want, s"arr $a")
    }
  }

  test("decontamination: copies flag, disjoint docs score zero") {
    val benchmark = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),     // exact copy → 1.0
      (2L, "the quick brown cat sleeps"),          // shares 2 of 4 bigrams
      (3L, "entirely different words here now")    // disjoint → 0.0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.contaminationStats(corpus, benchmark, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("contamination") === 1.0)
    assert(r(1L).getAs[Boolean]("contaminated"))
    assert(r(2L).getAs[Double]("contamination") === 0.5)
    assert(r(2L).getAs[Boolean]("contaminated"))
    assert(r(3L).getAs[Double]("contamination") === 0.0)
    assert(!r(3L).getAs[Boolean]("contaminated"))
    // totals are per-doc distinct bigram counts
    assert(r(2L).getAs[Long]("n_grams") === 4)
    assert(r(2L).getAs[Long]("n_hits") === 2)
  }

  test("decontamination keeps zero-gram docs with zero contamination") {
    val benchmark = Seq((100L, "a b c")).toDF("doc_id", "text")
    val corpus = Seq((1L, "solo")).toDF("doc_id", "text") // < 2 words → no bigrams
    val r = TextAnalysis.contaminationStats(corpus, benchmark, "doc_id", "text").head
    assert(r.getAs[Long]("n_grams") === 0)
    assert(r.getAs[Double]("contamination") === 0.0)
    assert(!r.getAs[Boolean]("contaminated"))
  }

  test("sequence packing: blocks chunk each shard's token stream in order") {
    import spark.implicits._
    // tokens: 3,3,3 with budget 5 in one shard → starts at 0,3,6 →
    // blocks 0,0,1 (doc 2 starts inside block 0, straddles boundary)
    val docs = Seq(
      (0L, "a b c"), (8L, "d e f"), (16L, "g h i")
    ).toDF("doc_id", "text") // all ≡ 0 mod 8 → same shard
    val packed = TextAnalysis.packSequences(docs, "doc_id",
      TextAnalysis.tokenCount($"text"), budget = 5, nShards = 8)
      .select("doc_id", "shard", "block")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(packed.toSet === Set((0L, 0, 0L), (8L, 0, 0L), (16L, 0, 1L)))
  }

  test("sequence packing covers every doc exactly once, shard-parallel") {
    val docs = Tables.documents(spark, sfDir)
    val packed = TextAnalysis.packSequences(docs, "doc_id",
      TextAnalysis.tokenCount(col("text")), budget = 512, nShards = 8)
    assert(packed.count() === docs.count())
    assert(packed.select("doc_id").distinct().count() === docs.count())
    // block ids are contiguous from 0 within every shard
    val gaps = packed.groupBy("shard").agg(
      max(col("block")).as("mx"),
      countDistinct(col("block")).as("nb"))
      .filter(col("mx") =!= col("nb") - 1)
    assert(gaps.count() === 0)
  }

  test("domain divergence: exact reference; twin sources tie, outlier leads") {
    val data = Seq((1L, "a a b", "s1"), (2L, "a a b", "s2"), (3L, "z z z", "s3"))
    val got = TextAnalysis.domainDivergence(data.toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // exact pico-nat reference over the same tokenization
    val toks = data.flatMap { case (_, t, s) => t.split(" ", -1).map(s -> _) }
    val csw = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cw = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ns = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = toks.size.toLong
    val v = cw.size.toLong
    val expect = ns.map { case (s, nS) =>
      val t12 = cw.map { case (w, cW) =>
        val c = csw.getOrElse((s, w), 0L)
        val pS = (c + 1) * 1.0 / (nS + v)
        math.round(pS * math.log(((c + 1) * 1.0 * (n + v)) /
          ((nS + v) * 1.0 * (cW + 1))) * 1e12)
      }.sum
      s -> ((nS, BigDecimal(t12 / 1e12)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    assert(got === expect)
    // identical distributions tie; the disjoint-vocab source diverges most
    assert(got("s1") === got("s2"))
    assert(got("s3")._2 > got("s1")._2)
    // KL of proper (smoothed) distributions is non-negative
    got.values.foreach(kv => assert(kv._2 >= 0.0))
  }

  test("top n-grams: multiplicity counted, ties broken by gram") {
    // bigrams: doc1 → "a b","b a","a b","b c"; doc2 → "a b","b x"
    val docs = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(docs, 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.head === ("a b", 3L))
    // count-1 ties resolve in gram order
    assert(top.drop(1).toSeq === Seq(("b a", 1L), ("b c", 1L)))
  }

  test("tf-idf keywords: corpus-common terms score zero, rare terms rank first") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry")).toDF("doc_id", "text")
    val kw = TextAnalysis.tfidfKeywords(docs, 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Double]("score"))).toMap
    // idf(apple) = idf(cherry) = round(ln 2, 6) = 0.693147; banana in
    // every doc → idf 0 → score 0 but still listed (rank by score)
    assert(kw((1L, 1)) === ("apple", 1.3863)) // tf 2
    assert(kw((1L, 2)) === ("banana", 0.0))
    assert(kw((2L, 1)) === ("cherry", 0.6931))
    assert(kw((2L, 2)) === ("banana", 0.0))
  }

  test("lm score: add-1 bigram nll, hand-computed; short docs score 0") {
    // model: c("a b")=2, c("a c")=1; context c(a·)=3; V=4 {a,b,c,z}
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lmScore(docs, nllThreshold = 1.0)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigrams"), x.getAs[Double]("lm_nll"),
          x.getAs[Boolean]("unusual"))).toMap
    // nll("a b") = ln((3+4)/(2+1)) = ln(7/3); nll("a c") = ln(7/2)
    val nllAB = BigDecimal(math.round(math.log(7.0 / 3) * 1e6) / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nllAC = BigDecimal(math.round(math.log(7.0 / 2) * 1e6) / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L) === ((1L, nllAB, false))) // common transition: usual
    assert(r(2L) === r(1L))                // identical doc, identical score
    assert(r(3L) === ((1L, nllAC, true)))  // rarer transition crosses 1.0
    assert(r(4L) === ((0L, 0.0, false)))   // no bigrams → 0, never flagged
  }

  test("frozen lm: unseen grams smooth to ln(V); model survives parquet") {
    // train: c("a b")=2, ctx a=2, V=3 {a,b,c}
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val model = TextAnalysis.lmTrain(train)
    // "a z": known context a (c1=2), unseen gram → ln((2+3)/1)
    // "q z": unseen context AND gram → ln((0+3)/1) = ln 3
    val out = Seq((10L, "a z"), (11L, "q z")).toDF("doc_id", "text")
    def expect(x: Double) =
      BigDecimal(math.round(math.log(x) * 1e6) / 1e6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = TextAnalysis.lmScoreWith(model, out)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("lm_nll")).toMap
    assert(scored === Map(10L -> expect(5.0), 11L -> expect(3.0)))
    // the model is three plain tables: write, reload, score identically
    val dir = tempDir("graft_lm")
    model.grams.write.parquet(s"$dir/grams")
    model.contexts.write.parquet(s"$dir/contexts")
    model.vocab.write.parquet(s"$dir/vocab")
    val reloaded = TextAnalysis.LmModel(
      spark.read.parquet(s"$dir/grams"),
      spark.read.parquet(s"$dir/contexts"),
      spark.read.parquet(s"$dir/vocab"))
    val rescored = TextAnalysis.lmScoreWith(reloaded, out)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("lm_nll")).toMap
    assert(rescored === scored)
  }

  test("token fertility: exact half-up ratio per lang; punctuation raises it") {
    val docs = Seq(
      (1L, "en", "hello world, it's fine!"),      // 4 words, 8 bpeish
      (2L, "en", "plain words here"),             // 3 words, 3 bpeish
      (3L, "de", "der hund"),                     // 2 words, 2 bpeish
      (4L, "de", "a-b c.d e")                     // 3 words, 7 bpeish
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tokenFertility(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // exact rational half-up at 4 decimals, computed in integer space
    def fert(t: Long, w: Long): Double = ((t * 20000 + w) / (2 * w)) / 10000.0
    assert(out("en") === ((2L, 7L, 11L, fert(11, 7))))
    assert(out("de") === ((2L, 5L, 9L, fert(9, 5))))
    assert(out("en")._4 === 1.5714)
    assert(out("de")._4 === 1.8)
  }

  test("packing efficiency: exact per-shard fill from the block layout") {
    val budget = 10L
    val rows = (0L until 20L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val got = TextAnalysis.packingEfficiency(df, "doc_id",
        TextAnalysis.tokenCount(col("text")), budget, nShards = 2)
      .collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val want = rows.groupBy(_._1 % 2).map { case (sh, ds) =>
      var cum = 0L
      val blocks = ds.sortBy(_._1).map { case (_, text) =>
        val t = text.split(" ", -1).length.toLong
        val b = cum / budget
        cum += t
        (b, t)
      }
      val nBlocks = blocks.map(_._1).max + 1
      val tokens = blocks.map(_._2).sum
      val fill = ((tokens * 20000 + nBlocks * budget) /
        (2 * nBlocks * budget)) / 10000.0
      sh.toInt -> ((ds.size.toLong, nBlocks, tokens, fill))
    }
    assert(got === want)
    // fill is meaningfully below 1 for this ragged layout
    assert(got.values.forall(v => v._4 > 0.5 && v._4 <= 1.0), got)
  }

  test("lm score flags word salad against a regular corpus") {
    val regular = (0L until 20L).map(i => (i, "the cat sat on the mat"))
    val salad = Seq((99L, "mat the on cat sat the"))
    val r = TextAnalysis.lmScore((regular ++ salad).toDF("doc_id", "text"))
      .select("doc_id", "lm_nll")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // every regular doc shares one score; the permuted doc scores higher
    assert(r(0L) === r(7L))
    assert(r(99L) > r(0L))
  }

  test("contaminationByBenchmark: per-bench leak counts, zeros for " +
      "clean bench docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta" with b10
      (2L, "alpha beta epsilon"),       // shares "alpha beta" with b10
      (3L, "zeta eta theta"))           // clean
      .toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta something"),    // "alpha beta" leaks into 1 and 2
      (11L, "totally unseen grams"),    // clean
      (12L, "x"))                       // < 2 words: no grams at all
      .toDF("doc_id", "text")
    val got = TextAnalysis.contaminationByBenchmark(
      corpus, bench, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // b10: 2 grams ("alpha beta", "beta something"); 1 leaked gram
    // into 2 corpus docs; leaked fraction 1/2
    assert(got(10L) === ((2L, 2L, 1L, 0.5)))
    assert(got(11L) === ((2L, 0L, 0L, 0.0)))
    assert(got(12L) === ((0L, 0L, 0L, 0.0)))
  }

  test("memorizationStats: cross-doc duplicated grams only, exact " +
      "fractions, short docs read NULL") {
    val docs = Seq(
      (1L, "a b c d e f"),     // grams: "a b c", "b c d", "c d e", "d e f"
      (2L, "a b c x y"),       // shares "a b c" with doc 1
      (3L, "p q r p q r p q"), // self-repeats "p q r" — NOT cross-doc
      (4L, "t u"))             // < 3 words: zero grams
      .toDF("doc_id", "text")
    val got = TextAnalysis.memorizationStats(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1L) === ((4L, 1L, Some(0.25))))
    assert(got(2L) === ((3L, 1L, Some(0.3333))))
    // "p q r" ×2, "q r p" ×2, "r p q" ×2 — 6 duplicated slots
    // WITHIN one doc, but nd = 1 everywhere, so dup_grams = 0
    assert(got(3L) === ((6L, 0L, Some(0.0))))
    assert(got(4L) === ((0L, 0L, None)))
  }

  test("memorizationProbe: admission gate against a frozen index; " +
      "minDocs=1 counts any indexed gram") {
    val train = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val idx = TextAnalysis.memorizationIndex(train, 3)
    val probe = Seq(
      (10L, "a b c q"),   // "a b c" indexed, "b c q" not: 1/2
      (11L, "m n o"),     // nothing indexed: 0/1
      (12L, "q"))         // gram-less
      .toDF("doc_id", "text")
    val got = TextAnalysis.memorizationProbe(probe, idx, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(got(10L) === ((2L, 1L, Some(0.5))))
    assert(got(11L) === ((1L, 0L, Some(0.0))))
    assert(got(12L) === ((0L, 0L, None)))
  }

  test("merged batch indexes probe identically to a full retrain") {
    val a = Seq((1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val b = Seq((10L, "a b c x"), (11L, "p q r s")).toDF("doc_id", "text")
    val merged = TextAnalysis.mergeMemorizationIndexes(
      TextAnalysis.memorizationIndex(a, 3),
      TextAnalysis.memorizationIndex(b, 3))
    val full = TextAnalysis.memorizationIndex(a.unionByName(b), 3)
    val gm = merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gf = full.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gm === gf)
    // and the cross-doc probe over the merged index reproduces
    // memorizationStats on the union
    val probed = TextAnalysis.memorizationProbe(b, merged, 3, minDocs = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val stats = TextAnalysis.memorizationStats(a.unionByName(b), 3)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(probed === stats)
  }

  test("deleteFromMemorizationIndex: negative-count merge ≡ retrain; " +
      "retries idempotent; no-deletes reads are just the aggregate") {
    val keepA = Seq((1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val gone = Seq((10L, "a b c x"), (11L, "p q r s")).toDF("doc_id", "text")
    val dir = tempDir("graft-memdel")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(keepA.unionByName(gone), 3), dir)
    TextAnalysis.deleteFromMemorizationIndex(gone, dir, "d1", 3)
    // retry of the same batch overwrites its own partition — no
    // double subtraction
    TextAnalysis.deleteFromMemorizationIndex(gone, dir, "d1", 3)
    val merged = TextAnalysis.readMemorizationIndexMerged(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val retrain = TextAnalysis.memorizationIndex(keepA, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === retrain)
    // an index with no deletions reads identically through the helper
    val plain = tempDir("graft-memnd")
    TextAnalysis.writeMemorizationIndex(
      TextAnalysis.memorizationIndex(keepA, 3), plain)
    assert(TextAnalysis.readMemorizationIndexMerged(spark, plain)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === retrain)
    // compaction: the PLAIN reader now serves the erased state, the
    // hidden _deletes directory is gone, and a re-compact is a no-op
    TextAnalysis.compactMemorizationIndex(spark, dir)
    assert(!new java.io.File(dir + "/_deletes").exists())
    def plainRead(p: String) = TextAnalysis.readMemorizationIndex(spark, p)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plainRead(dir) === retrain)
    TextAnalysis.compactMemorizationIndex(spark, dir)
    assert(plainRead(dir) === retrain)
    // ...and the merged reader still serves a compacted index
    assert(TextAnalysis.readMemorizationIndexMerged(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === retrain)
  }

  test("appendToMemorizationIndex: written append ≡ retrain-on-union; " +
      "as-of prefixes replay history; compaction folds both sides") {
    def idx(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.memorizationIndex(df, 3)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Seq((1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val add = Seq((10L, "a b c x"), (11L, "p q r s")).toDF("doc_id", "text")
    val gone = Seq((2L, "a b c")).toDF("doc_id", "text")
    val dir = tempDir("graft-memapp")
    TextAnalysis.writeMemorizationIndex(idx(base), dir)
    TextAnalysis.appendToMemorizationIndex(add, dir, "a1", 3)
    // retried append overwrites its own partition — no double count
    TextAnalysis.appendToMemorizationIndex(add, dir, "a1", 3)
    assert(m(TextAnalysis.readMemorizationIndexMerged(spark, dir)) ===
      m(idx(base.unionByName(add))))
    // as-of: base-only, then base+append, then the full history with
    // a delete batch applied (named ⇒ visible, the BM25 as-of rule)
    assert(m(TextAnalysis.readMemorizationIndexAsOf(spark, dir,
      Seq("build"))) === m(idx(base)))
    assert(m(TextAnalysis.readMemorizationIndexAsOf(spark, dir,
      Seq("build", "a1"))) === m(idx(base.unionByName(add))))
    TextAnalysis.deleteFromMemorizationIndex(gone, dir, "d1", 3)
    assert(m(TextAnalysis.readMemorizationIndexAsOf(spark, dir,
      Seq("build", "a1", "d1"))) ===
      m(idx(Seq((1L, "a b c d"), (10L, "a b c x"), (11L, "p q r s"))
        .toDF("doc_id", "text"))))
    // omitting the delete batch reproduces pre-erasure history
    assert(m(TextAnalysis.readMemorizationIndexAsOf(spark, dir,
      Seq("build", "a1"))) === m(idx(base.unionByName(add))))
    // compaction folds appends AND deletes, clears both directories
    TextAnalysis.compactMemorizationIndex(spark, dir)
    assert(!new java.io.File(dir + "/_appends").exists())
    assert(!new java.io.File(dir + "/_deletes").exists())
    assert(m(TextAnalysis.readMemorizationIndex(spark, dir)) ===
      m(idx(Seq((1L, "a b c d"), (10L, "a b c x"), (11L, "p q r s"))
        .toDF("doc_id", "text"))))
  }

  test("compactMemorizationIndexKeeping: folded window collapses into " +
      "the base, kept batches stay addressable, a folded delete keeps " +
      "correcting a kept append via surviving negative counts") {
    def idx(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.memorizationIndex(df, 3)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Seq((1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val w1 = Seq((10L, "a b c x")).toDF("doc_id", "text")
    val w2 = Seq((20L, "p q r s"), (21L, "a b q")).toDF("doc_id", "text")
    // the erasure targets one base doc AND one doc of the KEPT w2
    // append — the fold must apply the first physically and keep a
    // NEGATIVE correction for the second
    val gone = Seq((2L, "a b c"), (21L, "a b q")).toDF("doc_id", "text")
    val dir = tempDir("graft-memret")
    TextAnalysis.writeMemorizationIndex(idx(base), dir)
    TextAnalysis.appendToMemorizationIndex(w1, dir, "w1", 3)
    TextAnalysis.appendToMemorizationIndex(w2, dir, "w2", 3)
    TextAnalysis.deleteFromMemorizationIndex(gone, dir, "d1", 3)
    val surviving = Seq((1L, "a b c d"), (10L, "a b c x"),
      (20L, "p q r s")).toDF("doc_id", "text")
    val before = m(TextAnalysis.readMemorizationIndexMerged(spark, dir))
    assert(before === m(idx(surviving)))

    // guards: the base cannot be named; unknown names fail loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.compactMemorizationIndexKeeping(spark, dir,
        Seq("build", "w2"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.compactMemorizationIndexKeeping(spark, dir, Seq("w9"))
    }

    TextAnalysis.compactMemorizationIndexKeeping(spark, dir, Seq("w2"))
    // serving invariant under retention
    assert(m(TextAnalysis.readMemorizationIndexMerged(spark, dir))
      === before)
    // the folded base carries the NEGATIVE correction for the kept
    // append's erased doc — visible in the raw base rows
    val rawBase = m(TextAnalysis.readMemorizationIndex(spark, dir))
    assert(rawBase.values.exists(_ < 0L),
      s"expected a surviving negative correction in the base: $rawBase")
    // as-of: the fold is addressable as the base (w1 + base-doc
    // erasure applied, w2-doc correction pending against w2); the
    // kept window replays alone; the folded name is gone
    assert(m(TextAnalysis.readMemorizationIndexAsOf(spark, dir,
      Seq("build", "w2"))) === before)
    assert(m(TextAnalysis.readMemorizationIndexAsOf(spark, dir,
      Seq("w2"))) === m(idx(w2)))
    intercept[IllegalArgumentException] {
      TextAnalysis.readMemorizationIndexAsOf(spark, dir, Seq("w1"))
        .collect()
    }
    // maintenance keeps composing after retention
    TextAnalysis.appendToMemorizationIndex(
      Seq((30L, "z z y")).toDF("doc_id", "text"), dir, "w3", 3)
    assert(m(TextAnalysis.readMemorizationIndexMerged(spark, dir)) ===
      m(idx(surviving.unionByName(
        Seq((30L, "z z y")).toDF("doc_id", "text")))))
  }

  test("memorizationProbeStaged ≡ memorizationProbe; the gram join " +
      "plans zero exchanges and the serving plan never tokenizes") {
    val train = Seq((1L, "a b c d"), (2L, "x y z w"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, "a b c q"), (11L, "m n o"), (12L, "q"))
      .toDF("doc_id", "text")
    try {
      TextAnalysis.stageDocGrams(probe, "t_mem_dg", 3, buckets = 4)
      TextAnalysis.writeMemorizationIndexBucketed(
        TextAnalysis.memorizationIndex(train, 3), "t_mem_idx", buckets = 4)
      val served = TextAnalysis.memorizationProbeStaged(
        probe.select(col("doc_id")), "t_mem_dg", "t_mem_idx")
      val want = TextAnalysis.memorizationProbe(probe,
          TextAnalysis.memorizationIndex(train, 3), 3)
        .collect().map(_.toSeq).toSeq
      assert(served.collect().map(_.toSeq).toSeq === want)
      // plan shape: no Generate (never re-tokenizes), and no Exchange
      // below the co-bucketed gram join (the CommunitiesSpec walker)
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
      assert(!allNodes(ex).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
        ex.toString)
      val gramJoin = allNodes(ex).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.map(_.toString).exists(_.contains("g#")) => j
      }
      assert(gramJoin.nonEmpty, ex.toString)
      gramJoin.foreach { j =>
        assert(!allNodes(j).tail.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
          j.toString)
      }
      // docFilter restricts the staged rows (the probe-subset twin)
      val filtered = TextAnalysis.memorizationProbeStaged(
        probe.filter(col("doc_id") === 10L).select(col("doc_id")),
        "t_mem_dg", "t_mem_idx",
        docFilter = Some(col("doc_id") === 10L))
      assert(filtered.collect().map(_.getLong(0)).toSeq === Seq(10L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_mem_dg")
      spark.sql("DROP TABLE IF EXISTS t_mem_idx")
    }
  }

  test("memorizedTopGrams lists only cross-doc grams with exact " +
      "counts and the full tiebreak") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c"),
      (3L, "b c d a b c"))  // "a b c" again, "b c d" again
      .toDF("doc_id", "text")
    val got = TextAnalysis.memorizedTopGrams(docs, 3, 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "a b c": docs {1,2,3}, 3 occurrences; "b c d": docs {1,3}, 2
    assert(got === Seq(("a b c", 3L, 3L), ("b c d", 2L, 2L)))
  }
}
