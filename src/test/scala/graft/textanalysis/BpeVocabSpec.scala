package graft.textanalysis

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** The vocab-join tokenizer serving path: driver-side learner ≡ the
  * distributed learner, vocab-join encode ≡ the literal chain on the
  * ≤64 overlap, chunking invariance, and the full-table (past-the-
  * cap) encode against a straight-line Scala reference.
  */
class BpeVocabSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
    .select("doc_id", "text")

  private lazy val wordCounts =
    TextAnalysis.collectWordCounts(docs)

  test("bpeMergesLocal matches the distributed bpeMerges rank-for-rank") {
    val local = TextAnalysis.bpeMergesLocal(wordCounts, 8)
    val dist = TextAnalysis.bpeMerges(docs, 8)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(local === dist)
  }

  test("collectWordCounts refuses an over-budget vocabulary") {
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.collectWordCounts(docs, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("minCount frequency floor: prunes the table, bounds the " +
      "budget, and trains ≡ the floor-filtered corpus table") {
    // data-derived floor: the max word count — guaranteed to prune
    // (and keep) something as long as counts aren't all equal
    val floor = wordCounts.map(_._2).max
    assert(wordCounts.map(_._2).min < floor,
      "fixture corpus needs unequal word counts for this test")
    val pruned = TextAnalysis.collectWordCounts(docs, minCount = floor)
    val wantPruned = wordCounts.filter(_._2 >= floor)
    assert(pruned.toMap === wantPruned.toMap)
    assert(pruned.nonEmpty && pruned.size < wordCounts.size)
    // the floor can rescue an otherwise over-budget vocabulary
    TextAnalysis.collectWordCounts(docs,
      maxVocab = pruned.size.toLong, minCount = floor)
    // LOUD CONTRACT: floor-pruned training is training on the pruned
    // TABLE — identical merges to any learner fed that table
    assert(TextAnalysis.bpeMergesLocal(pruned, 8) ===
      TextAnalysis.bpeMergesLocal(wantPruned, 8))
    // minCount = 1 is the identity
    assert(TextAnalysis.collectWordCounts(docs, minCount = 1L).toMap ===
      wordCounts.toMap)
  }

  test("distributed bpeMerges runs past the 64-rank literal bound " +
      "and matches the local learner rank-for-rank") {
    val local = TextAnalysis.bpeMergesLocal(wordCounts, 96)
    assert(local.size > 64, s"only ${local.size} merges learnable")
    val dist = TextAnalysis.bpeMerges(docs, 96)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(dist === local)
  }

  test("the corpus learns past the 64-merge literal cap") {
    val full = TextAnalysis.bpeMergesLocal(wordCounts, 256)
    assert(full.size > 64, s"only ${full.size} merges learnable")
    // ranks are consecutive from 1 and symbols compose: every merged
    // symbol is the concatenation of its pair
    assert(full.map(_._1) === (1L to full.size))
    assert(full.forall { case (_, a, b, f) =>
      a.nonEmpty && b.nonEmpty && f > 0 })
  }

  test("bpeEncodeVocab equals bpeEncode on the <=64-merge overlap") {
    val merges = TextAnalysis.bpeMergesLocal(wordCounts, 64)
      .map(m => (m._2, m._3))
    val viaChain = TextAnalysis.bpeEncode(docs, merges)
      .orderBy("doc_id").collect().toSeq
    val viaVocab = TextAnalysis.bpeEncodeVocab(docs, merges)
      .orderBy("doc_id").collect().toSeq
    assert(viaVocab === viaChain)
  }

  test("chunk size does not change the vocab tokenization") {
    val merges = TextAnalysis.bpeMergesLocal(wordCounts, 256)
      .map(m => (m._2, m._3))
    val at64 = TextAnalysis.bpeVocabTokens(docs, merges, chunkSize = 64)
      .orderBy("word").collect().toSeq
    val at7 = TextAnalysis.bpeVocabTokens(docs, merges, chunkSize = 7)
      .orderBy("word").collect().toSeq
    assert(at7 === at64)
  }

  test("full-table encode matches a straight-line Scala reference") {
    val merges = TextAnalysis.bpeMergesLocal(wordCounts, 256)
      .map(m => (m._2, m._3))
    def applyMerge(syms: Vector[String], a: String, b: String) = {
      val o = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          o += (a + b); i += 2
        } else { o += syms(i); i += 1 }
      }
      o.result()
    }
    def reference(text: String): (Long, String) = {
      val toks = text.split(" ", -1).toVector
        .filter(w => w.nonEmpty && !w.exists("<>_".contains(_)))
        .flatMap { w =>
          merges.foldLeft(w.map(_.toString).toVector :+ "_") {
            case (s, (a, b)) => applyMerge(s, a, b)
          }
        }
      (toks.length.toLong, toks.mkString(" "))
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val got = TextAnalysis.bpeEncodeVocab(docs, merges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
      .toMap
    texts.foreach { case (id, t) =>
      assert(got(id) === reference(t), s"doc $id")
    }
  }

  test("the written vocab artifact serves the identical tokenization") {
    val merges = TextAnalysis.bpeMergesLocal(wordCounts, 256)
      .map(m => (m._2, m._3))
    val dir = tempDir("graft-bpevocab") + "/vt"
    val before = persistedRddIds
    TextAnalysis.writeVocabTokens(docs, merges, dir)
    // the written artifact is the result: nothing stays materialized
    assert((persistedRddIds -- before).isEmpty)
    val fromIndex = TextAnalysis.bpeEncodeFromVocabIndex(docs, dir)
      .orderBy("doc_id").collect().toSeq
    val direct = TextAnalysis.bpeEncodeVocab(docs, merges)
      .orderBy("doc_id").collect().toSeq
    assert(fromIndex === direct)
  }

  test("words absent from an external vocabulary drop; empty docs survive") {
    val merges = Seq(("a", "b"))
    val vt = TextAnalysis.bpeVocabTokens(
      Seq((1L, "abc abc")).toDF("doc_id", "text"), merges)
    // corpus has a word ("zzz") the vocab never saw, and a doc whose
    // words are all filtered (marker word)
    val corpus = Seq((1L, "abc zzz abc"), (2L, "under_score"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncodeWithVocab(corpus, vt)
      .orderBy("doc_id").collect().toSeq
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(2))) ===
      Seq((1L, 6L, "ab c _ ab c _"), (2L, 0L, "")))
  }

  test("bpeEncodeWithVocabFallback: OOV words fall back to their " +
      "character stream; known words serve from the vocabulary") {
    val merges = Seq(("a", "b"))
    val vt = TextAnalysis.bpeVocabTokens(
      Seq((1L, "abc ab")).toDF("doc_id", "text"), merges)
    val docs = Seq(
      (10L, "abc zzz ab"),  // zzz OOV -> "z z z _" (4 tokens)
      (11L, ""),            // empty doc contract unchanged
      (12L, "q"))           // fully OOV doc -> "q _"
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncodeWithVocabFallback(docs, vt)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out === Seq(
      (10L, 9L, "ab c _ z z z _ ab _"),
      (11L, 0L, ""),
      (12L, 2L, "q _")))
  }

  test("bpeEncodeWithVocabFallback equals bpeEncodeWithVocab when " +
      "nothing is OOV") {
    val merges = Seq(("a", "b"), ("ab", "_"))
    val corpus = Seq((1L, "ab abc cab"), (2L, "ba ab"))
      .toDF("doc_id", "text")
    val vt = TextAnalysis.bpeVocabTokens(corpus, merges)
    val a = TextAnalysis.bpeEncodeWithVocab(corpus, vt)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.bpeEncodeWithVocabFallback(corpus, vt)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("bpeCoverage: per-language OOV and fertility over a held-out " +
      "slice, exact readouts") {
    val merges = Seq(("a", "b"))
    // train vocabulary: {abc, ab} → "abc" = [ab c _] (3), "ab" = [ab _] (2)
    val vt = TextAnalysis.bpeVocabTokens(
      Seq((1L, "abc ab")).toDF("doc_id", "text"), merges)
    val heldOut = Seq(
      (10L, "abc ab abc", "en"),   // all known: 3+2+3 = 8 tokens / 3 words
      (11L, "abc zzz", "de"))      // one known (3 tokens), one OOV
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bpeCoverage(heldOut, vt)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    assert(got("en") === ((3L, 0L, 8L, 0.0, Some(2.6667))))
    assert(got("de") === ((2L, 1L, 3L, 0.5, Some(3.0))))
  }
}
