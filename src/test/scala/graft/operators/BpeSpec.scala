package graft.operators

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train learns the classic merge sequence on the textbook corpus") {
    // "low" x3, "lowest" x2: pair (l,o) and (o,w) both occur 5 times —
    // tie breaks lexicographically to (l,o); then (lo,w) occurs 5 times
    val docs = Seq("low low low lowest lowest").toDF("text")
    val merges = Bpe.train(docs, "text", m = 3)
    assert(merges.length == 3)
    assert(merges(0) == ((1, "l", "o", 5L)))
    assert(merges(1) == ((2, "lo", "w", 5L)))
    // after (lo, w): "low" = [low], "lowest" = [low, e, s, t] — best next
    // pair is (low, e) 2 == (e, s) 2 == (s, t) 2, tie to (e, s)
    assert(merges(2) == ((3, "e", "s", 2L)))
  }

  test("greedy left-to-right non-overlap: aaaa segments as [aa, aa]") {
    val docs = Seq("aaaa aaaa").toDF("text")
    val merges = Bpe.train(docs, "text", m = 1)
    assert(merges(0)._2 == "a" && merges(0)._3 == "a")
    val subs = Bpe.subwordCountsOnWords(Bpe.wordVocab(docs, "text"), merges, k = 10)
      .as[(String, Long)].collect().toMap
    // one vocab word "aaaa" (count 2 collapses to one vocab entry of cnt 2)
    // → two "aa" symbols per word occurrence: 2 words × 2 = 4
    assert(subs == Map("aa" -> 4L))
  }

  test("segmentation respects word boundaries and non-ascii words are excluded") {
    val docs = Seq("ab ab Über 42x").toDF("text")
    val merges = Bpe.train(docs, "text", m = 1)
    assert(merges(0) == ((1, "a", "b", 2L)))
    val subs = Bpe.subwordCountsOnWords(Bpe.wordVocab(docs, "text"), merges, k = 10)
      .as[(String, Long)].collect().toMap
    // "über" (non-ascii after lowering) is filtered; "42x" contributes chars
    assert(subs("ab") == 2L)
    assert(subs("4") == 1L && subs("2") == 1L && subs("x") == 1L)
    assert(!subs.keys.exists(_.contains("ü")))
  }

  test("training is invariant under input partitioning") {
    val docs = (1 to 50).map(i => s"alpha beta gamma$i").toDF("text")
    val m1 = Bpe.train(docs.repartition(7), "text", m = 4)
    val m2 = Bpe.train(docs.coalesce(1), "text", m = 4)
    assert(m1.toSeq == m2.toSeq)
  }

  test("byte-level pre-tokenizer keeps GPT-2 space attachment and covers any input") {
    val docs = Seq("The cat, the Cat! Über-42").toDF("text")
    val toks = Bpe.byteVocab(docs, "text")
      .as[(String, Long)].collect().toMap
    // leading spaces attach to the following chunk; case preserved
    assert(toks.contains("The") && toks.contains(" the") && toks.contains(" Cat"))
    assert(toks.contains(",") && toks.contains("! ") == false)
    assert(toks.contains("-42") == false && toks.contains("42"))
    // non-ASCII letters are LETTERS under the exact rules (r12's ASCII
    // approximation made Ü a punct run; the scanner kernel joins it to
    // its word, space attached)
    assert(toks.contains(" Über"))
    // full coverage: pre-token lengths sum to the input length
    assert(toks.map { case (w, c) => w.length * c }.sum == "The cat, the Cat! Über-42".length)
  }

  test("byte-level merges operate on hex byte symbols") {
    val merges = Bpe.trainBytes(Seq.fill(5)("to to to").toDF("text"), "text", m = 2)
    // 't'=0x74 'o'=0x6F: first merge is (74, 6F) -> "746F"
    assert(merges(0)._2 == "74" && merges(0)._3 == "6F")
    val subs = Subwords.counts(Bpe.segmentBytes(
      Bpe.byteVocab(Seq.fill(5)("to to to").toDF("text"), "text"), merges), k = 10)
      .as[(String, Long)].collect().toMap
    assert(subs.contains("746F") || subs.contains("20746F"), s"got ${subs.keys}")
  }

  test("doc byte tokens decode back to the original text bytes") {
    val docs = Seq((1L, "Hi there!"), (2L, "x 42")).toDF("doc_id", "text")
    val merges = Bpe.trainBytes(docs, "text", m = 3)
    val out = Bpe.docByteTokensOnVocab(docs, "doc_id", "text", merges,
        Bpe.byteVocab(docs, "text"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    out.foreach { case (id, n, hexCsv) =>
      val toks = hexCsv.split(",")
      assert(toks.length == n)
      val bytes = toks.flatMap(t => t.grouped(2))
        .map(h => Integer.parseInt(h, 16).toByte)
      val decoded = new String(bytes, "UTF-8")
      val expected = if (id == 1L) "Hi there!" else "x 42"
      assert(decoded == expected, s"doc $id decoded '$decoded'")
    }
  }
}
