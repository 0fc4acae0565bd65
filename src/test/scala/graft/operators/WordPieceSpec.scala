package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  test("likelihood scoring merges the rarer-symbol pair, not the raw-count max") {
    // 'e'+'##r' appears 12× but both symbols are everywhere (cheap);
    // 'q'+'##z' appears 6× on symbols that appear ONLY there: the
    // likelihood ratio must pick (q, ##z) first where raw-count BPE
    // would pick the er pair
    val docs = (Seq.fill(6)("qz") ++ Seq.fill(12)("er") ++
      Seq.fill(20)("ee rr rere rees"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wp = WordPiece.train(docs, "text", m = 1)
    assert(wp.head._2 == "q" && wp.head._3 == "##z",
      s"expected the exclusive (q, ##z) pair to win: ${wp.head}")
    val bpe = Bpe.train(docs, "text", m = 1)
    assert(bpe.head._2 != "q", s"control: raw-count BPE should differ: ${bpe.head}")
  }

  test("greedy longest-match-first with ## continuation, UNK on unmatchable") {
    val vocab = Array("u", "##n", "##a", "##f", "un", "##affable", "##able",
      "f", "a", "b", "l", "e", "##b", "##l", "##e")
    val words = Seq("unaffable", "unable", "fable", "xyz").toDF("word")
    val out = words.select($"word",
        graft.plans.TextExpressions.wordPieceEncode($"word", vocab, "[UNK]")
          .as("pieces"))
      .as[(String, Seq[String])].collect().toMap
    // longest-first: 'un' beats 'u', then '##affable' swallows the rest
    assert(out("unaffable") == Seq("un", "##affable"), out.toString)
    assert(out("unable") == Seq("un", "##able"), out.toString)
    assert(out("fable") == Seq("f", "##able"), out.toString)
    // 'x' has no vocab entry: the WHOLE word collapses to one [UNK]
    assert(out("xyz") == Seq("[UNK]"), out.toString)
  }

  test("trained vocab round-trips its own corpus with zero UNKs") {
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "a cat ate a mat"),
      (3L, "thematic cats sat 42")).toDF("doc_id", "text")
    val merges = WordPiece.train(docs, "text", m = 6)
    assert(merges.length == 6)
    val vocab = WordPiece.finalVocabOnWords(Bpe.wordVocab(docs, "text"), merges)
    val subs = Subwords.counts(
        WordPiece.segment(Bpe.wordVocab(docs, "text"), vocab), k = 100)
      .as[(String, Long)].collect()
    assert(subs.nonEmpty && !subs.exists(_._1 == WordPiece.Unk),
      s"self-corpus must have no UNK: ${subs.mkString(",")}")
    // pieces re-concatenate to the eligible corpus: total piece chars
    // (## stripped) == total eligible word chars, count-weighted
    val pieceChars = subs.map { case (p, n) =>
      n * (if (p.startsWith("##")) p.length - 2 else p.length) }.sum
    val wordChars = Bpe.wordVocab(docs, "text")
      .select(sum(length($"word") * $"cnt")).as[Long].collect().head
    assert(pieceChars == wordChars, s"$pieceChars != $wordChars")
  }

  test("doc token ids: ordered, dense, decodable; kernel stays codegen'd") {
    val docs = Seq((1L, "aa ab aa"), (2L, "ab ba")).toDF("doc_id", "text")
    val merges = WordPiece.train(docs, "text", m = 2)
    val vocab = WordPiece.finalVocabOnWords(Bpe.wordVocab(docs, "text"), merges)
    val df = WordPiece.docTokenIds(docs, "doc_id", "text", vocab)
    val byDoc = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // doc 1 has three words; its id sequence length == n_tokens
    val (n1, ids1) = byDoc(1L)
    assert(ids1.split(",").length.toLong == n1)
    // same word -> same id subsequence in both docs ('ab' appears in both)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback") ||
      (!plan.contains("wordpiece_encode") && !plan.contains("token_seq_join")),
      s"wordpiece_encode/token_seq_join must not fall back:\n$plan")
  }
}
