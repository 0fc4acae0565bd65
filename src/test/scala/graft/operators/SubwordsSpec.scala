package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three outputs every subword tokenizer derives from one segmentation
  * agree: on a self-trained corpus (no OOV word), the top-k subword counts
  * with k past the number of distinct pieces, the token totals and the
  * doc-grain token sequences all count the same tokens. */
class SubwordsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the data engine reads the data"),
    (2L, "Engines READ data, then write it!"),
    (3L, "a lower layer reads lower data 42 times"),
    (4L, "write then read; read then write"))
    .toDF("doc_id", "text")

  /** More than any tokenizer here has distinct pieces. */
  private val K = 1000

  private def sumOf(df: DataFrame, c: String): Long =
    df.agg(sum(col(c)).cast("long")).as[Long].collect().head

  /** Asserts the shared counts cover every piece and sum to the totals'
    * `n_tokens`, and that the doc-grain sequences, when given, do too. */
  private def agree(
      name: String,
      seg: Subwords.Segmented,
      docTokens: Option[DataFrame]): Unit = {
    val counts = Subwords.counts(seg, K)
    assert(counts.count() < K, s"$name: k must exceed the distinct pieces")
    val nTokens = Subwords.totals(seg).select(col("n_tokens")).as[Long].collect().head
    assert(nTokens > 0L, name)
    assert(sumOf(counts, "n_occurrences") == nTokens, s"$name: counts vs totals")
    docTokens.foreach(d =>
      assert(sumOf(d, "n_tokens") == nTokens, s"$name: doc-grain vs totals"))
  }

  test("char BPE: subword counts sum to the token totals") {
    val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
    agree("bpe_char", Bpe.segment(vocab, Bpe.trainOnWords(vocab, m = 6)), None)
  }

  test("byte BPE: subword counts and doc-grain tokens sum to the token totals") {
    val vocab = Bpe.byteVocab(docs, "text").localCheckpoint(true)
    val merges = Bpe.trainBytesOnWords(vocab, m = 8)
    agree("bpe_bytes", Bpe.segmentBytes(vocab, merges),
      Some(Bpe.docByteTokensOnVocab(docs, "doc_id", "text", merges, vocab)))
  }

  test("WordPiece: subword counts and doc-grain tokens sum to the token totals") {
    val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
    val wpVocab = WordPiece.finalVocabOnWords(vocab, WordPiece.trainOnWords(vocab, m = 8))
    val seg = WordPiece.segment(vocab, wpVocab)
    assert(Subwords.counts(seg, K).filter(col("subword") === WordPiece.Unk).isEmpty,
      "a self-trained vocab leaves no [UNK]")
    agree("wordpiece", seg, Some(WordPiece.docTokenIds(docs, "doc_id", "text", wpVocab)))
  }

  test("Unigram: subword counts and doc-grain tokens sum to the token totals") {
    val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
    val art = Unigram.trainArtifactOnVocab(vocab, rounds = 2, keepK = 16)
      .localCheckpoint(true)
    agree("unigram", Unigram.segment(vocab, art),
      Some(Unigram.docTokenIds(docs, "doc_id", "text", art)))
  }
}
