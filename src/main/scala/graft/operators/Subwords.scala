package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** What every subword tokenizer ([[Bpe]] at char and byte grain,
  * [[WordPiece]], [[Unigram]]) computes once it has segmented its word
  * vocabulary: the top-k subword counts, the corpus token totals and the
  * doc-grain token sequences. Each tokenizer's `segment` function gives
  * one shape, a [[Segmented]] `(word, cnt, pieces)` vocab, and the
  * functions here run over that shape alone.
  */
object Subwords {

  /** A `(word, cnt)` vocab frame and the `array<string>` column that
    * segments its `word` into pieces. The pieces stay an expression over
    * the frame rather than a projected column: Spark plans `explode` and
    * `size` straight over it, where a projected column would add a Project
    * and an inferred `size(pieces) > 0` Filter that evaluates the
    * segmentation a second time. */
  final case class Segmented(vocab: DataFrame, pieces: Column)

  /** Top `k` subwords by corpus frequency, ties to the smaller subword:
    * `(subword, n_occurrences)`, one vocab-sized aggregation. */
  def counts(seg: Segmented, k: Int): DataFrame =
    seg.vocab
      .select(col("cnt"), explode(seg.pieces).as("subword"))
      .groupBy(col("subword"))
      .agg(sum(col("cnt")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("subword"))
      .limit(k)

  /** Corpus token TOTALS — the tokenizer-comparison row: `n_units` the
    * word occurrences, `n_chars` and `n_tokens` count-weighted. One
    * vocab-sized pass. */
  def totals(seg: Segmented): DataFrame =
    seg.vocab.agg(
      sum(col("cnt")).cast("long").as("n_units"),
      sum(length(col("word")) * col("cnt")).cast("long").as("n_chars"),
      sum(size(seg.pieces) * col("cnt")).cast("long").as("n_tokens"))

  /** Each document's eligible words (the `[a-z0-9]+` universe of
    * [[Bpe.wordVocab]]) with their positions: `(idCol, wpos, word)`. */
  private[operators] def docWords(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(Text.tokens(col(textCol))).as(Seq("wpos", "word")))
      .filter(col("word").rlike("^[a-z0-9]+$"))

  /** Doc-grain token sequences — the packing-stage consumable: each
    * document's `(idCol, wpos, word)` rows join their word's tokens
    * `(word, toks)` (each DISTINCT word segmented once, the vocab-table
    * trick) and re-assemble in word order into
    * `(idCol, n_tokens, outCol)`, the tokens comma-joined. A word missing
    * from `wordToks` is dropped, or, with `unknown`, kept as that token
    * list (a left join). One vocab-sized join + one doc-grain
    * aggregation. */
  private[operators] def docTokens(
      words: DataFrame,
      idCol: String,
      wordToks: DataFrame,
      outCol: String,
      unknown: Option[Column] = None): DataFrame = {
    val joined = unknown match {
      case Some(u) => words.join(wordToks, Seq("word"), "left")
        .withColumn("toks", coalesce(col("toks"), u))
      case None => words.join(wordToks, Seq("word"))
    }
    joined
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("wpos"), col("toks"))).as("_t"))
      .select(col(idCol),
        graft.plans.TextExpressions.tokenSeqJoin(col("_t")).as("_r"))
      .select(col(idCol), col("_r.n_tokens").as("n_tokens"),
        col("_r.token_ids").as(outCol))
  }
}
