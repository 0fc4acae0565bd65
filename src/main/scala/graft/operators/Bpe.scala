package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) tokenizer TRAINING — the subword
  * vocabulary build (Sennrich et al. 2016, arXiv:1508.07909) every LM
  * pipeline runs before token counting/packing: repeatedly merge the most
  * frequent adjacent symbol pair, starting from characters.
  *
  * Scale shape (the Hugging-Face-trainer recipe): ONE corpus scan builds
  * the (word, count) vocabulary via a map-side-combined groupBy; every
  * merge round then runs on the VOCABULARY (≪ corpus — BPE statistics are
  * word-count-weighted, so the corpus is never rescanned). A vocab of at
  * most [[MergeLoop.InMemoryRows]] rows is collected once and all merge
  * rounds run on the driver ([[MergeLoop]]): one Spark job per training,
  * whatever m is. A larger vocab falls back to the distributed loop, one
  * vocab-sized pair explode + aggregation and a 1-row argmax collect per
  * round. Both paths apply the same rules and give the same merge table.
  *
  * Engine-exactness: a word's symbol sequence is encoded as a
  * sentinel-delimited string (`<D>sym<D>` per symbol, D = U+0001, so
  * boundaries never collide — words are pre-filtered to `[a-z0-9]+`), and
  * applying a merge (a, b) is ONE literal `replace` of `<D>a<D><D>b<D>`
  * with `<D>ab<D>`: left-to-right, non-overlapping, all occurrences —
  * exactly BPE's greedy merge semantics, and exactly the semantics of
  * `replace()` in any SQL engine, so the full m-round trajectory (pair
  * counts, argmax with (count desc, pair asc) tie-break, segmentations)
  * replays hash-identically. Integer counts throughout; no floats anywhere.
  */
object Bpe {

  private[operators] val D = "\u0001"

  /** ASCII-lowercase word vocabulary with counts: one corpus scan. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** The sentinel encoding of a word of `n` symbols,
    * `<D>sym(1)<D><D>sym(2)<D>…<D>sym(n)<D>`, `sym` giving the symbol at
    * 1-based position `i`: the skeleton of the char, byte and WordPiece
    * encoders. */
  private[operators] def delimited(n: Column)(sym: Column => Column): Column =
    concat(lit(D), concat_ws(D + D, transform(sequence(lit(1), n), sym)), lit(D))

  /** Sentinel-delimited character-symbol encoding of `word`. */
  private def symStr(word: Column): Column =
    delimited(length(word))(i => substring(word, i, lit(1)))

  /** Symbols of a delimited string: strip the outer sentinels, split on the
    * doubled inner sentinel.
    */
  private[operators] def symsOf(s: Column): Column =
    split(substring(s, lit(2), length(s) - 2), D + D)

  /** Adjacent-pair counts over a (s, cnt) vocab frame → (a, b, pcnt). */
  private[operators] def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = symsOf(col("s"))
    vocab
      .select(col("cnt"),
        explode(
          when(size(syms) >= 2,
            transform(sequence(lit(1), size(syms) - 1),
              i => struct(
                element_at(syms, i).as("a"),
                element_at(syms, i + 1).as("b"))))
            .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("_p"))
      .groupBy(col("_p.a").as("a"), col("_p.b").as("b"))
      .agg(sum(col("cnt")).as("pcnt"))
  }

  /** `encoded` with each merge `(a, b, ab)` applied in order: ONE literal
    * `replace` of `<D>a<D><D>b<D>` with `<D>ab<D>` per merge — BPE's
    * greedy left-to-right non-overlapping merge, and `replace()`'s
    * semantics in any SQL engine. */
  private[operators] def applyMerges(
      encoded: Column,
      merges: Seq[(String, String, String)]): Column =
    merges.foldLeft(encoded) { case (s, (a, b, ab)) =>
      replace(s, lit(D + a + D + D + b + D), lit(D + ab + D))
    }

  /** The pieces of an encoded word under a trained merge table. */
  private def piecesOf(
      encoded: Column,
      merges: Array[(Int, String, String, Long)]): Column =
    symsOf(applyMerges(encoded, merges.map { case (_, a, b, _) => (a, b, a + b) }))

  /** Train `m` merges. Returns the ordered merge table
    * (step, sym_a, sym_b, pair_cnt) — the tokenizer artifact. Stops early
    * if no pair remains.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      m: Int): Array[(Int, String, String, Long)] =
    trainOnWords(wordVocab(docs, textCol), m)

  /** [[train]] over a prepared `(word, cnt)` vocab frame — gates that
    * also apply/score the tokenizer pass ONE (checkpointed) vocab here
    * and to [[segment]], so the corpus scan + vocab groupBy is paid once
    * per gate instead of once per call (guide §2.4: share the exchange). */
  def trainOnWords(
      vocab: DataFrame,
      m: Int): Array[(Int, String, String, Long)] =
    trainOnWords(vocab, m, MergeLoop.InMemoryRows)

  /** [[trainOnWords]] with the in-memory row bound as an argument: the
    * seam specs use to run the distributed loop on a small vocab. */
  private[operators] def trainOnWords(
      vocab: DataFrame,
      m: Int,
      bound: Int): Array[(Int, String, String, Long)] =
    trainOnVocab(vocab.select(symStr(col("word")).as("s"), col("cnt")), m, bound)

  /** The merges of any sentinel-delimited (s, cnt) vocab frame — shared
    * by the char-grain [[train]] and byte-grain [[trainBytes]] paths:
    * [[MergeLoop]] with the pair count as the score. */
  private def trainOnVocab(
      vocab: DataFrame,
      m: Int,
      bound: Int): Array[(Int, String, String, Long)] =
    MergeLoop.train(vocab, m, bound, (pcnt, _, _) => pcnt,
      v => pairCounts(v).select(col("a"), col("b"), col("pcnt"), col("pcnt").as("score")),
      _ + _)
      .map { case (step, a, b, pcnt, _) => (step, a, b, pcnt) }

  /** The merge table as a DataFrame (for gates/persistence). */
  def mergeTable(
      spark: SparkSession,
      merges: Array[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toSeq.toDF("step", "sym_a", "sym_b", "pair_cnt")
      .select(col("step").cast("long").as("step"), col("sym_a"), col("sym_b"),
        col("pair_cnt"))
  }

  /** A `(word, cnt)` vocab segmented under a trained char-grain merge
    * list: each merge is one literal scan-side `replace`, so the corpus
    * is scanned once, for the vocab. */
  def segment(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)]): Subwords.Segmented =
    Subwords.Segmented(vocab, piecesOf(symStr(col("word")), merges))

  /** Top `k` subword corpus frequencies under a char-grain merge list
    * ([[Subwords.counts]] of [[segment]]). */
  def subwordCountsOnWords(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)],
      k: Int): DataFrame =
    Subwords.counts(segment(vocab, merges), k)

  // ---------------------------------------------------------------------
  // Byte-level BPE (the GPT-2/tiktoken shape, Radford et al. 2019): the
  // alphabet is the 256 UTF-8 BYTES, not characters, so ANY input —
  // uppercase, punctuation, emoji, arbitrary Unicode — tokenizes with no
  // unknown symbol, and a regex pre-tokenizer chunks text before merging
  // so merges never cross word/punctuation boundaries. This is the grain
  // production LLM pipelines count and pack tokens at.
  // ---------------------------------------------------------------------

  /** EXACT GPT-2 pre-tokenization (`'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+|`
    * ` ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+`, Unicode classes) via
    * the native scanner kernel [[graft.plans.Gpt2Pretokens]] — r12 and
    * earlier shipped an ASCII-class no-lookahead approximation because
    * RE2 (the oracle engine) has no lookahead; the scanner eliminates
    * the lookahead with a local whitespace-run rule (kernel scaladoc),
    * and the DuckDB oracle replays the same per-character rules with
    * window functions, so the exact rules are now hash-gated end to end.
    */
  def pretokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.plans.TextExpressions.gpt2Pretokens(text)

  /** Pre-token vocabulary with counts: ONE corpus scan, the byte-level
    * twin of [[wordVocab]] (no lowercase, no filter — every byte of every
    * token participates). */
  def byteVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(pretokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Sentinel-delimited BYTE-symbol encoding: each UTF-8 byte as its
    * 2-digit uppercase hex (merged symbols concatenate to longer hex
    * strings). Hex never collides with the U+0001 sentinel regardless of
    * input bytes — stronger than the char-grain encoding's `[a-z0-9]+`
    * precondition — and hex strings hash engine-portably. */
  private def byteSymStr(word: Column): Column = {
    val hx = hex(encode(word, "UTF-8"))
    delimited((length(hx) / 2).cast("int"))(i => substring(hx, i * 2 - 1, lit(2)))
  }

  /** Train `m` byte-grain merges over the pre-token vocabulary. Merge
    * table symbols are hex byte sequences (`"74"`, `"7468"`, ...). */
  def trainBytes(
      docs: DataFrame,
      textCol: String,
      m: Int): Array[(Int, String, String, Long)] =
    trainBytesOnWords(byteVocab(docs, textCol), m)

  /** [[trainBytes]] over a prepared `(word, cnt)` pre-token vocab frame
    * (the [[trainOnWords]] byte-grain twin). */
  def trainBytesOnWords(
      vocab: DataFrame,
      m: Int): Array[(Int, String, String, Long)] =
    trainBytesOnWords(vocab, m, MergeLoop.InMemoryRows)

  /** [[trainBytesOnWords]] with the in-memory row bound as an argument
    * (the [[trainOnWords]] seam at the byte grain). */
  private[operators] def trainBytesOnWords(
      vocab: DataFrame,
      m: Int,
      bound: Int): Array[(Int, String, String, Long)] =
    trainOnVocab(vocab.select(byteSymStr(col("word")).as("s"), col("cnt")), m, bound)

  /** A `(word, cnt)` pre-token vocab segmented under a byte-grain merge
    * list, each piece its hex byte sequence. */
  def segmentBytes(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)]): Subwords.Segmented =
    Subwords.Segmented(vocab, piecesOf(byteSymStr(col("word")), merges))

  /** Doc-grain byte tokenization — the packing-stage consumable at the
    * byte-BPE grain: each document's pre-token sequence segments under
    * the merges and becomes its ordered comma-joined hex-token sequence
    * plus a token count, `(idCol, n_tokens, token_hex)`. `vocab` is the
    * `(word, cnt)` pre-token vocab of `docs` ([[byteVocab]]), so a gate
    * that trained on it does not recompute the distinct pre-token set. */
  def docByteTokensOnVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Array[(Int, String, String, Long)],
      vocab: DataFrame): DataFrame = {
    val seg = segmentBytes(vocab, merges)
    Subwords.docTokens(
      docs.select(col(idCol),
        posexplode(pretokens(col(textCol))).as(Seq("wpos", "word"))),
      idCol, seg.vocab.select(col("word"), seg.pieces.as("toks")), "token_hex")
  }
}
