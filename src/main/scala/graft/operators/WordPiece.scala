package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (the BERT vocabulary; Schuster & Nakajima 2012,
  * Devlin et al. 2018) — the third standard subword family next to
  * [[Bpe]] and [[Unigram]]: training merges the adjacent symbol pair
  * with the best LIKELIHOOD ratio `freq(ab) / (freq(a)·freq(b))` (not
  * the raw pair count — BPE's one differing rule), non-initial symbols
  * carry the `##` continuation prefix, and application is GREEDY
  * LONGEST-MATCH-FIRST against the final vocabulary (no merge replay) —
  * a word with any unmatchable remainder becomes one `[UNK]` token.
  *
  * Scale shape — the [[Bpe]] vocab-table discipline end to end: ONE
  * corpus scan builds the (word, cnt) vocabulary; a vocab of at most
  * [[MergeLoop.InMemoryRows]] rows is collected once and every merge
  * round — pair counts, symbol counts, the scored argmax — runs on the
  * driver ([[MergeLoop]], the loop BPE trains with), one Spark job per
  * training. A larger vocab falls back to the distributed loop: per round
  * a vocab-sized pair count + a vocab-sized symbol count + a 1-row argmax
  * collect + one literal scan-side `replace`. Application never
  * joins: the final vocabulary is BOUNDED (alphabet + one symbol per
  * merge), rides into the scan as a reference object of the native
  * whole-stage-codegen kernel [[graft.plans.WordPieceEncode]], and each
  * DISTINCT word encodes once (documents re-assemble by position).
  *
  * Engine-exactness: the likelihood score is the exact-integer
  * quantized log `ilog2q(pcnt) − ilog2q(cnt_a) − ilog2q(cnt_b)`
  * ([[Unigram.ilog2q]] — monotone piecewise-linear log2, identical in
  * any engine with integer shifts), ties toward the lexically smaller
  * pair; symbol sequences use [[Bpe]]'s sentinel-delimited string
  * encoding, so a merge is ONE literal `replace` with identical
  * semantics in any SQL engine. The full trajectory — pair counts,
  * symbol counts, scores, merges, greedy segmentation — replays
  * hash-exact in DuckDB recursive CTEs. No floats anywhere.
  */
object WordPiece {

  /** The continuation prefix of non-initial symbols. */
  val Cont = "##"

  /** The unknown-word token greedy application falls back to. */
  val Unk = "[UNK]"

  import Bpe.symsOf

  /** Sentinel-delimited WordPiece symbol encoding: first char plain,
    * every later char `##`-prefixed — `abc` → `⟨a⟩⟨##b⟩⟨##c⟩`. */
  private def symStrWp(word: Column): Column =
    Bpe.delimited(length(word))(i => when(i === 1, substring(word, 1, 1))
      .otherwise(concat(lit(Cont), word.substr(i, lit(1)))))

  /** Per-symbol corpus frequencies over a (s, cnt) vocab frame. */
  private[operators] def symCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("cnt"), explode(symsOf(col("s"))).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("cnt")).as("scnt"))

  /** The merged symbol of pair (a, b): `##` is an affix, not content —
    * `a + strip##(b)`, keeping a's own prefix if it has one. */
  private def mergedSym(a: String, b: String): String =
    a + (if (b.startsWith(Cont)) b.substring(Cont.length) else b)

  /** Train `m` likelihood-scored merges over the corpus word vocab.
    * Returns (step, sym_a, sym_b, pair_cnt, score_q) — score_q is the
    * quantized integer log-likelihood the argmax ran on. Stops early if
    * no pair remains.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      m: Int): Array[(Int, String, String, Long, Long)] =
    trainOnWords(Bpe.wordVocab(docs, textCol), m)

  /** [[train]] over a prepared `(word, cnt)` vocab frame. */
  def trainOnWords(
      wordVocab: DataFrame,
      m: Int): Array[(Int, String, String, Long, Long)] =
    trainOnWords(wordVocab, m, MergeLoop.InMemoryRows)

  /** [[trainOnWords]] with the in-memory row bound as an argument: the
    * seam specs use to run the distributed loop on a small vocab. Trains
    * in [[MergeLoop]] with the score
    * `ilog2q(pcnt) − ilog2q(ca) − ilog2q(cb)` and [[mergedSym]]. */
  private[operators] def trainOnWords(
      wordVocab: DataFrame,
      m: Int,
      bound: Int): Array[(Int, String, String, Long, Long)] =
    MergeLoop.train(wordVocab.select(symStrWp(col("word")).as("s"), col("cnt")),
      m, bound,
      (pcnt, ca, cb) => Unigram.ilog2q(pcnt) - Unigram.ilog2q(ca) - Unigram.ilog2q(cb),
      scoredPairs, mergedSym)

  /** A distributed round's scored pairs over its `(s, cnt)` frame: the
    * pair counts joined to both symbols' counts → (a, b, pcnt, score). */
  private def scoredPairs(vocab: DataFrame): DataFrame = {
    val syms = symCounts(vocab)
    Bpe.pairCounts(vocab)
      .join(syms.select(col("sym").as("a"), col("scnt").as("ca")), "a")
      .join(syms.select(col("sym").as("b"), col("scnt").as("cb")), "b")
      .select(col("a"), col("b"), col("pcnt"),
        (Unigram.ilog2q(col("pcnt")) - Unigram.ilog2q(col("ca")) -
          Unigram.ilog2q(col("cb"))).as("score"))
  }

  /** The merge table as a DataFrame (the training gate's output). */
  def mergeTable(
      spark: SparkSession,
      merges: Array[(Int, String, String, Long, Long)]): DataFrame = {
    import spark.implicits._
    merges.toSeq.toDF("step", "sym_a", "sym_b", "pair_cnt", "score_q")
      .select(col("step").cast("long").as("step"), col("sym_a"),
        col("sym_b"), col("pair_cnt"), col("score_q"))
  }

  /** The final vocabulary greedy application matches against: the
    * corpus alphabet (every initial and `##`-continuation single char of
    * the `(word, cnt)` vocab) plus one merged symbol per training step.
    * BOUNDED — ≤ 2·|alphabet| + m entries — so it collects as kernel
    * parameters, never a join.
    */
  def finalVocabOnWords(
      wordVocab: DataFrame,
      merges: Array[(Int, String, String, Long, Long)]): Array[String] = {
    val singles = wordVocab
      .select(explode(symsOf(symStrWp(col("word")))).as("sym"))
      .distinct()
      .orderBy(col("sym"))
      .collect()
      .map(_.getString(0))
    (singles ++ merges.map { case (_, a, b, _, _) => mergedSym(a, b) })
      .distinct
  }

  /** A `(word, cnt)` vocab greedy longest-match-first encoded against the
    * final vocabulary: each DISTINCT word encodes once through the native
    * kernel. */
  def segment(wordVocab: DataFrame, vocab: Array[String]): Subwords.Segmented =
    Subwords.Segmented(wordVocab,
      graft.plans.TextExpressions.wordPieceEncode(col("word"), vocab, Unk))

  /** Doc-grain WordPiece tokenization — the packing-stage consumable:
    * each DISTINCT eligible word greedy-encodes once, pieces map to dense
    * ids (rank over the bounded final vocab, `[UNK]` included), and
    * documents re-assemble into ordered comma-joined id sequences,
    * `(idCol, n_tokens, token_ids)`. Two vocab-sized joins + one
    * doc-grain aggregation.
    */
  def docTokenIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: Array[String]): DataFrame = {
    val words = Subwords.docWords(docs, idCol, textCol)
    val ids = (vocab :+ Unk).distinct.sorted.zipWithIndex
      .map { case (p, i) => (p, i.toLong + 1L) }
    val idOf = map(ids.flatMap { case (p, i) => Seq(lit(p), lit(i)) }: _*)
    val seg = segment(words.select(col("word")).distinct(), vocab)
    Subwords.docTokens(words, idCol,
      seg.vocab.select(col("word"), transform(seg.pieces, p => element_at(idOf, p)).as("toks")),
      "token_ids")
  }
}
