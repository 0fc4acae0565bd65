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

  /** Sentinel-delimited character-symbol encoding of `word`. */
  private def symStr(word: Column): Column =
    concat(lit(D),
      concat_ws(D + D,
        transform(
          sequence(lit(1), length(word)),
          i => substring(word, i, lit(1)))),
      lit(D))

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
    * and to the apply-side `*OnWords` twins, so the corpus scan +
    * vocab groupBy is paid once per gate instead of once per call
    * (guide §2.4: share the exchange). */
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
    * by the char-grain [[train]] and byte-grain [[trainBytes]] paths. A
    * vocab of at most `bound` rows trains in memory ([[MergeLoop]]: one
    * collect, then every round on the driver, the score being the pair
    * count); a larger one runs [[distributedMerges]].
    */
  private def trainOnVocab(
      vocab: DataFrame,
      m: Int,
      bound: Int): Array[(Int, String, String, Long)] = {
    require(m > 0, s"need at least one merge, got $m")
    MergeLoop.collect(vocab, bound) match {
      case Some(rows) =>
        MergeLoop.train(rows, m, (pcnt, _, _) => pcnt, _ + _)
          .map { case (step, a, b, pcnt, _) => (step, a, b, pcnt) }
      case None => distributedMerges(vocab, m)
    }
  }

  /** The merge loop for a vocab too large for the driver. Each round:
    * one vocab-sized pair count + a 1-row argmax collect.
    *
    * The vocab is materialized ONCE (`localCheckpoint`); each round's
    * merge is then a CHAINED literal `replace` over that base, so a
    * round costs exactly one Spark job (the argmax) instead of two —
    * the per-round eager re-checkpoint this loop used to pay was a full
    * extra job per merge for a vocab-sized table (guide §1.2: the
    * sequential-job count IS the wall clock of a driver loop). The
    * replace chain is re-applied scan-side each round (O(step) cheap
    * string ops per vocab row); every [[CheckpointEvery]] merges the
    * chain is folded back into a fresh checkpoint so expression depth
    * stays bounded for large-m production trainings. Pair statistics,
    * and therefore the merge trajectory, are bit-identical to the
    * materialize-every-round form.
    */
  private[operators] val CheckpointEvery = 16
  private def distributedMerges(
      vocab0: DataFrame,
      m: Int): Array[(Int, String, String, Long)] = {
    var base = vocab0.localCheckpoint(true)
    var sym: Column = col("s")
    var depth = 0
    val merges = Array.newBuilder[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= m && !done) {
      val best = pairCounts(base.select(sym.as("s"), col("cnt")))
        .orderBy(col("pcnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, c))
        sym = replace(sym, lit(D + a + D + D + b + D), lit(D + a + b + D))
        depth += 1
        if (depth >= CheckpointEvery) {
          base = base.select(sym.as("s"), col("cnt")).localCheckpoint(true)
          sym = col("s")
          depth = 0
        }
        step += 1
      }
    }
    merges.result()
  }

  /** The merge table as a DataFrame (for gates/persistence). */
  def mergeTable(
      spark: SparkSession,
      merges: Array[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toSeq.toDF("step", "sym_a", "sym_b", "pair_cnt")
      .select(col("step").cast("long").as("step"), col("sym_a"), col("sym_b"),
        col("pair_cnt"))
  }

  /** Apply a trained merge list to the corpus and return per-subword
    * corpus frequencies (top `k` by count, ties to the smaller subword):
    * segmentation happens on the word VOCAB (corpus scanned once for
    * counts), each merge is one literal scan-side `replace`.
    */
  def subwordCounts(
      docs: DataFrame,
      textCol: String,
      merges: Array[(Int, String, String, Long)],
      k: Int): DataFrame =
    subwordCountsOnWords(wordVocab(docs, textCol), merges, k)

  /** [[subwordCounts]] over a prepared `(word, cnt)` vocab frame. */
  def subwordCountsOnWords(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)],
      k: Int): DataFrame = {
    val applied = merges.foldLeft(symStr(col("word"))) { case (s, (_, a, b, _)) =>
      replace(s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    vocab
      .select(col("cnt"), explode(symsOf(applied)).as("subword"))
      .groupBy(col("subword"))
      .agg(sum(col("cnt")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("subword"))
      .limit(k)
  }

  /** Corpus token TOTALS under a trained char-grain merge list — the
    * tokenizer-comparison row: units = eligible word occurrences,
    * chars/tokens count-weighted. One vocab-sized pass. */
  def charTokenTotals(
      docs: DataFrame,
      textCol: String,
      merges: Array[(Int, String, String, Long)]): DataFrame =
    charTokenTotalsOnWords(wordVocab(docs, textCol), merges)

  /** [[charTokenTotals]] over a prepared `(word, cnt)` vocab frame. */
  def charTokenTotalsOnWords(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)]): DataFrame = {
    val applied = merges.foldLeft(symStr(col("word"))) { case (s, (_, a, b, _)) =>
      replace(s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    vocab.agg(
      sum(col("cnt")).cast("long").as("n_units"),
      sum(length(col("word")) * col("cnt")).cast("long").as("n_chars"),
      sum(size(symsOf(applied)) * col("cnt")).cast("long").as("n_tokens"))
  }

  /** [[charTokenTotals]] at the byte grain (pre-token universe — raw
    * text incl. case/punctuation, so n_chars is its own basis). */
  def byteTokenTotals(
      docs: DataFrame,
      textCol: String,
      merges: Array[(Int, String, String, Long)]): DataFrame =
    byteTokenTotalsOnWords(byteVocab(docs, textCol), merges)

  /** [[byteTokenTotals]] over a prepared `(word, cnt)` pre-token vocab. */
  def byteTokenTotalsOnWords(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)]): DataFrame = {
    val applied = merges.foldLeft(byteSymStr(col("word"))) { case (s, (_, a, b, _)) =>
      replace(s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    vocab.agg(
      sum(col("cnt")).cast("long").as("n_units"),
      sum(length(col("word")) * col("cnt")).cast("long").as("n_chars"),
      sum(size(symsOf(applied)) * col("cnt")).cast("long").as("n_tokens"))
  }

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
    concat(lit(D),
      concat_ws(D + D,
        transform(
          sequence(lit(1), (length(hx) / 2).cast("int")),
          i => substring(hx, i * 2 - 1, lit(2)))),
      lit(D))
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

  /** Apply a byte-grain merge list: per-subword corpus frequencies, the
    * subword as its hex byte sequence (top `k` by count, ties to the
    * smaller hex string). Segmentation runs on the pre-token VOCAB —
    * the corpus is scanned once for counts. */
  def byteSubwordCounts(
      docs: DataFrame,
      textCol: String,
      merges: Array[(Int, String, String, Long)],
      k: Int): DataFrame =
    byteSubwordCountsOnWords(byteVocab(docs, textCol), merges, k)

  /** [[byteSubwordCounts]] over a prepared `(word, cnt)` pre-token vocab. */
  def byteSubwordCountsOnWords(
      vocab: DataFrame,
      merges: Array[(Int, String, String, Long)],
      k: Int): DataFrame = {
    val applied = merges.foldLeft(byteSymStr(col("word"))) { case (s, (_, a, b, _)) =>
      replace(s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    vocab
      .select(col("cnt"), explode(symsOf(applied)).as("subword"))
      .groupBy(col("subword"))
      .agg(sum(col("cnt")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("subword"))
      .limit(k)
  }

  /** Doc-grain byte tokenization — the packing-stage consumable, the
    * [[Unigram.docTokenIds]] twin at the byte-BPE grain: each document's
    * pre-token sequence segments under the merges (each DISTINCT
    * pre-token once, the vocab-table trick) and the document becomes its
    * ordered comma-joined hex-token sequence plus a token count. */
  def docByteTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Array[(Int, String, String, Long)]): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(pretokens(col(textCol))).as(Seq("wpos", "word")))
    docByteTokensFromWords(words, idCol, merges,
      words.select(col("word")).distinct())
  }

  /** [[docByteTokens]] with the distinct pre-token set supplied — a gate
    * that already built the `(word, cnt)` pre-token vocab (for training)
    * passes it here so the doc-grain distinct is not recomputed. */
  def docByteTokensOnVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Array[(Int, String, String, Long)],
      vocab: DataFrame): DataFrame =
    docByteTokensFromWords(
      docs.select(col(idCol),
        posexplode(pretokens(col(textCol))).as(Seq("wpos", "word"))),
      idCol, merges, vocab.select(col("word")))

  private def docByteTokensFromWords(
      words: DataFrame,
      idCol: String,
      merges: Array[(Int, String, String, Long)],
      wordSet: DataFrame): DataFrame = {
    val applied = merges.foldLeft(byteSymStr(col("word"))) { case (s, (_, a, b, _)) =>
      replace(s, lit(D + a + D + D + b + D), lit(D + a + b + D))
    }
    val wordToks = wordSet
      .select(col("word"), symsOf(applied).as("toks"))
    words.join(wordToks, "word")
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("wpos"), col("toks"))).as("_t"))
      .select(col(idCol),
        graft.plans.TextExpressions.tokenSeqJoin(col("_t")).as("_r"))
      .select(col(idCol), col("_r.n_tokens").as("n_tokens"),
        col("_r.token_ids").as("token_hex"))
  }
}
