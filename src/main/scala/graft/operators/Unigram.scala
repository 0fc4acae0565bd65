package graft.operators

import graft.plans.HashExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (the SentencePiece family, Kudo 2018,
  * arXiv:1804.10959) — the OTHER standard subword vocabulary next to BPE:
  * pieces carry probabilities, words segment by the best-scoring piece
  * sequence (Viterbi), and training alternates segmentation with vocab
  * pruning. This implementation is the hard-EM (Viterbi-EM) variant:
  * each round segments the word vocabulary under the current piece
  * scores, re-estimates piece usage from the chosen segmentations, and
  * prunes to the top-K pieces (single characters are never pruned — they
  * guarantee every word stays segmentable, SentencePiece's own rule).
  *
  * Scale shape — the [[Bpe]] discipline end to end: ONE corpus scan
  * builds the (word, cnt) vocabulary; every EM/pruning round runs on the
  * VOCAB table only (substring explode, a piece-score equi-join, one
  * map-side-combined usage aggregation — the corpus is never rescanned),
  * and the piece table stays a DataFrame throughout (top-K via
  * sort-limit = TakeOrdered, never a driver collect). The Viterbi DP
  * itself runs scan-side as the native whole-stage-codegen
  * [[graft.plans.UnigramSegment]] kernel (positions 1..n, candidates
  * over the ≤ [[MaxPieceLen]] lookback) — no per-word shuffle, no UDF,
  * no interpreted fold (the original HOF formulation is the test-side
  * differential-spec reference, `graft.plans.References.segmentedHof`).
  *
  * Engine-exactness: piece scores are INTEGER quantized log-likelihoods
  * `ilog2q(cnt) − ilog2q(total)` where [[ilog2q]] is an exact-integer
  * piecewise-linear log2 (exponent from clz64 + a 16-bit
  * linearly-interpolated mantissa — monotone in the count, identical in
  * any engine with exact integer shifts). Viterbi maximizes the integer
  * score sum with ties toward the LONGEST candidate piece (then
  * transitively toward earlier splits), so the entire trajectory — seed
  * counts, scores, segmentations, usage counts, pruning, final artifact —
  * replays hash-exact in DuckDB recursive CTEs. No floats anywhere.
  */
object Unigram {

  /** Maximum piece length — bounds the Viterbi lookback (the DP inner
    * loop unrolls over exactly this many candidates). */
  val MaxPieceLen = 4

  /** Unreachable-path sentinel: far below any real score sum, far above
    * Long overflow when two of them add. */
  val Neg: Long = -(1L << 40)

  /** Per-character unknown penalty (the SentencePiece unk-edge device):
    * single characters ABSENT from the piece table score this instead of
    * [[Neg]], so applying an artifact to unseen text segments around the
    * unknown chars (each becomes one UNK token) rather than collapsing
    * the whole word. Calibration: any real piece scores ≥ −2^23-ish
    * (ilog2q spans ≤ 63·2^16), so one unk char (−2^32) outweighs every
    * real path, yet eight of them (−2^35) stay far above one [[Neg]]
    * (−2^40) — segmentation minimizes unk-char count, never prefers an
    * unknown multi-char piece. Unreachable during training: seeding and
    * pruning always keep every single character. */
  val UnkScore: Long = -(1L << 32)

  /** Exact-integer quantized log2: `e·2^16 + ((c − 2^e) << 16) >> e`
    * with `e = 63 − clz64(c)` — the exponent plus a linearly-interpolated
    * 16-bit mantissa fraction. Monotone in `c` (the property scoring
    * needs), exact in any engine with integer shifts; `c` must be ≥ 1.
    */
  def ilog2q(c: Column): Column = {
    val e = (lit(63) - HashExpressions.clz64(c)).cast("int")
    val p = call_function("shiftleft", lit(1L), e)
    e.cast("long") * lit(65536L) +
      call_function("shiftrightunsigned",
        call_function("shiftleft", c - p, lit(16)), e)
  }

  /** [[ilog2q]] on the driver: the same shifts on a `Long`, so a score
    * computed in memory equals the Catalyst expression's. */
  private[operators] def ilog2q(c: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(c)
    e.toLong * 65536L + (((c - (1L << e)) << 16) >>> e)
  }

  /** Every substring of `word` with length 1..maxLen, multiplicity kept
    * (the seed-count weighting). */
  private def allSubstrings(word: Column, maxLen: Int): Column =
    flatten(transform(sequence(lit(1), length(word)), i =>
      transform(
        sequence(lit(1), least(lit(maxLen), length(word) - i + 1)),
        l => word.substr(i, l))))

  /** Seed piece counts over a (word, cnt) vocab: every substring ≤
    * maxLen, weighted by word count — one vocab-sized explode+aggregate.
    */
  def seedCounts(vocab: DataFrame, maxLen: Int = MaxPieceLen): DataFrame =
    vocab
      .select(col("cnt"),
        explode(allSubstrings(col("word"), maxLen)).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("used"))

  /** Integer scores for a (piece, used) table:
    * `ilog2q(used) − ilog2q(Σ used)`, the total riding as a broadcast
    * 1-row parameter frame. */
  def withScores(pieces: DataFrame): DataFrame = {
    val total = pieces.agg(sum(col("used")).as("_t"))
    pieces.crossJoin(broadcast(total))
      .select(col("piece"), col("used"),
        (ilog2q(col("used")) - ilog2q(col("_t"))).as("score"))
  }

  /** Segment every vocab word under `pieceScores(piece, score)`:
    * candidate pieces arrive per word as a map (one vocab-sized
    * equi-join + aggregation), the DP and backtrace run as ONE native
    * whole-stage-codegen kernel pass ([[graft.plans.UnigramSegment]]).
    * Returns (word, cnt, pieces).
    */
  def segmented(
      vocab: DataFrame,
      pieceScores: DataFrame,
      maxLen: Int = MaxPieceLen): DataFrame =
    wordPieceMaps(vocab, pieceScores, maxLen)
      .select(col("word"), col("cnt"),
        graft.plans.TextExpressions.unigramSegment(
          col("word"), col("_m"), maxLen, UnkScore, Neg).as("pieces"))

  /** The per-word candidate score maps — one vocab-sized equi-join +
    * aggregation, shared by the kernel path and the HOF reference. */
  private[graft] def wordPieceMaps(
      vocab: DataFrame,
      pieceScores: DataFrame,
      maxLen: Int): DataFrame =
    vocab
      .select(col("word"), col("cnt"),
        explode(array_distinct(allSubstrings(col("word"), maxLen))).as("piece"))
      .join(pieceScores.select(col("piece"), col("score")), "piece")
      .groupBy(col("word"), col("cnt"))
      .agg(map_from_entries(collect_list(struct(col("piece"), col("score"))))
        .as("_m"))

  /** Viterbi usage counts: how much corpus mass each piece absorbed. */
  def pieceCounts(segs: DataFrame): DataFrame =
    segs.select(col("cnt"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("used"))

  /** Pruning: top `keepK` pieces by (used desc, piece asc) — a bounded
    * TakeOrdered, never a window or a collect — UNION every single
    * character (usage floor 1), so segmentability is preserved. */
  def keepPieces(
      counts: DataFrame,
      seedSingles: DataFrame,
      keepK: Int): DataFrame = {
    val top = counts.orderBy(col("used").desc, col("piece")).limit(keepK)
    val singles = seedSingles
      .join(counts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("used"), lit(1L)).as("used"))
    top.unionByName(singles)
      .groupBy(col("piece"))
      .agg(max(col("used")).as("used"))
  }

  /** Train the artifact: `rounds` hard-EM rounds of segment → count →
    * prune over the vocab table, then final scores. Returns
    * (piece, used_cnt, score) — the tokenizer model. Each round's piece
    * table is localCheckpoint'ed (the [[Bpe]] round discipline: bounded
    * tables, no plan stacking). */
  def trainArtifact(
      docs: DataFrame,
      textCol: String,
      rounds: Int = 2,
      keepK: Int = 48,
      maxLen: Int = MaxPieceLen): DataFrame =
    trainArtifactOnVocab(
      Bpe.wordVocab(docs, textCol).localCheckpoint(true),
      rounds, keepK, maxLen)

  /** [[trainArtifact]] over a prepared `(word, cnt)` vocab frame —
    * gates that also apply the artifact share ONE checkpointed vocab
    * across training and application (one corpus scan per gate). The
    * vocab must already be MATERIALIZED (localCheckpoint) by the caller:
    * every EM round re-reads it, so a lazy frame would recompute its
    * corpus scan per round. */
  def trainArtifactOnVocab(
      vocab0: DataFrame,
      rounds: Int = 2,
      keepK: Int = 48,
      maxLen: Int = MaxPieceLen): DataFrame = {
    require(rounds >= 1 && keepK >= 1, s"need rounds/keepK >= 1")
    // enforce the materialization contract instead of documenting it: a
    // caller passing a lazy frame would silently re-pay its full corpus
    // scan on every EM round below
    val vocab = vocab0.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => vocab0
      case _ => vocab0.localCheckpoint(true)
    }
    val seed = seedCounts(vocab, maxLen).localCheckpoint(true)
    val seedSingles = seed.filter(length(col("piece")) === 1).select("piece")
    var pieces = seed
    var r = 0
    while (r < rounds) {
      val counts = pieceCounts(segmented(vocab, withScores(pieces), maxLen))
      pieces = keepPieces(counts, seedSingles, keepK).localCheckpoint(true)
      r += 1
    }
    withScores(pieces)
      .select(col("piece"), col("used").as("used_cnt"), col("score"))
  }

  /** A `(word, cnt)` vocab Viterbi-segmented under a trained artifact's
    * final piece scores ([[segmented]]). */
  def segment(vocab: DataFrame, artifact: DataFrame): Subwords.Segmented =
    Subwords.Segmented(segmented(vocab, artifact), col("pieces"))

  /** Doc-grain tokenization under a trained artifact — what a packing
    * stage actually consumes: each document's eligible words (the
    * tokenizer's `[a-z0-9]+` universe) Viterbi-segment under the final
    * piece scores, pieces map to DENSE token ids (rank by piece), and the
    * document becomes its ordered token-id sequence. Returns
    * `(idCol, n_tokens, token_ids)` with the ids comma-joined (a
    * string-typed sequence hashes engine-portably).
    *
    * OOV CONTRACT (consumers counting tokens for packing, read this):
    * unknown ids are shape-dependent BY DESIGN. A word that still has
    * artifact-known substrings segments through the UNK edge — each
    * unknown CHAR becomes one id-0 token; a word with NO artifact-known
    * substring at all collapses to ONE word-grain id-0 token (not one
    * per char). So `n_tokens` over heavily-OOV text is a lower bound on
    * char-grain UNK counting, never an overcount. Both shapes are
    * unreachable on self-trained corpora (single chars are never
    * pruned); pinned by UnigramSpec.
    *
    * Scale shape: each DISTINCT word segments ONCE (the vocab-table
    * trick); documents join word→ids and re-assemble by (word position,
    * piece position) — two vocab-sized joins plus one doc-grain
    * aggregation, never a per-piece corpus shuffle.
    */
  def docTokenIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      artifact: DataFrame,
      maxLen: Int = MaxPieceLen): DataFrame = {
    val words = Subwords.docWords(docs, idCol, textCol)
    val vocab = words.select(col("word")).distinct()
      .withColumn("cnt", lit(1L))
    // dense ids: rank over the BOUNDED artifact table (keepK + singles)
    val ids = artifact.select(col("piece"),
      row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("piece")))
        .cast("long").as("tid"))
    // OOV safety (applying an artifact to unseen text): unknown chars
    // segment as single-char UNK edges ([[UnkScore]]) and map to the
    // reserved id 0 (dense ids start at 1); a word with NO artifact-known
    // substring — dropped by segmented's inner piece join — becomes one
    // word-grain UNK token. Both left joins are no-ops on self-trained
    // corpora (single characters are never pruned, so every word segments
    // into artifact pieces): gate hashes unchanged.
    val wordIds = segmented(vocab, artifact, maxLen)
      .select(col("word"), posexplode(col("pieces")).as(Seq("ppos", "piece")))
      .join(ids, Seq("piece"), "left")
      .groupBy(col("word"))
      .agg(transform(
        array_sort(collect_list(struct(col("ppos"), col("tid")))),
        x => coalesce(x.getField("tid"), lit(0L))).as("toks"))
    Subwords.docTokens(words, idCol, wordIds, "token_ids",
      unknown = Some(array(lit(0L))))
  }
}
