package graft.plans

import graft.functions.Text
import graft.operators.{Html, Unigram}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of the native kernels: the interpreted
  * higher-order-function and regex forms each kernel replaced, kept only
  * as the specification the differential specs compare the kernel with.
  * Production code never calls them — `transform`/`aggregate`/`zip_with`
  * are CodegenFallback, several times slower per row than the kernels.
  */
object References {

  // ---- Vectors ----------------------------------------------------------

  /** `Vectors.dot` ([[FloatDot]]) as `aggregate(zip_with(...))`; also the
    * exact shape [[RewriteHofDot]] matches. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  // ---- Text -------------------------------------------------------------

  /** `Text.wordShingles` ([[WordShingles]]) as slices zipped together. The
    * `transform(array(...))` wrapper is a let-binding so CollapseProject
    * inlines the tokenization once, not once per slice.
    */
  def wordShinglesHof(text: Column, n: Int): Column =
    element_at(
      transform(array(Text.tokens(text)), t => {
        val cnt = greatest(size(t) - (n - 1), lit(0))
        val parts = (1 to n).map(k => slice(t, lit(k), cnt))
        val joined = parts.reduce((acc, nxt) => zip_with(acc, nxt, (x, y) => concat(x, lit(" "), y)))
        when(size(t) >= n, array_distinct(joined)).otherwise(array().cast("array<string>"))
      }),
      1)

  /** `Text.regexTokens` ([[RegexTokens]]) as java.util.regex over the
    * lowercased text; `textCol` is the source column name. */
  def regexTokensRegexp(textCol: String): Column =
    expr(s"regexp_extract_all(lower($textCol), \"[a-z]+(?:'[a-z]+)?|[0-9]+\", 0)")

  // ---- Unigram ----------------------------------------------------------

  /** Viterbi best-score DP as a per-row fold: positions j = 1..n, each
    * appending `struct(s, bp)` — the best score ending at j and its
    * backpointer — computed from the ≤ maxLen candidates `i = j−k`.
    * Iterating candidates in ASCENDING i with a strict-> replacement
    * keeps the smallest i on ties: equal-score segmentations resolve
    * toward the longest final piece, the [[UnigramSegment]] tie rule.
    */
  def viterbiAcc(word: Column, m: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("s"), lit(0).as("bp"))),
      (acc, j) => {
        def cand(k: Int): Column = {
          val i = j - k
          val piece = word.substr(i + 1, lit(k))
          // unknown single char: the UNK edge; unknown multi-char: dead
          val miss = if (k == 1) Unigram.UnkScore else Unigram.Neg
          when(i >= 0,
            struct(
              (element_at(acc, (i + 1).cast("int")).getField("s") +
                coalesce(element_at(m, piece), lit(miss))).as("s"),
              i.cast("int").as("bp")))
            .otherwise(struct(lit(2L * Unigram.Neg).as("s"), lit(-1).as("bp")))
        }
        val best = (maxLen to 1 by -1).map(cand).reduceLeft { (b, c) =>
          when(c.getField("s") > b.getField("s"), c).otherwise(b)
        }
        concat(acc, array(best))
      })

  /** Backtrace of a [[viterbiAcc]] array into the chosen piece sequence:
    * walk j = n → 0 through the backpointers, prepending each piece. The
    * fold runs n no-op-padded steps (j stops moving at 0), so it stays a
    * bounded per-row expression. */
  def backtrace(word: Column, acc: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).cast("int").as("j"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val j = st.getField("j")
        val bp = element_at(acc, (j + 1).cast("int")).getField("bp")
        when(j > 0,
          struct(bp.as("j"),
            concat(array(word.substr(bp + 1, j - bp)), st.getField("ps"))
              .as("ps")))
          .otherwise(st)
      }).getField("ps")

  /** `Unigram.segmented` with the DP and backtrace as the two folds above
    * instead of the [[UnigramSegment]] kernel. Returns (word, cnt, pieces).
    */
  def segmentedHof(
      vocab: DataFrame,
      pieceScores: DataFrame,
      maxLen: Int = Unigram.MaxPieceLen): DataFrame =
    Unigram.wordPieceMaps(vocab, pieceScores, maxLen)
      .withColumn("_acc", viterbiAcc(col("word"), col("_m"), maxLen))
      .select(col("word"), col("cnt"),
        backtrace(col("word"), col("_acc")).as("pieces"))

  // ---- EntityResolution -------------------------------------------------

  /** The deletion neighborhood as a key array: the string plus each
    * single-char deletion, with i=0 of `sequence(0, length)` standing for
    * the string itself. */
  def deletionKeys(n: Column): Column =
    transform(sequence(lit(0), length(n)), i =>
      when(i === 0, n).otherwise(
        concat(n.substr(lit(1), (i - 1).cast("int")),
          n.substr((i + 1).cast("int"), length(n)))))

  /** Depth-`d` deletion neighborhood (FastSS `U_d`, d ∈ {1, 2}): every
    * string obtainable by deleting up to `d` characters, the string itself
    * included. Hashed with `xxhash64`, it is the key set the
    * [[DeletionKeyHashes]] kernel emits.
    */
  def deletionNeighborhood(n: Column, depth: Int): Column = {
    require(depth >= 1 && depth <= 2,
      s"deletion neighborhoods implemented for depth 1 and 2; got $depth")
    if (depth == 1) array_distinct(deletionKeys(n))
    else array_distinct(flatten(transform(deletionKeys(n), s => deletionKeys(s))))
  }

  // ---- Html -------------------------------------------------------------

  /** Spans removed wholesale before segmentation. */
  val NonContentRes: Seq[String] = Seq(
    "(?s)<!--.*?-->",
    "(?is)<script\\b[^>]*>.*?</script>",
    "(?is)<style\\b[^>]*>.*?</style>")

  def stripNonContent(html: Column): Column =
    NonContentRes.foldLeft(html)((c, p) => regexp_replace(c, p, " "))

  /** The 5 named-entity escapes + the numeric apostrophe, `&amp;` LAST so
    * double-escaped text un-escapes one level, as a browser would.
    */
  def unescapeEntities(c: Column): Column = {
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (from, to)) => regexp_replace(acc, java.util.regex.Pattern.quote(from), to) }
  }

  /** Visible text of a markup fragment: tags → spaces, entities unescaped,
    * whitespace collapsed, trimmed.
    */
  def cleanText(raw: Column): Column =
    trim(regexp_replace(
      unescapeEntities(regexp_replace(raw, "<[^>]*>", " ")), "\\s+", " "))

  /** `Html.blocks` with the blocks cut by the regex chain the DuckDB oracle
    * (`Html.blocksCoreSql`) replays, instead of the [[HtmlBlocks]] kernel.
    */
  def blocksRegex(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      minWords: Int = 5,
      maxLinkDensity: Double = 0.33): DataFrame = {
    val linkChars = aggregate(
      transform(
        regexp_extract_all(col("_raw"), lit(Html.LinkRe), lit(1)),
        x => length(cleanText(x)).cast("long")),
      lit(0L), (a, x) => a + x)
    Html.signals(
      df.select(col(idCol),
          posexplode(split(stripNonContent(col(htmlCol)), Html.BlockSplitRe))
            .as(Seq("block_idx", "_raw")))
        .select(col(idCol), col("block_idx"),
          cleanText(col("_raw")).as("text"), linkChars.as("link_chars")),
      minWords, maxLinkDensity)
  }
}
