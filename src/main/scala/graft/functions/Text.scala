package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for training-data pipelines: tokenization, quality
  * scoring, language-ID heuristics, normalization/fingerprinting, shingling,
  * SimHash. All pure `org.apache.spark.sql.functions._` / SQL expressions —
  * no UDFs — so everything stays codegen-friendly and engine-portable
  * (each has an exact DuckDB-SQL equivalent used by the oracle queries).
  */
object Text {

  /** Whitespace tokens, lowercased, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** ASCII punctuation count (explicit ranges — identical class semantics in
    * Java regex and RE2).
    */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))

  /** Stopword hits among tokens (non-distinct). */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val lits = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(lits, t)))
  }

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
  val DeStopwords: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit")
  val FrStopwords: Seq[String] =
    Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour")
  val EsStopwords: Seq[String] =
    Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "que")
  val ZhStopwords: Seq[String] =
    Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人")

  /** Languages scored by [[langScores]] / [[langId]], in tie-break priority order. */
  val Langs: Seq[(String, Seq[String])] = Seq(
    "en" -> EnStopwords, "de" -> DeStopwords, "fr" -> FrStopwords,
    "es" -> EsStopwords, "zh" -> ZhStopwords)

  /** Stopword-hit score per language. */
  def langScores(text: Column): Seq[(String, Column)] =
    Langs.map { case (l, words) => l -> stopwordCount(text, words) }

  /** Heuristic language ID: argmax of stopword hits, ties broken by [[Langs]]
    * order, "und" (undetermined) when no stopword hits at all.
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.tail.foldLeft(scores.head._2)((m, s) => greatest(m, s._2))
    val pick = scores.foldRight(lit("und"): Column) { case ((l, s), rest) =>
      when(s === best, lit(l)).otherwise(rest)
    }
    when(best > 0, pick).otherwise(lit("und"))
  }

  /** Aggressive normalization for fingerprinting: lowercase, strip all but
    * [a-z0-9 ] and collapse whitespace.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Deterministic document fingerprint: md5 of the normalized text
    * (md5 so the DuckDB oracle can reproduce it bit-for-bit).
    */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Quality formula from precomputed counts — the single source of the
    * 0.4/0.3/0.3 weighting, shared by [[qualityScore]] and the
    * TokenStats-based query path (the DuckDB oracle mirrors the same
    * operation order).
    */
  def qualityScoreFrom(nTokens: Column, punctCnt: Column, stopwordCnt: Column, nChars: Column): Column = {
    val nTok = nTokens.cast("double")
    val nChar = nChars.cast("double")
    val punctRatio = when(nChar > 0, punctCnt / nChar).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0, stopwordCnt.cast("double") / nTok).otherwise(lit(0.0))
    least(nTok / 100.0, lit(1.0)) * 0.4 + (lit(1.0) - punctRatio) * 0.3 + stopRatio * 0.3
  }

  /** Composite quality score in [0,1]:
    * 0.4·min(tokens/100,1) + 0.3·(1−punct_ratio) + 0.3·stopword_ratio.
    * Single-pass column arithmetic; rounding left to the caller.
    */
  def qualityScore(text: Column): Column =
    qualityScoreFrom(tokenCount(text), punctCount(text),
      stopwordCount(text, EnStopwords), length(text))

  /** Distinct word n-gram shingles joined with single spaces
    * (first-occurrence order; empty when the document has fewer than `n`
    * tokens) — native single-pass codegen'd expression
    * ([[graft.plans.WordShingles]]).
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.plans.TextExpressions.wordShingles(text, n)

  /** ALL word n-gram occurrences (multiplicities kept, document order) —
    * the counting variant for n-gram language models.
    */
  def wordShinglesAll(text: Column, n: Int): Column =
    graft.plans.TextExpressions.wordShinglesAll(text, n)

  /** PII-style scrubbing: replace digit runs of `minRun`+ with `marker`
    * (phone numbers, ids, SSNs — the standard training-corpus redaction
    * pass). Codegen'd `regexp_replace`; the pattern is RE2-compatible so an
    * engine-portable oracle can reproduce it (DuckDB needs the 'g' flag to
    * match Java's replace-all default).
    */
  def redactLongNumbers(text: Column, minRun: Int = 4, marker: String = "[NUM]"): Column =
    regexp_replace(text, s"[0-9]{$minRun,}", marker)

  /** Count of digit runs of `minRun`+ (what [[redactLongNumbers]] removes). */
  def longNumberCount(text: Column, minRun: Int = 4): Column =
    size(regexp_extract_all(text, lit(s"[0-9]{$minRun,}"), lit(0)))

  // ---- Typed PII scan/redaction ----------------------------------------
  // The full curation-pipeline privacy pass: typed detectors applied in a
  // FIXED order (email → IPv4 → intl phone → residual long digit runs),
  // each type counted on the text AS THE PREVIOUS REDACTIONS LEFT IT so a
  // phone's digits are never double-counted as a long number. All patterns
  // are in the Java-regex ∩ RE2 common subset (no lookaround, no
  // backreferences), so an external SQL engine replays both the counts and
  // the redacted text byte-for-byte.

  final val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  final val PhonePattern = "\\+[0-9]{7,12}"

  /** Matches of `pattern` in `text`, as a count (codegen'd regexp scan). */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** One redaction stage: replace every match of `pattern` with `marker`. */
  def redactPattern(text: Column, pattern: String, marker: String): Column =
    regexp_replace(text, pattern, marker)

  /** BPE-ish token stream: maximal runs of word chars (with one inner
    * apostrophe group) or digit runs — `[a-z]+(?:'[a-z]+)?|[0-9]+` over the
    * lowercased text, as a native single-pass scanner
    * ([[graft.plans.RegexTokens]]); its regex reference form,
    * `graft.plans.References.regexTokensRegexp`, is test-side.
    * `textCol` is the source column name (SQL identifier).
    */
  def regexTokens(textCol: String): Column =
    graft.plans.TextExpressions.bpeTokens(col(textCol))
}
