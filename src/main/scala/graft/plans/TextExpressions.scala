package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text statistics as a native Catalyst expression.
  *
  * Returns `struct<n_tokens:long, punct_cnt:long, stopword_cnt:long>` in ONE
  * scan of the string. The pure-`functions._` formulation needs a token
  * split + filter per referenced statistic (CollapseProject inlines the
  * tokenization into every consumer) — ~7 passes over each document.
  *
  * Tokenization semantics match the engine-portable definition used by the
  * oracle queries exactly: tokens are maximal runs of non-whitespace where
  * whitespace = Java regex `\s` = [ \t\n\x0B\f\r]; punctuation = ASCII
  * `[!-/:-@[-`{-~]`; stopwords compared after ASCII lowercasing.
  */
/** Unicode NFC canonical composition (the curation normalizer's core —
  * CCNet/most web pipelines normalize before tokenizing so that composed
  * and decomposed spellings of the same text dedup/count identically).
  * Delegates to the JDK's reference implementation
  * (`java.text.Normalizer`, Unicode UAX #15) with an `isNormalized` fast
  * path that returns the INPUT UTF8String unchanged — on real corpora
  * almost every row is already NFC, so the common case allocates nothing.
  * DuckDB's `nfc_normalize` implements the same standard algorithm, which
  * is what lets the q_text_normalize gate hash-match end to end
  * (cross-checked on composition, singleton-replacement (U+212B → Å) and
  * combining-class-reordering cases).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfcNormalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.nfcNormalize($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = TokenStats.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_stats requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "token_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopwords.size * 2)
    stopwords.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenStats(input.asInstanceOf[UTF8String], stopSet)

  // codegen = one static kernel call per row, keeping the surrounding
  // projection inside whole-stage codegen (no interpreted fallback plumbing)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.tokenStats($in, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("punct_cnt", LongType, nullable = false),
    StructField("stopword_cnt", LongType, nullable = false)))
}

/** Single-pass multi-language stopword-hit counter: one scan of the string,
  * one membership probe per (token, language). The `functions._` version
  * tokenizes once per language per reference — 10+ scans for 5 languages.
  * Returns `struct<<lang>_hits: long, ...>` in `langs` order.
  */
case class LangHits(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression {

  override def dataType: DataType =
    StructType(langs.map { case (l, _) => StructField(s"${l}_hits", LongType, nullable = false) })

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_hits requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "lang_hits"

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    langs.map { case (_, words) =>
      val s = new java.util.HashSet[String](words.size * 2)
      words.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
      s
    }.toArray

  override def nullSafeEval(input: Any): Any =
    TextKernels.langHits(input.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.langHits($in, $setsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared single-pass scan kernels, called from both interpreted eval and
  * generated code. Tokenization semantics: whitespace = Java regex `\s`
  * ([ \t\n\x0B\f\r]); punctuation = ASCII ranges; ASCII lowercasing
  * (non-ASCII uppercase can never match the ASCII/zh stopword lists either
  * way, so parity with `lower()` holds for the counts).
  */
/** Distinct word n-gram shingles in ONE pass of the string, as a native
  * codegen'd expression. Semantics identical to the declarative formulation
  * (`filter(split(lower(text),"\\s+"), ...)` sliced into n-grams joined by a
  * single space, `array_distinct`, first-occurrence order): the whole
  * string is Unicode-lowercased via `UTF8String.toLowerCase` — exactly
  * Spark's `lower()` — then split on Java-`\s` whitespace. The HOF
  * formulation is interpreted (no codegen for `transform`/`zip_with`) and
  * re-evaluates slices per position — this kernel feeds every shingle-based
  * dedup operator (ngram Jaccard, MinHash, SimHash).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires a string input and n >= 1, got ${child.dataType.simpleString}, n=$n")

  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.wordShingles($in, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Consecutive (non-overlapping) `n`-token segments of the lowercased
  * whitespace tokenization, INCLUDING the partial tail segment — the
  * segment grain of C4-style boilerplate removal. Same single-pass scanner
  * as [[WordShingles]] but strided by `n`; exactly equivalent to the
  * declarative `transform(sequence(...), i -> array_join(slice(tokens,
  * i+1, n), ' '))` formulation (spec cross-checked), several times cheaper
  * (one scan, no HOF interpretation, no intermediate token array column).
  */
case class WordSegments(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_segments requires a string input and n >= 1, got ${child.dataType.simpleString}, n=$n")

  override def prettyName: String = "word_segments"

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordSegments(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.wordSegments($in, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE-ish token stream (`[a-z]+(?:'[a-z]+)?|[0-9]+` over the lowercased
  * text) as a native single-pass scanner — the pattern is regular enough
  * that a hand scanner reproduces the regex's greedy-maximal matches
  * exactly, without java.util.regex overhead per document.
  */
case class RegexTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "bpe_tokens"

  override def nullSafeEval(input: Any): Any =
    TextKernels.bpeTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.bpeTokens($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** EXACT GPT-2 pre-tokenization (Radford et al. 2019 / the tiktoken
  * `gpt2` pattern) as a native single-pass scanner:
  * `'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+`
  * with Unicode classes (L = letters, N = Nd/Nl/No, whitespace =
  * White_Space), scanned by CODE POINT. See
  * [[TextKernels.gpt2Pretokens]] for the lookahead-elimination argument
  * that makes the scanner (and its RE2-bound DuckDB oracle replay)
  * possible without backtracking. Differentially fuzzed against
  * `java.util.regex` with UNICODE_CHARACTER_CLASS in
  * TokenizerKernelFuzzSpec.
  */
case class Gpt2Pretokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gpt2_pretokens requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "gpt2_pretokens"

  override def nullSafeEval(input: Any): Any =
    TextKernels.gpt2Pretokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.TextKernels.gpt2Pretokens($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Viterbi subword segmentation — the whole-stage-codegen
  * replacement for the per-row `aggregate`-fold DP + backtrace (test-side
  * reference `graft.plans.References.segmentedHof`; HOFs are
  * CodegenFallback; they made
  * q_unigram_doc_ids the board's most expensive batch row — the
  * [[TrigramClassSums]] / NearestCentroid precedent, third instance).
  *
  * Semantically IDENTICAL to the fold formulation, integer scores and
  * tie rules included: positions j = 1..n over CODE POINTS (matching
  * `substr`/`length` semantics), candidates k = maxLen..1 with
  * strict-> replacement — so ties keep the LONGEST final piece, then
  * resolve transitively toward earlier splits; a single char absent
  * from the score map takes `unkScore` (the UNK edge), an absent
  * multi-char candidate takes `neg` (dead). The DuckDB recursive-CTE
  * replay is unchanged — gate hashes must not move.
  *
  * `left` = the word, `right` = its per-word `map<string,bigint>` of
  * candidate piece scores (built by the vocab-sized equi-join).
  * Returns the chosen `array<string>` piece sequence.
  */
case class UnigramSegment(
    left: Expression,
    right: Expression,
    maxLen: Int,
    unkScore: Long,
    neg: Long) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, MapType(StringType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"unigram_segment requires (string, map<string,bigint>), got " +
          s"(${l.simpleString(2)}, ${r.simpleString(2)})")
    }

  override def prettyName: String = "unigram_segment"

  override def nullSafeEval(word: Any, scores: Any): Any =
    TextKernels.unigramSegment(word.asInstanceOf[UTF8String],
      scores.asInstanceOf[MapData], maxLen, unkScore, neg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, m) =>
      s"""${ev.value} = graft.plans.TextKernels.unigramSegment(
         |  $w, $m, $maxLen, ${unkScore}L, ${neg}L);
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native greedy longest-match-first WordPiece encoding — application
  * never replays merges: each position takes the LONGEST prefix of the
  * remaining word found in the (bounded) final vocabulary, non-initial
  * matches carrying the `##` continuation prefix; any unmatchable
  * remainder collapses the WHOLE word to one `unk` token (the BERT
  * rule). The vocabulary rides in as a reference object (alphabet + one
  * symbol per merge — never a join), so encoding is a pure scan inside
  * whole-stage codegen.
  */
case class WordPieceEncode(
    child: Expression,
    vocab: Array[String],
    unk: String) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wordpiece_encode requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "wordpiece_encode"

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }

  @transient private lazy val maxSub: Int = TextKernels.wpMaxSub(vocab)

  @transient private lazy val unkUtf8: UTF8String = UTF8String.fromString(unk)

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordPieceEncode(input.asInstanceOf[UTF8String],
      vocabSet, maxSub, unkUtf8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("wpVocab", vocabSet, "java.util.HashSet")
    val uRef = ctx.addReferenceObj("wpUnk", unkUtf8,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, in =>
      s"""${ev.value} = graft.plans.TextKernels.wordPieceEncode(
         |  $in, $vRef, $maxSub, $uRef);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native doc-grain token reassembly — the shared tail of every
  * `*_doc_ids` gate: a document's per-word token lists (collected as
  * `array<struct<wpos, ids>>`) sort by word position, flatten, and
  * comma-join into the ordered token sequence plus its count, in ONE
  * native pass. Replaces the interpreted
  * `array_sort`+`flatten`+`transform`+`array_join` HOF chain
  * (CodegenFallback — the family's dominant cost at the sf10 decade;
  * same precedent as [[UnigramSegment]]). Output equals the HOF chain
  * byte for byte: the sort orders by the FULL struct — position first,
  * then the ids array in Spark's array ordering (element-wise, shorter
  * prefix first) — exactly `array_sort`'s struct comparison, so even
  * duplicate positions (legal but unused by current call sites; their
  * `posexplode` positions are distinct per doc) reassemble identically
  * regardless of `collect_list`'s nondeterministic input order. Longs
  * print as `Long.toString` (= the `cast(string)` it replaces).
  *
  * Input: `array<struct<pos:int|long, ids:array<bigint|string>>>`;
  * output: `struct<n_tokens:bigint, token_ids:string>`.
  */
case class TokenSeqJoin(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("token_ids", StringType, nullable = false)))

  private def shape: Option[(Boolean, Boolean)] = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 =>
      val posLong = fs(0).dataType match {
        case LongType => Some(true)
        case IntegerType => Some(false)
        case _ => None
      }
      val idString = fs(1).dataType match {
        case ArrayType(StringType, _) => Some(true)
        case ArrayType(LongType, _) => Some(false)
        case _ => None
      }
      for (p <- posLong; i <- idString) yield (p, i)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (shape.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "token_seq_join requires array<struct<pos:int|bigint, " +
        s"ids:array<bigint|string>>>, got ${child.dataType.simpleString}")

  override def prettyName: String = "token_seq_join"

  @transient private lazy val (posLong, idString) = shape.get

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenSeqJoin(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      posLong, idString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""${ev.value} = graft.plans.TextKernels.tokenSeqJoin(
         |  $in, $posLong, $idString);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextKernels {

  /** Spark's ArrayType ordering for the tie-break above: element-wise
    * compare, then length (shorter prefix sorts first). */
  private def compareIdArrays(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData,
      idString: Boolean): Int = {
    val na = a.numElements(); val nb = b.numElements()
    val m = math.min(na, nb)
    var j = 0
    while (j < m) {
      val c =
        if (idString) a.getUTF8String(j).compareTo(b.getUTF8String(j))
        else java.lang.Long.compare(a.getLong(j), b.getLong(j))
      if (c != 0) return c
      j += 1
    }
    Integer.compare(na, nb)
  }

  /** One-pass sort + flatten + join — see [[TokenSeqJoin]]. */
  def tokenSeqJoin(
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      posLong: Boolean,
      idString: Boolean): InternalRow = {
    val n = arr.numElements()
    val pos = new Array[Long](n)
    val ids = new Array[org.apache.spark.sql.catalyst.util.ArrayData](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 2)
      pos(i) = if (posLong) r.getLong(0) else r.getInt(0).toLong
      ids(i) = r.getArray(1)
      i += 1
    }
    // full-struct ordering (= array_sort over struct(pos, ids)): pos,
    // then the ids array element-wise with shorter-prefix-first — so
    // duplicate positions still reassemble deterministically
    val order = Array.range(0, n).sortWith { (x, y) =>
      if (pos(x) != pos(y)) pos(x) < pos(y)
      else compareIdArrays(ids(x), ids(y), idString) < 0
    }
    val sb = new java.lang.StringBuilder(n * 8)
    var cnt = 0L
    var o = 0
    while (o < n) {
      val a = ids(order(o))
      val m = a.numElements()
      var j = 0
      while (j < m) {
        if (cnt > 0L) sb.append(',')
        if (idString) sb.append(a.getUTF8String(j).toString)
        else sb.append(a.getLong(j))
        cnt += 1L
        j += 1
      }
      o += 1
    }
    InternalRow(cnt, UTF8String.fromString(sb.toString))
  }

  /** Longest vocab-entry CONTENT length in code points (`##` stripped)
    * — the greedy lookback bound. */
  def wpMaxSub(vocab: Array[String]): Int = {
    var m = 1
    var i = 0
    while (i < vocab.length) {
      val v = vocab(i)
      val content = if (v.startsWith("##")) v.substring(2) else v
      val n = content.codePointCount(0, content.length)
      if (n > m) m = n
      i += 1
    }
    m
  }

  /** Greedy longest-match-first WordPiece loop — see
    * [[WordPieceEncode]] for the contract. */
  def wordPieceEncode(word: UTF8String, vocab: java.util.HashSet[String],
      maxSub: Int, unk: UTF8String): GenericArrayData = {
    val cps = word.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](4)
    var pos = 0
    while (pos < n) {
      var l = math.min(maxSub, n - pos)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val sub = new String(cps, pos, l)
        val cand = if (pos == 0) sub else "##" + sub
        if (vocab.contains(cand)) hit = cand else l -= 1
      }
      if (hit == null)
        return new GenericArrayData(Array[Any](unk))
      out.add(UTF8String.fromString(hit))
      pos += l
    }
    new GenericArrayData(out.toArray)
  }

  @inline private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') || (c >= '[' && c <= '`') ||
      (c >= '{' && c <= '~')

  /** One-pass Viterbi DP + backtrace over code points — see
    * [[UnigramSegment]] for the exact tie/score contract it replicates.
    */
  def unigramSegment(word: UTF8String, m: MapData, maxLen: Int,
      unkScore: Long, neg: Long): GenericArrayData = {
    val cps = word.toString.codePoints().toArray
    val n = cps.length
    val nm = m.numElements()
    val keys = m.keyArray()
    val vals = m.valueArray()
    val scores = new java.util.HashMap[String, java.lang.Long](nm * 2)
    var e = 0
    while (e < nm) {
      scores.put(keys.getUTF8String(e).toString, vals.getLong(e))
      e += 1
    }
    val s = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var bestS = 0L
      var bestBp = -1
      var found = false
      var k = math.min(maxLen, j)
      while (k >= 1) {
        val i = j - k
        val pv = scores.get(new String(cps, i, k))
        val sv = s(i) +
          (if (pv != null) pv.longValue
           else if (k == 1) unkScore
           else neg)
        if (!found || sv > bestS) { bestS = sv; bestBp = i; found = true }
        k -= 1
      }
      s(j) = bestS
      bp(j) = bestBp
      j += 1
    }
    val pieces = new Array[Any](n) // ≥ actual piece count; trimmed below
    var cnt = 0
    var jj = n
    while (jj > 0) {
      val b = bp(jj)
      pieces(cnt) = UTF8String.fromString(new String(cps, b, jj - b))
      cnt += 1
      jj = b
    }
    val out = new Array[Any](cnt)
    var o = 0
    while (o < cnt) { out(o) = pieces(cnt - 1 - o); o += 1 }
    new GenericArrayData(out)
  }

  def nfcNormalize(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  def tokenStats(input: UTF8String, stopSet: java.util.HashSet[String]): InternalRow = {
    val s = input.toString
    var nTokens = 0L
    var punct = 0L
    var stop = 0L
    var i = 0
    val n = s.length
    val sb = new java.lang.StringBuilder(16)
    while (i <= n) {
      val atEnd = i == n
      val c = if (atEnd) ' ' else s.charAt(i)
      if (atEnd || isSpace(c)) {
        if (sb.length() > 0) {
          nTokens += 1
          if (stopSet.contains(sb.toString)) stop += 1
          sb.setLength(0)
        }
      } else {
        if (isPunct(c)) punct += 1
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      }
      i += 1
    }
    InternalRow(nTokens, punct, stop)
  }

  def bpeTokens(input: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    // Unicode lowercase — bit-identical to Spark's lower()
    val s = input.toLowerCase.toString
    val out = new java.util.ArrayList[Any](32)
    val len = s.length
    @inline def isAlpha(c: Char) = c >= 'a' && c <= 'z'
    @inline def isDigit(c: Char) = c >= '0' && c <= '9'
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (isAlpha(c)) {
        val start = i
        while (i < len && isAlpha(s.charAt(i))) i += 1
        // one optional '[a-z]+ group, greedy — exactly [a-z]+(?:'[a-z]+)?
        if (i + 1 < len && s.charAt(i) == '\'' && isAlpha(s.charAt(i + 1))) {
          i += 1
          while (i < len && isAlpha(s.charAt(i))) i += 1
        }
        out.add(UTF8String.fromString(s.substring(start, i)))
      } else if (isDigit(c)) {
        val start = i
        while (i < len && isDigit(s.charAt(i))) i += 1
        out.add(UTF8String.fromString(s.substring(start, i)))
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** The GPT-2 class of a code point: 0 = letter (`\p{L}`), 1 = numeric
    * (`\p{N}` — Nd/Nl/No, wider than isDigit), 2 = whitespace (Unicode
    * White_Space: 09–0D, 85, and category Z — NOT Java isWhitespace,
    * which adds 1C–1F and drops the no-break spaces), 3 = other. */
  private def gpt2Cls(cp: Int): Int =
    if (Character.isLetter(cp)) 0
    else {
      val t = Character.getType(cp)
      if (t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
          t == Character.OTHER_NUMBER) 1
      else if (isGpt2Ws(cp)) 2
      else 3
    }

  @inline private def isGpt2Ws(cp: Int): Boolean =
    (cp >= 0x09 && cp <= 0x0D) || cp == 0x85 || {
      val t = Character.getType(cp)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
    }

  /** End (char offset) of the maximal same-class run starting at `start`
    * (class per [[gpt2Cls]]; never called on whitespace). */
  private def gpt2RunEnd(s: String, start: Int, len: Int): Int = {
    val cls = gpt2Cls(s.codePointAt(start))
    var i = start + Character.charCount(s.codePointAt(start))
    while (i < len && gpt2Cls(s.codePointAt(i)) == cls)
      i += Character.charCount(s.codePointAt(i))
    i
  }

  /** Contraction length at an apostrophe: 2 for 's|'t|'m|'d, 3 for
    * 're|'ve|'ll, 0 otherwise — lowercase only, first letters disjoint
    * between the two groups so alternation order is irrelevant. Caller
    * guarantees i+1 < len. */
  private def gpt2ContractionLen(s: String, i: Int): Int = {
    val n1 = s.charAt(i + 1)
    if (n1 == 's' || n1 == 't' || n1 == 'm' || n1 == 'd') 2
    else if (i + 2 < s.length) {
      val n2 = s.charAt(i + 2)
      if ((n1 == 'r' && n2 == 'e') || (n1 == 'v' && n2 == 'e') ||
          (n1 == 'l' && n2 == 'l')) 3
      else 0
    } else 0
  }

  /** Exact GPT-2 pre-tokenization — a partition of the input into the
    * regex scan's tokens, WITHOUT regex machinery. The one construct RE2
    * and a naive scanner can't express, `\s+(?!\S)`, resolves to a local
    * rule: a maximal whitespace run followed by a non-space keeps its
    * last code point OUT of the run (`\s+(?!\S)` greedily matches
    * run-minus-last, whose lookahead sees whitespace); that last char
    * then attaches to the following class run when it is a literal
    * space (the ` ?` prefixes), or stands alone otherwise (bare `\s+`);
    * a run at end-of-string is one whole token. Contractions match only
    * at a scan position — never mid letter/punct run ("!!!'s" → !!!' | s)
    * — lowercase only, no trailing boundary ("don'thing" → don | 't |
    * hing), all faithful GPT-2 quirks.
    */
  def gpt2Pretokens(input: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = input.toString
    val len = s.length
    val out = new java.util.ArrayList[Any](32)
    @inline def emit(a: Int, b: Int): Unit =
      out.add(UTF8String.fromString(s.substring(a, b)))
    var i = 0
    while (i < len) {
      val c = s.codePointAt(i)
      val clen = if (c == '\'' && i + 1 < len) gpt2ContractionLen(s, i) else 0
      if (clen > 0) { emit(i, i + clen); i += clen }
      else if (isGpt2Ws(c)) {
        var j = i; var last = i
        while (j < len && isGpt2Ws(s.codePointAt(j))) {
          last = j; j += Character.charCount(s.codePointAt(j))
        }
        if (j == len) { emit(i, j); i = j }
        else {
          if (last > i) emit(i, last)
          if (s.charAt(last) == ' ') { i = gpt2RunEnd(s, j, len); emit(last, i) }
          else { emit(last, j); i = j }
        }
      } else {
        val e = gpt2RunEnd(s, i, len)
        emit(i, e); i = e
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  def wordShingles(input: UTF8String, n: Int, distinct: Boolean)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    // Unicode lowercase on the UTF8String — bit-identical to Spark's lower()
    val s = input.toLowerCase.toString
    val tokens = new java.util.ArrayList[String](32)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val len = s.length
    while (i <= len) {
      val atEnd = i == len
      val c = if (atEnd) ' ' else s.charAt(i)
      if (atEnd || isSpace(c)) {
        if (sb.length() > 0) { tokens.add(sb.toString); sb.setLength(0) }
      } else sb.append(c)
      i += 1
    }
    val m = tokens.size - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // LinkedHashSet when deduping (first-occurrence order), ArrayList when
    // multiplicities matter (n-gram LM counting needs every occurrence)
    val seen: java.util.Collection[String] =
      if (distinct) new java.util.LinkedHashSet[String](m * 2)
      else new java.util.ArrayList[String](m)
    var j = 0
    while (j < m) {
      val shB = new java.lang.StringBuilder(32)
      var k = 0
      while (k < n) {
        if (k > 0) shB.append(' ')
        shB.append(tokens.get(j + k))
        k += 1
      }
      seen.add(shB.toString)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def wordSegments(input: UTF8String, n: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = input.toLowerCase.toString
    val tokens = new java.util.ArrayList[String](32)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val len = s.length
    while (i <= len) {
      val atEnd = i == len
      val c = if (atEnd) ' ' else s.charAt(i)
      if (atEnd || isSpace(c)) {
        if (sb.length() > 0) { tokens.add(sb.toString); sb.setLength(0) }
      } else sb.append(c)
      i += 1
    }
    val nTok = tokens.size
    if (nTok == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val nSeg = (nTok + n - 1) / n
    val out = new Array[Any](nSeg)
    var j = 0
    while (j < nSeg) {
      val from = j * n
      val until = math.min(from + n, nTok)
      val segB = new java.lang.StringBuilder(32)
      var k = from
      while (k < until) {
        if (k > from) segB.append(' ')
        segB.append(tokens.get(k))
        k += 1
      }
      out(j) = UTF8String.fromString(segB.toString)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def langHits(input: UTF8String, sets: Array[java.util.HashSet[String]]): InternalRow = {
    val s = input.toString
    val hits = new Array[Long](sets.length)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = s.length
    while (i <= n) {
      val atEnd = i == n
      val c = if (atEnd) ' ' else s.charAt(i)
      if (atEnd || isSpace(c)) {
        if (sb.length() > 0) {
          val tok = sb.toString
          var j = 0
          while (j < sets.length) {
            if (sets(j).contains(tok)) hits(j) += 1
            j += 1
          }
          sb.setLength(0)
        }
      } else {
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      }
      i += 1
    }
    InternalRow(hits.map(Long.box): _*)
  }
}

object TextExpressions {
  def tokenStats(text: Column, stopwords: Seq[String]): Column =
    Bridge.column(TokenStats(Bridge.expression(text), stopwords))

  /** Column API for [[NfcNormalize]] — Unicode NFC canonical composition. */
  def nfcNormalize(text: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(text)))

  def langHits(text: Column, langs: Seq[(String, Seq[String])]): Column =
    Bridge.column(LangHits(Bridge.expression(text), langs))

  def wordShingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))

  /** All n-gram occurrences (no dedup) — for counting, e.g. bigram LMs. */
  def wordShinglesAll(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n, distinct = false))

  /** Consecutive n-token segments incl. the partial tail — see [[WordSegments]]. */
  def wordSegments(text: Column, n: Int): Column =
    Bridge.column(WordSegments(Bridge.expression(text), n))

  def bpeTokens(text: Column): Column =
    Bridge.column(RegexTokens(Bridge.expression(text)))

  /** Column API for [[Gpt2Pretokens]] — the exact GPT-2 pre-tokenizer. */
  def gpt2Pretokens(text: Column): Column =
    Bridge.column(Gpt2Pretokens(Bridge.expression(text)))

  /** Column API for [[UnigramSegment]]. */
  def unigramSegment(word: Column, scores: Column, maxLen: Int,
      unkScore: Long, neg: Long): Column =
    Bridge.column(UnigramSegment(Bridge.expression(word),
      Bridge.expression(scores), maxLen, unkScore, neg))

  /** Column API for [[WordPieceEncode]]. */
  def wordPieceEncode(word: Column, vocab: Array[String], unk: String): Column =
    Bridge.column(WordPieceEncode(Bridge.expression(word), vocab, unk))

  /** Column API for [[TokenSeqJoin]]. */
  def tokenSeqJoin(toks: Column): Column =
    Bridge.column(TokenSeqJoin(Bridge.expression(toks)))
}
