package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass-per-stage HTML block segmentation.
  *
  * The declarative regex chain (the test-side reference
  * `graft.plans.References.blocksRegex`, compared with this kernel by
  * `HtmlKernelSpec`) is ~17 regex passes per
  * block (3 non-content strips, the block split, a tag strip + 6 entity
  * replaces + whitespace collapse per block, and the SAME clean chain again
  * per extracted link) — measured ~25 µs/page and the dominant cost of the
  * composed curation pipeline at the sf10 decade. This kernel computes the
  * identical result in a handful of character scans with zero regex: strip
  * comments/script/style (three substring scans), split at block tags (one
  * scan with a tag-name set probe), then per block one scan each for tag
  * strip, entity unescape and whitespace collapse, plus the link-anchor
  * walk.
  *
  * Semantics are BIT-EXACT with the regex formulation (the DuckDB oracle
  * replays those regexes, so any divergence fails the gates):
  *  - non-greedy spans: `<!--.*?-->` / `(?is)<script\b[^>]*>.*?</script>`
  *    = nearest closer; an unclosed opener matches nothing and stays;
  *    failed opener positions re-scan from the next character exactly like
  *    the backtracking engine.
  *  - `\b` after a tag name = next char outside Java `\w` ([A-Za-z0-9_]);
  *    the block alternation + `\b` ⇔ the maximal word run equals a block
  *    tag (any strict prefix fails the boundary).
  *  - the 6 entity replaces collapse to ONE scan: no two entity literals
  *    share a start (`&l/&g/&q/&#/&n/&a` disambiguate at char 2), matches
  *    are disjoint in the original, and no replacement char (`< > " ' ` or
  *    space) can create or destroy a later pattern — `&amp;` (the only
  *    producer of `&`) is last, preserving one-level double-unescape.
  *  - split keeps leading/interior/trailing empty segments (Java
  *    `Pattern.split` with limit −1, Spark's `split` semantics).
  *  - lengths count CODE POINTS (Spark `length` = `UTF8String.numChars`).
  */
object HtmlKernels {

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  private def isWs(c: Char): Boolean = // Java regex \s (ASCII-only)
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'

  private def indexOfIgnoreCase(s: String, pat: String, from: Int): Int = {
    var i = math.max(from, 0)
    val limit = s.length - pat.length
    while (i <= limit) {
      if (s.regionMatches(true, i, pat, 0, pat.length)) return i
      i += 1
    }
    -1
  }

  /** `(?s)<!--.*?-->` global replace with one space. */
  private def stripComments(s: String): String = {
    val first = s.indexOf("<!--")
    if (first < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var st = first
    while (st >= 0) {
      val en = s.indexOf("-->", st + 4)
      if (en < 0) { sb.append(s, i, s.length); return sb.toString }
      sb.append(s, i, st).append(' ')
      i = en + 3
      st = s.indexOf("<!--", i)
    }
    sb.append(s, i, s.length)
    sb.toString
  }

  /** `(?is)<name\b[^>]*>.*?</name>` global replace with one space. */
  private def stripElement(s: String, name: String): String = {
    val open = "<" + name
    val close = "</" + name + ">"
    var st = indexOfIgnoreCase(s, open, 0)
    if (st < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (st >= 0) {
      var replaced = false
      val j = st + open.length
      if (j >= s.length || !isWordChar(s.charAt(j))) { // \b
        var k = j
        while (k < s.length && s.charAt(k) != '>') k += 1
        if (k < s.length) { // [^>]*> closed
          val en = indexOfIgnoreCase(s, close, k + 1)
          if (en >= 0) {
            sb.append(s, i, st).append(' ')
            i = en + close.length
            replaced = true
          }
        }
      }
      // a failed opener is literal text; the engine re-tries from st+1
      st = indexOfIgnoreCase(s, open, if (replaced) i else st + 1)
    }
    sb.append(s, i, s.length)
    sb.toString
  }

  def stripNonContent(s: String): String =
    stripElement(stripElement(stripComments(s), "script"), "style")

  private val BlockTagSet: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String](64)
    ("p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
      "section|article|aside|main|header|footer|nav|blockquote|pre|figure|" +
      "figcaption|br|hr|form|fieldset|title|head|body|html")
      .split('|').foreach(set.add)
    set
  }

  /** Split at `(?i)</?(?:BLOCK_TAGS)\b[^>]*>` — Java split, limit −1. */
  def splitBlocks(s: String): Array[String] = {
    val parts = new scala.collection.mutable.ArrayBuffer[String](16)
    var segStart = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '<') {
        var j = i + 1
        if (j < s.length && s.charAt(j) == '/') j += 1
        var k = j
        while (k < s.length && isWordChar(s.charAt(k))) k += 1
        var advanced = false
        if (k > j &&
            BlockTagSet.contains(s.substring(j, k).toLowerCase(java.util.Locale.ROOT))) {
          var m = k
          while (m < s.length && s.charAt(m) != '>') m += 1
          if (m < s.length) {
            parts += s.substring(segStart, i)
            segStart = m + 1
            i = m + 1
            advanced = true
          }
        }
        if (!advanced) i += 1
      } else i += 1
    }
    parts += s.substring(segStart)
    parts.toArray
  }

  /** Tag strip (`<[^>]*>` → space), entity unescape, `\s+` collapse, trim. */
  def cleanText(s: String): String = {
    // tags → one space each; a '<' with no later '>' is literal to the end
    val t1 = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        var k = i + 1
        while (k < s.length && s.charAt(k) != '>') k += 1
        if (k < s.length) { t1.append(' '); i = k + 1 }
        else { t1.append(s, i, s.length); i = s.length }
      } else { t1.append(c); i += 1 }
    }
    // entities: one scan ≡ the 6 sequential replaces (see scaladoc)
    val n1 = t1.length
    val t2 = new java.lang.StringBuilder(n1)
    i = 0
    while (i < n1) {
      val c = t1.charAt(i)
      if (c == '&') {
        var rep = '\u0000'
        var len = 0
        if (i + 3 < n1 && t1.charAt(i + 2) == 't' && t1.charAt(i + 3) == ';') {
          if (t1.charAt(i + 1) == 'l') { rep = '<'; len = 4 }
          else if (t1.charAt(i + 1) == 'g') { rep = '>'; len = 4 }
        }
        if (len == 0 && i + 5 < n1) {
          if (t1.charAt(i + 1) == 'q' && t1.charAt(i + 2) == 'u' &&
              t1.charAt(i + 3) == 'o' && t1.charAt(i + 4) == 't' &&
              t1.charAt(i + 5) == ';') { rep = '"'; len = 6 }
          else if (t1.charAt(i + 1) == 'n' && t1.charAt(i + 2) == 'b' &&
              t1.charAt(i + 3) == 's' && t1.charAt(i + 4) == 'p' &&
              t1.charAt(i + 5) == ';') { rep = ' '; len = 6 }
        }
        if (len == 0 && i + 4 < n1) {
          if (t1.charAt(i + 1) == '#' && t1.charAt(i + 2) == '3' &&
              t1.charAt(i + 3) == '9' && t1.charAt(i + 4) == ';') { rep = '\''; len = 5 }
          else if (t1.charAt(i + 1) == 'a' && t1.charAt(i + 2) == 'm' &&
              t1.charAt(i + 3) == 'p' && t1.charAt(i + 4) == ';') { rep = '&'; len = 5 }
        }
        if (len > 0) { t2.append(rep); i += len }
        else { t2.append('&'); i += 1 }
      } else { t2.append(c); i += 1 }
    }
    // \s+ → ' ' with edges dropped (≡ collapse + trim of the single spaces)
    val n2 = t2.length
    val out = new java.lang.StringBuilder(n2)
    var pendingSpace = false
    i = 0
    while (i < n2) {
      val c = t2.charAt(i)
      if (isWs(c)) { if (out.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** Σ code-point lengths of cleaned `(?is)<a\b[^>]*>(.*?)</a>` captures. */
  def linkChars(raw: String): Long = {
    var total = 0L
    var i = 0
    while (i < raw.length) {
      val st = indexOfIgnoreCase(raw, "<a", i)
      if (st < 0) return total
      var advanced = false
      val j = st + 2
      if (j >= raw.length || !isWordChar(raw.charAt(j))) { // \b
        var k = j
        while (k < raw.length && raw.charAt(k) != '>') k += 1
        if (k < raw.length) {
          val en = indexOfIgnoreCase(raw, "</a>", k + 1)
          if (en >= 0) {
            val txt = cleanText(raw.substring(k + 1, en))
            total += txt.codePointCount(0, txt.length)
            i = en + 4
            advanced = true
          }
        }
      }
      if (!advanced) i = st + 1
    }
    total
  }

  /** One row per split segment: `(text, link_chars)`, segment order. */
  def blocks(html: UTF8String): ArrayData = {
    val raws = splitBlocks(stripNonContent(html.toString))
    val out = new Array[Any](raws.length)
    var i = 0
    while (i < raws.length) {
      val raw = raws(i)
      out(i) = InternalRow(UTF8String.fromString(cleanText(raw)), linkChars(raw))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `html_blocks(html)` → `array<struct<text:string, link_chars:bigint>>` —
  * the whole strip/split/clean/link chain as ONE codegen'd kernel call per
  * page (element order = split position, so `posexplode` recovers
  * `block_idx`). See [[HtmlKernels]] for the exact-equivalence argument.
  */
case class HtmlBlocks(child: Expression) extends UnaryExpression {

  override def dataType: DataType = HtmlBlocks.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_blocks requires a string input, got ${child.dataType.simpleString}")

  override def prettyName: String = "html_blocks"

  override def nullSafeEval(input: Any): Any =
    HtmlKernels.blocks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.HtmlKernels.blocks($in);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlBlocks {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("link_chars", LongType, nullable = false))), containsNull = false)
}

object HtmlExpressions {
  def htmlBlocks(html: Column): Column =
    Bridge.column(HtmlBlocks(Bridge.expression(html)))
}
