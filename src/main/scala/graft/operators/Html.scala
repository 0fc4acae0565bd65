package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML boilerplate extraction — the ingest stage BEFORE text_stats /
  * lang_id / dedup in a web-scale curation pipeline (jusText / trafilatura
  * family): strip non-content (comments, script, style), segment the page
  * into blocks at block-level tags, score each block by word count and
  * link density, keep content blocks and drop chrome (nav, share bars,
  * related-links rails, footers).
  *
  * Scale shape: the native [[graft.plans.HtmlBlocks]] kernel cuts and
  * cleans the blocks — a pure scan-side projection + one `posexplode` to
  * block grain, no UDFs, no shuffle until the caller aggregates; at 100 TB
  * the page never leaves the task that scanned it. The kernel is bit-exact
  * with a regex chain (the test-side `graft.plans.References.blocksRegex`)
  * whose every operation has an exact DuckDB equivalent (same
  * RE2-compatible patterns, same replace chains), so the whole pipeline is
  * oracle-checkable; [[graft.SparkEntry]] gates it with
  * q_html_extract (block grain) and q_html_clean (doc grain, composed
  * with token stats + a QualityFilter decision).
  */
object Html {

  /** Tags treated as block separators (block-level + document structure —
    * title/head/body so head remnants can't merge into content).
    */
  val BlockTags: String =
    "p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|section|" +
      "article|aside|main|header|footer|nav|blockquote|pre|figure|" +
      "figcaption|br|hr|form|fieldset|title|head|body|html"

  val BlockSplitRe: String = s"(?i)</?(?:$BlockTags)\\b[^>]*>"

  val LinkRe: String = "(?is)<a\\b[^>]*>(.*?)</a>"

  /** Segment pre-stripped-and-split blocks with per-block signals and the
    * keep decision. Output grain: one row per non-empty block —
    * `(id, block_idx, text, n_chars, n_words, link_chars, link_density,
    * kept)`. `block_idx` is the block's ORIGINAL split position, so
    * downstream joins stay stable however thresholds move.
    */
  def blocks(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      minWords: Int = 5,
      maxLinkDensity: Double = 0.33): DataFrame =
    signals(
      df.select(col(idCol),
          posexplode(graft.plans.HtmlExpressions.htmlBlocks(col(htmlCol)))
            .as(Seq("block_idx", "_b")))
        .select(col(idCol), col("block_idx"),
          col("_b.text").as("text"), col("_b.link_chars").as("link_chars")),
      minWords, maxLinkDensity)

  /** Per-block signals + keep decision over `(.., block_idx, text,
    * link_chars)` rows — shared by the kernel path and its test-side regex
    * reference, `graft.plans.References.blocksRegex`.
    */
  private[graft] def signals(b: DataFrame, minWords: Int, maxLinkDensity: Double): DataFrame =
    b.withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_words",
        when(col("text") === "", lit(0L))
          .otherwise(size(split(col("text"), " ")).cast("long")))
      .withColumn("link_density",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("link_chars").cast("double") / col("n_chars")))
      .withColumn("kept",
        col("n_words") >= minWords && col("link_density") <= maxLinkDensity)
      .where(col("n_chars") > 0)

  /** Document-grain extraction: kept blocks joined in block order, with the
    * kept/dropped tallies a curation report wants. Documents whose every
    * block is boilerplate disappear (nothing to keep).
    */
  def extractText(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      minWords: Int = 5,
      maxLinkDensity: Double = 0.33): DataFrame = {
    val b = blocks(df, idCol, htmlCol, minWords, maxLinkDensity)
    b.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("block_idx"), col("text"))))),
            x => x.getField("text")),
          " ").as("text"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_blocks_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_blocks_dropped"))
      .where(col("n_blocks_kept") > 0)
  }

  // ---- deterministic page synthesis (gate corpus) ------------------------

  /** A realistic page wrapped around a document's text, built in-plan:
    * head with title/style/script, comment, nav with links (an extra item
    * on even ids), article with heading + two content paragraphs (one
    * carrying an inline citation link), share bar, related-links aside,
    * entity-laden footer. Deterministic per (id, text) and replicated
    * verbatim by the q_html_extract oracle CTE.
    */
  def synthesizePage(docId: Column, text: Column): Column = {
    val id = docId.cast("string")
    val half = floor(length(text) / 2).cast("int")
    val p1 = text.substr(lit(1), half)
    val p2 = text.substr(half + 1, length(text))
    concat(
      lit("<!DOCTYPE html><html><head><title>Document "), id,
      lit("</title><style>body{margin:0} .hidden{display:none}</style>" +
        "<script type=\"text/javascript\">var t = 1; if (t < 2) { t = 3; }" +
        "</script></head><body><!-- rendered by engine v1."),
      (docId % 7).cast("string"),
      lit(" --><header><nav><ul><li><a href=\"/\">Home</a></li>" +
        "<li><a href=\"/news\">Latest news</a></li>" +
        "<li><a href=\"/archive?y=2024\">Archive 2024</a></li>"),
      when(docId % 2 === 0,
        lit("<li><a href=\"/extra\">Extra section</a></li>")).otherwise(lit("")),
      lit("</ul></nav></header><article><h1>Document "), id,
      lit("</h1><p>"), p1,
      lit(" see <a href=\"/ref?d="), id, lit("\">reference "), id,
      lit("</a></p><p>"), p2,
      lit("</p><div class=\"share\"><a href=\"#\">Share</a> " +
        "<a href=\"#\">Tweet</a> <a href=\"#\">Pin</a></div>" +
        "<aside><ul><li><a href=\"/rel?p=1\">Related one</a></li>" +
        "<li><a href=\"/rel?p=2\">Related two</a></li></ul></aside>" +
        "</article><footer><p>&copy; 2024 Example Corp &amp; Partners " +
        "&mdash; <a href=\"/about\">About us</a> " +
        "<a href=\"/tos\">Terms &amp; conditions</a></p></footer>" +
        "</body></html>"))
  }

  // ---- DuckDB oracle fragments (exact replicas of the regex reference) ---

  /** DuckDB page construction — same concat as [[synthesizePage]]. */
  val SynthesizePageSql: String =
    """htmlp AS (SELECT doc_id,
      |  '<!DOCTYPE html><html><head><title>Document ' ||
      |  cast(doc_id AS varchar) ||
      |  '</title><style>body{margin:0} .hidden{display:none}</style>' ||
      |  '<script type="text/javascript">var t = 1; if (t < 2) { t = 3; }' ||
      |  '</script></head><body><!-- rendered by engine v1.' ||
      |  cast(doc_id % 7 AS varchar) ||
      |  ' --><header><nav><ul><li><a href="/">Home</a></li>' ||
      |  '<li><a href="/news">Latest news</a></li>' ||
      |  '<li><a href="/archive?y=2024">Archive 2024</a></li>' ||
      |  CASE WHEN doc_id % 2 = 0
      |    THEN '<li><a href="/extra">Extra section</a></li>' ELSE '' END ||
      |  '</ul></nav></header><article><h1>Document ' ||
      |  cast(doc_id AS varchar) ||
      |  '</h1><p>' || substring(text, 1, cast(floor(length(text) / 2) AS int)) ||
      |  ' see <a href="/ref?d=' || cast(doc_id AS varchar) ||
      |  '">reference ' || cast(doc_id AS varchar) ||
      |  '</a></p><p>' ||
      |  substring(text, cast(floor(length(text) / 2) AS int) + 1, length(text)) ||
      |  '</p><div class="share"><a href="#">Share</a> ' ||
      |  '<a href="#">Tweet</a> <a href="#">Pin</a></div>' ||
      |  '<aside><ul><li><a href="/rel?p=1">Related one</a></li>' ||
      |  '<li><a href="/rel?p=2">Related two</a></li></ul></aside>' ||
      |  '</article><footer><p>&copy; 2024 Example Corp &amp; Partners ' ||
      |  '&mdash; <a href="/about">About us</a> ' ||
      |  '<a href="/tos">Terms &amp; conditions</a></p></footer>' ||
      |  '</body></html>' AS html
      |FROM documents)""".stripMargin

  def unescapeEntitiesSql(x: String): String =
    s"replace(replace(replace(replace(replace(replace($x, " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)), '&#39;', chr(39)), " +
      "'&nbsp;', ' '), '&amp;', '&')"

  def cleanTextSql(x: String): String =
    "trim(regexp_replace(" +
      unescapeEntitiesSql(s"regexp_replace($x, '<[^>]*>', ' ', 'g')") +
      ", '\\s+', ' ', 'g'))"

  /** Block-grain oracle core: CTEs `cleaned`, `blocks`, `bm` with the same
    * signals and keep rule as [[blocks]] (thresholds inlined).
    */
  def blocksCoreSql(minWords: Int = 5, maxLinkDensity: Double = 0.33): String =
    s"""cleaned AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
       |    '(?s)<!--.*?-->', ' ', 'g'),
       |    '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |    '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS h FROM htmlp),
       |bl0 AS (SELECT doc_id,
       |    string_split_regex(h, '$BlockSplitRe') AS bl FROM cleaned),
       |bl1 AS (SELECT doc_id, i - 1 AS block_idx, bl[i] AS raw
       |  FROM bl0 CROSS JOIN unnest(generate_series(1, len(bl))) AS u(i)),
       |bf AS (SELECT doc_id, block_idx,
       |    ${cleanTextSql("raw")} AS btext,
       |    list_transform(regexp_extract_all(raw, '$LinkRe', 1),
       |      x -> cast(length(${cleanTextSql("x")}) AS bigint)) AS lks
       |  FROM bl1),
       |bm AS (SELECT doc_id, cast(block_idx AS bigint) AS block_idx, btext,
       |    cast(length(btext) AS bigint) AS n_chars,
       |    cast(CASE WHEN btext = '' THEN 0
       |      ELSE len(string_split(btext, ' ')) END AS bigint) AS n_words,
       |    list_reduce(list_prepend(cast(0 AS bigint), lks), (a, x) -> a + x)
       |      AS link_chars,
       |    CASE WHEN length(btext) = 0 THEN 0.0
       |      ELSE cast(list_reduce(list_prepend(cast(0 AS bigint), lks),
       |        (a, x) -> a + x) AS double) / length(btext) END AS link_density
       |  FROM bf),
       |bk AS (SELECT *, (n_words >= $minWords AND link_density <= $maxLinkDensity)
       |    AS kept
       |  FROM bm WHERE n_chars > 0)""".stripMargin
}
