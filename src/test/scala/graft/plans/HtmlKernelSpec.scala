package graft.plans

import graft.{SparkEntry, SparkSpec}
import graft.operators.Html
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential spec for the [[HtmlBlocks]] kernel: `Html.blocks` must
  * equal its regex reference ([[References.blocksRegex]], the chain the
  * q_html_extract DuckDB oracle replays) row for row on every block
  * column, as multisets (EXCEPT ALL both ways).
  */
class HtmlKernelSpec extends SparkSpec {
  import spark.implicits._

  private def assertSameBlocks(pages: DataFrame): Long = {
    val native = Html.blocks(pages, "doc_id", "html")
    val regex = References.blocksRegex(pages, "doc_id", "html")
    assert(native.columns.toSeq == regex.columns.toSeq)
    val onlyNative = native.exceptAll(regex).collect()
    val onlyRegex = regex.exceptAll(native).collect()
    assert(onlyNative.isEmpty && onlyRegex.isEmpty,
      s"kernel-only rows:\n${onlyNative.mkString("\n")}\n" +
        s"regex-only rows:\n${onlyRegex.mkString("\n")}")
    native.count()
  }

  test("HtmlBlocks == the regex reference on synthesized sf0.001 pages") {
    val pages = Tables.documents(spark, SparkEntry.SmokeDir)
      .select(col("doc_id"), Html.synthesizePage(col("doc_id"), col("text")).as("html"))
    assert(assertSameBlocks(pages) > 0)
  }

  test("HtmlBlocks == the regex reference on hostile fragments") {
    val hostile = Seq(
      "<P>Upper case PARAGRAPH</P><DIV CLASS=x>Second &AMP; block</DIV><Br/>tail",
      "<p>open paragraph <a href='x'>dangling link <div>next block",
      "<p unclosed attr=\"x\" text after the broken tag",
      "<p>before</p><!-- never closed <p>after</p>",
      "<!----><p>empty comment</p><!-- a --><p>mid</p><!-- b -->end",
      "<p>a</p><script>var s = '<p>'; <p>tail</p>",
      "<p>a</p><SCRIPT type=x>upper</SCRIPT><scriptx>not a script</scriptx>",
      "<style>p { color: red }<p>unterminated style</p>",
      "<p>&amp;lt;b&amp;gt; &amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b &copy;</p>",
      "<p><a href=1>outer <a href=2>inner</a> tail</a> after</p>",
      "<p><a>one</a><A HREF=2>TWO</A><a\nhref=3>three\nlines</a></p>",
      "<p>naïve café — 日本語 テキスト 😀 emoji</p><li>Ünïcode <a>lïnk 😀</a></li>",
      "<h7>not a block tag</h7><pre\n>newline in tag</pre><hr><br/><p></p>",
      "\t\n  <p>  no-break space </p>  <td>cell</td>",
      "<a title='x>y'>attribute with a bracket</a><p>>stray > and < </p>",
      "plain text with no tags at all",
      "",
      null)
    val pages = hostile.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "html")
    assert(assertSameBlocks(pages) > 0)
  }
}
