package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Html extraction: entity round trips, script/style/comment stripping,
  * and the byte-identity invariant over adversarial markup. */
class HtmlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("html-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def extract1(html: String): String = {
    import spark.implicits._
    Seq(html).toDF("h")
      .select(Html.extractText(encode(col("h"), "UTF-8")).as("x"))
      .head().getString(0)
  }

  test("escape/unescape round-trips entity-rich text, including pre-escaped sequences") {
    import spark.implicits._
    val tricky = Seq(
      """plain words""",
      """a < b & c > d "quoted" 'apos'""",
      """already &amp;lt; escaped &quot; once""", // must NOT double-decode
      """&&&<<<>>>""",
      """trailing &""")
    val out = tricky.toDF("t")
      .select(col("t"),
        Html.unescapeEntities(Html.escapeEntities(col("t"))).as("rt"))
      .collect()
    out.foreach(r => assert(r.getString(1) == r.getString(0),
      s"round trip broke: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("extractText strips script/style with contents, comments, tags; decodes entities") {
    val html =
      """<html><head><TITLE>T &amp; t</TITLE>
        |<style type="text/css">body { x: ">" }
        |p { }</style></head>
        |<body id="b"><SCRIPT src="x.js">if (a < b && c > d) { f(); }</SCRIPT>
        |<p>alpha &lt;beta&gt;</p><!-- note: <p>not text</p> --><div>gamma</div>
        |</body></html>""".stripMargin
    // multiline script/style bodies removed ((?s)), case-insensitive tags,
    // comment containing markup removed whole
    assert(extract1(html) == "\nalpha <beta>gamma\n")
  }

  test("only the body contributes; title/head text never leaks into the extraction") {
    val html = "<html><head><title>HEADLINE</title></head>" +
      "<body><b>x</b> y</body></html>"
    assert(extract1(html) == "x y")
    import spark.implicits._
    val t = Seq(html).toDF("h")
      .select(Html.titleOf(encode(col("h"), "UTF-8"))).head().getString(0)
    assert(t == "HEADLINE")
  }

  test("greedy body match: inner '</body>' text survives to the last close") {
    val html = "<body>first</body><body>second</body>"
    assert(extract1(html) == "firstsecond")
  }

  test("extractTextNormalized collapses whitespace runs and trims") {
    import spark.implicits._
    val html = "<body>  a \n\n b\t c  </body>"
    val x = Seq(html).toDF("h")
      .select(Html.extractTextNormalized(encode(col("h"), "UTF-8")))
      .head().getString(0)
    assert(x == "a b c")
  }

  test("byte-identity invariant: escape-wrap then extract is the identity on fixture pages") {
    val p = graft.fixtures.Pages.htmlPages(spark, graft.TestData.sf("0.001"))
    val bad = p.select(
        (md5(Html.extractText(col("html"))) === md5(col("text"))).as("ok"))
      .where(!col("ok")).count()
    assert(bad == 0L)
  }
}
