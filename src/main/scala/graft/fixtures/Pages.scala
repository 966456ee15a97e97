package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import graft.spark.expressions.TrailingDigits

/** The Common-Crawl-style web-page table of the north star:
  * `pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)`
  * synthesized deterministically from the driver's `documents` parquet (no
  * external data). Every derivation has a DuckDB twin so page-pipeline
  * queries verify row-for-row.
  *
  * GEOTAG: pages are geotagged from page METADATA — the numeric page id is
  * parsed back out of the url path and mapped to planar coordinates by
  * closed-form arithmetic (a stand-in for a real geo-IP / metadata lookup
  * that an oracle can reproduce exactly). Both engines parse the SAME url
  * string, so the geotag provably derives from the page row itself.
  */
object Pages {

  /** The page table. url embeds the doc id (last path segment); html wraps
    * the text in deterministic markup; warc_ts is a fixed epoch + id stride. */
  def pages(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        concat(lit("https://host"), (col("doc_id") % 97).cast("string"),
               lit(".example.org/doc/"), col("doc_id").cast("string")).as("url"),
        to_timestamp(lit(1600000000L) + col("doc_id") * 137L).as("warc_ts"),
        encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")),
               "UTF-8").as("html"),
        col("text"),
        col("lang"))

  /** DuckDB twin of pages(). */
  // NB: no line may START with "||" — these strings are re-embedded in
  // outer .stripMargin blocks, which would eat the leading pipes.
  val pagesSql: String =
    """SELECT concat('https://host', CAST(doc_id % 97 AS VARCHAR),
      |  '.example.org/doc/', CAST(doc_id AS VARCHAR)) AS url,
      |  to_timestamp(1600000000 + doc_id * 137) AS warc_ts,
      |  encode(concat('<html><body>', text, '</body></html>')) AS html,
      |  text, lang
      |FROM documents""".stripMargin

  /** Bench-scale page table: `replicas` deterministic variants per document
    * (distinct page id ⇒ distinct url/coords), text/html bytes kept real so
    * byte-fidelity-at-scale flows through the measured pipeline. Row count =
    * |documents| × replicas.
    *
    * Parallelism comes from `spark.range` (evenly split across cores), NOT
    * from the parquet scan — a small documents file is one scan split, which
    * would serialize the whole pipeline; instead the big side is generated
    * pre-partitioned and the small documents side broadcast-joins onto it
    * (zero shuffle of the wide rows). */
  def pagesScaled(spark: SparkSession, dir: String, replicas: Int): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val nDocs = docs.count()
    spark.range(nDocs * replicas).toDF("pid")
      .withColumn("doc_id", col("pid") % nDocs)
      .join(broadcast(docs), "doc_id")
      .select(
        concat(lit("https://host"), (col("pid") % 97).cast("string"),
               lit(".example.org/doc/"), col("pid").cast("string")).as("url"),
        to_timestamp(lit(1600000000L) + col("pid") * 137L).as("warc_ts"),
        encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")),
               "UTF-8").as("html"),
        col("text"),
        col("lang"))
  }

  /** Pages with REALISTIC markup — head/title, script + style elements,
    * comments inside and outside the body, attributes, and entity-escaped
    * body text around an injected entity-rich segment. The `text` column
    * holds the enriched plain text; `html` holds its marked-up bytes, so
    * `Html.extractText(html) == text` byte-for-byte — the checkable form
    * of the north star's byte-identity invariant (q77). */
  def htmlPages(spark: SparkSession, dir: String): DataFrame = {
    val idStr = col("doc_id").cast("string")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"), lit(" x<y & \"q\" 'z'")).as("text"))
      .select(col("doc_id"), col("text"),
        encode(concat(
          lit("<html lang=\"en\"><!-- id:"), idStr, lit(" --><head><title>Doc "),
          idStr, lit(" &amp; friends</title><script type=\"text/javascript\">var id="),
          idStr, lit(";</script><style>p { color: #333; }</style></head><body class=\"doc\"><p>"),
          graft.text.Html.escapeEntities(col("text")),
          lit("</p><!-- footer:"), idStr, lit(" --><script>track("), idStr,
          lit(");</script></body></html>")), "UTF-8").as("html"))
  }

  /** DuckDB twin of htmlPages() (html as VARCHAR — md5 hashes the same
    * UTF-8 bytes either way). */
  val htmlPagesSql: String = {
    val enriched = "text || ' x<y & \"q\" ' || chr(39) || 'z' || chr(39)"
    val esc = graft.text.Html.escapeEntitiesSql("text")
    s"""SELECT doc_id, text,
       |  '<html lang="en"><!-- id:' || doc_id || ' --><head><title>Doc ' ||
       |  doc_id || ' &amp; friends</title><script type="text/javascript">var id=' ||
       |  doc_id || ';</script><style>p { color: #333; }</style></head><body class="doc"><p>' ||
       |  $esc ||
       |  '</p><!-- footer:' || doc_id || ' --><script>track(' || doc_id ||
       |  ');</script></body></html>' AS html
       |FROM (SELECT doc_id, $enriched AS text FROM documents) e""".stripMargin
  }

  /** WARC archive chunks, 10 documents per file: each file opens with a
    * warcinfo record, then a request + response pair per page (ascending
    * doc_id) — response URI/epoch/body are exactly the pages() derivations,
    * so parsing must invert this synthesis byte-for-byte. Odd-numbered
    * files are written as per-record gzip members (the `.warc.gz`
    * convention), even ones plain, so the reader's both paths carry real
    * traffic. The groupBy here is fixture-only; the measured ingest
    * operator (Warc.responses) is a narrow flatMap. */
  def warcFiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val build = udf((fileId: Long, ids: Seq[Long], texts: Seq[String]) => {
      val recs = Warc.warcinfoRecord(s"crawl-$fileId.warc", 1600000000L) +:
        ids.zip(texts).flatMap { case (id, t) =>
          val uri = s"https://host${id % 97}.example.org/doc/$id"
          val ep = 1600000000L + id * 137L
          Seq(Warc.requestRecord(uri, ep),
              Warc.responseRecord(uri, ep,
                s"<html><body>$t</body></html>".getBytes("UTF-8")))
        }
      Warc.writeFile(recs, gzipPerRecord = fileId % 2 == 1)
    })
    spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(expr("doc_id div 10").as("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text")))).as("arr"))
      .select(col("file_id"),
        build(col("file_id"), col("arr.doc_id"), col("arr.text")).as("warc"))
  }

  /** Pages whose markup carries three outbound anchors each, targets a
    * closed-form function of the page id modulo the corpus size — so the
    * link-graph oracle predicts every edge WITHOUT parsing html, and the
    * Spark side must recover exactly those edges from real markup. */
  def linkPages(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    def tgt(k: Int) = (col("doc_id") * 31 + lit(k * 7919L)) % n
    def anchor(k: Int) = concat(
      lit("<a href=\"https://host"), (tgt(k) % 97).cast("string"),
      lit(".example.org/doc/"), tgt(k).cast("string"),
      lit(s"""\">link$k</a>"""))
    docs.select(col("doc_id"),
      concat(lit("https://host"), (col("doc_id") % 97).cast("string"),
             lit(".example.org/doc/"), col("doc_id").cast("string")).as("url"),
      concat(lit("<html><body><p>"), col("text"), lit("</p>"),
             anchor(1), anchor(2), anchor(3), lit("</body></html>")).as("html"))
  }

  /** The linkPages corpus serialized as WARC archives (same file grouping
    * and gzip mix as [[warcFiles]]) — the input of the WAT derivation:
    * link extraction must happen from REAL response bodies walked out of
    * real archive bytes, not from a convenience column. */
  def linkWarcFiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val build = udf((fileId: Long, ids: Seq[Long], uris: Seq[String],
                     htmls: Seq[String]) => {
      val recs = Warc.warcinfoRecord(s"crawl-$fileId.warc", 1600000000L) +:
        ids.indices.flatMap { i =>
          val ep = 1600000000L + ids(i) * 137L
          Seq(Warc.requestRecord(uris(i), ep),
              Warc.responseRecord(uris(i), ep, htmls(i).getBytes("UTF-8")))
        }
      Warc.writeFile(recs, gzipPerRecord = fileId % 2 == 1)
    })
    linkPages(spark, dir)
      .groupBy(expr("doc_id div 10").as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("html")))).as("arr"))
      .select(col("file_id"),
        build(col("file_id"), col("arr.doc_id"), col("arr.url"),
          col("arr.html")).as("warc"))
  }

  /** Per-domain robots.txt with realistic structure: a blocked bot group,
    * a named-bot group our crawler does NOT match, and the `*` group
    * carrying the rules that matter (with Crawl-delay / Sitemap noise the
    * parser must skip). Rules are literal path prefixes derived from the
    * domain id so the q90 oracle predicts every decision in closed form. */
  def robotsTxt(spark: SparkSession, dir: String): DataFrame = {
    val k5 = (col("k") % 5).cast("string")
    spark.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") % 97).as("k")).distinct()
      .select(
        concat(lit("host"), col("k").cast("string"), lit(".example.org"))
          .as("domain"),
        concat(
          lit("# crawl policy\nUser-agent: evilbot\nDisallow: /\n\n" +
            "User-agent: graftbot-news\nUser-agent: otherbot\n" +
            "Disallow: /never\n\n" +
            "User-agent: *\nCrawl-delay: 5\nDisallow: /p/"), k5,
          lit("\nAllow: /p/"), k5,
          lit("/ok\nDisallow: /private\nSitemap: https://host"),
          col("k").cast("string"),
          lit(".example.org/sitemap.xml\n")).as("robots_txt"))
  }

  /** Crawl-frontier url set hitting every rule shape of `robotsTxt`:
    * plain doc pages, the per-domain disallowed prefix, its allowed
    * exception, and the always-disallowed private tree. */
  def crawlUrls(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(id,
        concat(lit("host"), (id % 97).cast("string"), lit(".example.org"))
          .as("domain"),
        when(id % 4 === 0, concat(lit("/doc/"), id.cast("string")))
          .when(id % 4 === 1, concat(lit("/p/"), (id % 5).cast("string")))
          .when(id % 4 === 2, concat(lit("/p/"), (id % 5).cast("string"), lit("/ok")))
          .otherwise(concat(lit("/private/"), (id % 9).cast("string")))
          .as("path"))
  }

  /** Per-domain sitemap.xml: every doc of the domain as a `<url>` entry
    * (loc / lastmod / priority) in doc-id order, wrapped in the
    * sitemaps.org envelope. All leaf values are closed forms of doc_id so
    * the q92 oracle predicts every parsed entry without touching XML. */
  def sitemaps(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val entry = concat(
      lit("<url><loc>https://host"), (id % 97).cast("string"),
      lit(".example.org/doc/"), id.cast("string"),
      lit("</loc><lastmod>"),
      date_format(date_add(to_date(lit("2020-01-01")),
        (id % 365).cast("int")), "yyyy-MM-dd"),
      lit("</lastmod><priority>0."), (id % 10).cast("string"),
      lit("</priority></url>"))
    spark.read.parquet(s"$dir/documents.parquet")
      .select((id % 97).as("k"), struct(id.as("i"), entry.as("e")).as("se"))
      .groupBy("k")
      .agg(array_join(transform(array_sort(collect_list(col("se"))),
        x => x.getField("e")), "\n").as("body"))
      .select(
        concat(lit("host"), col("k").cast("string"), lit(".example.org"))
          .as("domain"),
        concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset " +
            "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          col("body"), lit("\n</urlset>\n")).as("sitemap_xml"))
  }

  /** The page id at the end of a url: `regexp_extract(url, "(\\d+)$", 1)
    * .cast("long")`, parsed by the native `trailing_digits` kernel instead
    * of `java.util.regex`. The cast is Spark's own, so a url without a
    * trailing id (or one past Long range) is NULL, or an error under ANSI,
    * exactly as with the regex. */
  def urlId(url: Column): Column =
    ExprBridge.column(TrailingDigits(ExprBridge.expression(url))).cast("long")

  /** Batched geotag stage: parse the page id out of the url (metadata), map
    * to planar (x, y) on the integer lattice. Whole-stage codegen, no UDF:
    * the id parse is the native `urlId` kernel, the rest column arithmetic.
    * Catalyst pushes the lattice filter below the `__id` projection,
    * inlining the parse into both of its conjuncts, and a Filter shares no
    * subexpressions between conjuncts: the parse runs three times per row.
    * With `java.util.regex` (a String copy and a Matcher each time) that
    * was most of the stage. Coordinates on a 500-lattice line (county /
    * cell boundaries) are excluded up front, like TpchGeo.points. */
  def geotag(p: DataFrame): DataFrame =
    p.withColumn("__id", urlId(col("url")))
      .withColumn("xi", expr("(__id * 48271) % 8000"))
      .withColumn("yi", expr("(__id * 16807) % 8000"))
      .where(expr("xi % 500 != 0 AND yi % 500 != 0"))
      .withColumn("x", col("xi").cast("double"))
      .withColumn("y", col("yi").cast("double"))
      .drop("__id", "xi", "yi")

  /** DuckDB twin of geotag() applied to pagesSql. */
  val geotaggedSql: String =
    s"""SELECT url, warc_ts, html, text, lang,
       |  CAST(xi AS DOUBLE) AS x, CAST(yi AS DOUBLE) AS y
       |FROM (
       |  SELECT *, (pid * 48271) % 8000 AS xi, (pid * 16807) % 8000 AS yi
       |  FROM (SELECT *, CAST(regexp_extract(url, '(\\d+)$$', 1) AS BIGINT) AS pid
       |        FROM ($pagesSql)))
       |WHERE xi % 500 <> 0 AND yi % 500 <> 0""".stripMargin
}
