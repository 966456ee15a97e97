package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TextFixtures}
import graft.sources.Sitemaps
import graft.text.{CrawlOps, Html, PipelineOps}

/** The crawl layer: HTML/WARC/WAT/WET extraction, robots and sitemaps,
  * CDX captures, frontier, link and host reports. */
object CrawlQueries {

  /** SQL twin of PipelineOps.canonicalizeUrl/urlDomain as a CTE chain:
    * expects `u(doc_id, url)`, yields `c(doc_id, canon, domain)`. Shared by
    * the q61 and q70 oracles so the two can never drift apart. */
  private val urlCanonChainSql: String =
    """s AS (SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS nofrag FROM u),
      |e AS (SELECT doc_id, url, nofrag,
      |        regexp_extract(nofrag, '^([a-zA-Z]+://[^/]*)', 1) AS shraw
      |      FROM s),
      |r AS (SELECT doc_id, url, shraw,
      |        substr(nofrag, length(shraw) + 1) AS rest FROM e),
      |p AS (SELECT doc_id, url, shraw, rest,
      |        regexp_extract(rest, '^[^?]*', 0) AS path FROM r),
      |q AS (SELECT doc_id, url, shraw, path,
      |        CASE WHEN length(rest) > length(path)
      |             THEN '&' || substr(rest, length(path) + 2) ELSE '' END AS qnorm
      |      FROM p),
      |qc AS (SELECT doc_id, url, shraw, path,
      |         regexp_replace(qnorm, '&(utm_[a-z]+|ref)=[^&]*', '', 'g') AS qclean
      |       FROM q),
      |c AS (SELECT doc_id,
      |        regexp_replace(lower(shraw), ':(80|443)$', '') || path ||
      |        (CASE WHEN length(qclean) > 1 THEN '?' || substr(qclean, 2) ELSE '' END) AS canon,
      |        regexp_replace(
      |          lower(regexp_extract(url, '^[a-zA-Z]+://([^/:]*)', 1)),
      |          '^www\.', '', 'g') AS domain
      |      FROM qc)""".stripMargin

  /** Templated pages: a 16-token per-domain header (nav-bar stand-in)
    * prepended to every document of the domain — the closed form both
    * engines rebuild exactly. 7 domains so every domain has enough pages
    * to cross the boilerplate threshold at every SF. */
  private def templatedDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(lit("d"), (col("doc_id") % 7).cast("string")).as("domain"),
        concat(
          expr("array_join(transform(sequence(0, 15), i -> " +
            "concat('m', CAST(doc_id % 7 AS STRING), '_', CAST(i AS STRING))), ' ')"),
          lit(" "), col("text")).as("text"))

  /** Multi-capture crawl: 1 + (doc_id % 3) captures per page, a day apart;
    * the third capture (j = 2) carries modified content, so j = 1 is the
    * classic byte-identical revisit and j = 2 a fresh response. */
  private[registry] def captures(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0L, doc_id % 3)")).as("j"))
      .select(
        concat(lit("https://host"), (col("doc_id") % 97).cast("string"),
          lit(".example.org/doc/"), col("doc_id").cast("string")).as("url"),
        (lit(1600000000L) + col("doc_id") * 137L + col("j") * 86400L).as("ts"),
        when(col("j") === 2, concat(lit("MOD "), col("text")))
          .otherwise(col("text")).as("text"))

  private val tfidfQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("window", "merge", "stream"),
    3 -> Seq("customer"))

  private val suffixes = Seq(
    "com", "org", "net", "uk", "co.uk", "jp", "ac.jp", "io", "github.io")

  /** Host fixture: subdomain depth, sld, and suffix all derived from
    * doc_id; the co.uk/ac.jp/github.io rows force longest-match. */
  private def hostTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), concat(
        element_at(array(lit("cdn.assets."), lit(""), lit("www.")),
          (col("doc_id") % 3 + 1).cast("int")),
        lit("site"), (col("doc_id") % 23).cast("string"), lit("."),
        element_at(array(lit("org"), lit("net"), lit("co.uk"),
          lit("ac.jp"), lit("github.io"), lit("com")),
          (col("doc_id") % 6 + 1).cast("int"))).as("host"))

  /** Closed-form captures CTE (the q105 oracle fixture). NB: no line may
    * start with "||" — re-embedded in an outer .stripMargin below. */
  private val capturesSql: String =
    """SELECT concat('https://host', CAST(doc_id % 97 AS VARCHAR),
      |    '.example.org/doc/', CAST(doc_id AS VARCHAR)) AS url,
      |  1600000000 + doc_id * 137 + j * 86400 AS ts,
      |  md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END) AS digest
      |FROM (SELECT doc_id, text, unnest(range(doc_id % 3 + 1)) AS j
      |      FROM documents)""".stripMargin

  def all: Seq[Q] = Seq(
    // URL canonicalization + per-canonical-form dup counts
    Q("q61_url_canon", (s, dir) => {
      val u = TextFixtures.urlCorpus(s, dir)
        .select(col("doc_id"),
          PipelineOps.canonicalizeUrl(col("url")).as("canon"),
          PipelineOps.urlDomain(col("url")).as("domain"))
      u.withColumn("canon_dups",
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("canon")))
        .orderBy("doc_id")
    },
      s"""WITH u AS (${TextFixtures.urlCorpusSql}),
         |$urlCanonChainSql
         |SELECT doc_id, canon, domain,
         |  count(*) OVER (PARTITION BY canon) AS canon_dups
         |FROM c ORDER BY doc_id""".stripMargin),

    // latest-capture-wins per canonical URL (re-crawl snapshots collapse
    // to the newest fetch; id tiebreak on equal timestamps)
    Q("q70_latest_capture", (s, dir) => {
      val caps = TextFixtures.urlCorpus(s, dir)
        .withColumn("warc_ts",
          to_timestamp(lit(1600000000L) + (col("doc_id") % 19) * 3600L))
      PipelineOps.latestCapture(caps, "doc_id", "url", "warc_ts")
        .select(col("id").as("doc_id"), col("canon_hash"), col("n_captures"),
          col("kept").cast("int").as("kept"))
        .orderBy("doc_id")
    },
      s"""WITH u AS (${TextFixtures.urlCorpusSql}),
         |$urlCanonChainSql,
         |cap AS (SELECT doc_id, canon,
         |          to_timestamp(1600000000 + (doc_id % 19) * 3600) AS ts
         |        FROM c),
         |g AS (SELECT doc_id, md5(canon) AS canon_hash,
         |        count(*) OVER (PARTITION BY canon) AS n_captures,
         |        row_number() OVER (PARTITION BY canon
         |                           ORDER BY ts DESC, doc_id DESC) AS rn
         |      FROM cap)
         |SELECT doc_id, canon_hash, n_captures,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS kept
         |FROM g ORDER BY doc_id""".stripMargin),

    // HTML→text extraction over realistic markup: the oracle RE-EXTRACTS
    // with the identical RE2 chain, and roundtrip_ok certifies
    // extract(html) == text byte-for-byte (the north-star invariant)
    Q("q77_html_extract", (s, dir) => {
      val p = Pages.htmlPages(s, dir)
      val x = Html.extractText(col("html"))
      p.select(col("doc_id"),
          Html.titleOf(col("html")).as("title"),
          md5(x).as("x_md5"),
          (md5(x) === md5(col("text"))).cast("int").as("roundtrip_ok"))
        .orderBy("doc_id")
    },
      {
      val x = Html.extractTextSql("html")
      s"""WITH p AS (${Pages.htmlPagesSql})
         |SELECT doc_id, ${Html.titleOfSql("html")} AS title,
         |  md5($x) AS x_md5,
         |  CAST(CASE WHEN md5($x) = md5(text) THEN 1 ELSE 0 END AS INT)
         |    AS roundtrip_ok
         |FROM p ORDER BY doc_id""".stripMargin
    }),

    // WARC ingest: real ISO-28500 archive chunks (warcinfo + request +
    // response records; odd files as per-record gzip members) parsed back
    // to one row per response — URI, epoch, HTTP facts, and the body md5
    // certify the walk inverts the synthesis byte-for-byte
    Q("q85_warc_extract", (s, dir) => {
      import graft.sources.Warc
      Warc.responses(Pages.warcFiles(s, dir), "warc")
        .select(Pages.urlId(col("uri")).as("doc_id"),
          col("uri"), col("warc_epoch"), col("http_status"), col("content_type"),
          length(col("body")).cast("long").as("n_bytes"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |    || CAST(doc_id AS VARCHAR) AS uri,
        |  1600000000 + doc_id * 137 AS warc_epoch,
        |  200 AS http_status,
        |  'text/html; charset=UTF-8' AS content_type,
        |  CAST(octet_length(encode('<html><body>' || text || '</body></html>'))
        |    AS BIGINT) AS n_bytes,
        |  md5('<html><body>' || text || '</body></html>') AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // domain link graph from real markup: anchors regexp-extracted, edges
    // aggregated per (src, dst) domain — the oracle predicts every edge
    // from the fixture's closed-form targets without parsing html
    Q("q87_link_graph", (s, dir) =>
      PipelineOps.domainLinkGraph(Pages.linkPages(s, dir),
          "doc_id", "url", "html")
        .orderBy("src_domain", "dst_domain"),
      """WITH n AS (SELECT count(*) AS nn FROM documents),
        |e AS (SELECT doc_id,
        |        'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |          AS src_domain,
        |        unnest([(doc_id * 31 + 7919) % nn, (doc_id * 31 + 15838) % nn,
        |                (doc_id * 31 + 23757) % nn]) AS t
        |      FROM documents, n),
        |d AS (SELECT doc_id, src_domain,
        |        'host' || CAST(t % 97 AS VARCHAR) || '.example.org' AS dst_domain
        |      FROM e)
        |SELECT src_domain, dst_domain, count(*) AS n_links,
        |  count(DISTINCT doc_id) AS n_pages
        |FROM d GROUP BY 1, 2 ORDER BY src_domain, dst_domain""".stripMargin),

    // robots.txt gate: REAL RFC-9309 parsing (group selection, longest
    // match, Allow tie-break) against per-domain policies; the oracle
    // predicts every (allowed, matched_rule) from the fixture's closed
    // form without parsing robots text
    Q("q90_robots", (s, dir) => {
      import graft.sources.Robots
      Robots.decisions(Pages.crawlUrls(s, dir), "doc_id", "domain", "path",
          Pages.robotsTxt(s, dir), ua = "graftbot/1.0")
        .orderBy("doc_id")
    },
      """WITH u AS (SELECT doc_id, doc_id % 97 AS k, doc_id % 4 AS m,
        |             doc_id % 5 AS p5, (doc_id % 97) % 5 AS k5
        |           FROM documents)
        |SELECT doc_id,
        |  'host' || CAST(k AS VARCHAR) || '.example.org' AS domain,
        |  CAST(CASE WHEN m = 3 THEN 0
        |            WHEN m = 1 AND p5 = k5 THEN 0
        |            ELSE 1 END AS INT) AS allowed,
        |  CASE WHEN m = 3 THEN '/private'
        |       WHEN m = 1 AND p5 = k5 THEN '/p/' || CAST(k5 AS VARCHAR)
        |       WHEN m = 2 AND p5 = k5 THEN '/p/' || CAST(k5 AS VARCHAR) || '/ok'
        |       ELSE '' END AS matched_rule
        |FROM u ORDER BY doc_id""".stripMargin),

    // politeness-bounded frontier schedule: allowed urls only, one fetch
    // per Crawl-delay window per domain, biggest pages first — the delay
    // itself is parsed from the robots fixture (Crawl-delay: 5), which
    // the oracle pins as the constant in fetch_at_s
    Q("q91_frontier", (s, dir) => {
      import graft.sources.Robots
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      Robots.frontierSchedule(
          Pages.crawlUrls(s, dir).join(docs, "doc_id"),
          "doc_id", "domain", "path", "n_chars",
          Pages.robotsTxt(s, dir), ua = "graftbot/1.0")
        .orderBy("doc_id")
    },
      """WITH u AS (SELECT doc_id, doc_id % 97 AS k, doc_id % 4 AS m,
        |             doc_id % 5 AS p5, (doc_id % 97) % 5 AS k5, n_chars
        |           FROM documents),
        |a AS (SELECT doc_id,
        |        'host' || CAST(k AS VARCHAR) || '.example.org' AS domain,
        |        n_chars
        |      FROM u WHERE NOT (m = 3 OR (m = 1 AND p5 = k5))),
        |r AS (SELECT doc_id, domain,
        |        row_number() OVER (PARTITION BY domain
        |                           ORDER BY n_chars DESC, doc_id) AS fetch_seq
        |      FROM a)
        |SELECT doc_id, domain, CAST(fetch_seq AS INT) AS fetch_seq,
        |  CAST((fetch_seq - 1) * 5 AS BIGINT) AS fetch_at_s
        |FROM r ORDER BY doc_id""".stripMargin),

    // sitemap.xml ingest: per-domain sitemaps (every leaf a closed form of
    // doc_id) exploded back to one row per entry by the codegen'd XML walk
    // — the oracle predicts loc/lastmod/priority without touching XML
    Q("q92_sitemap", (s, dir) =>
      graft.sources.Sitemaps.entries(Pages.sitemaps(s, dir), "sitemap_xml")
        .select(Pages.urlId(col("loc")).as("doc_id"),
          col("domain"), col("loc"), col("lastmod_day"), col("priority"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS domain,
        |  'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |    || CAST(doc_id AS VARCHAR) AS loc,
        |  CAST(DATE '2020-01-01' + CAST(doc_id % 365 AS INT)
        |    - DATE '1970-01-01' AS BIGINT) AS lastmod_day,
        |  '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority
        |FROM documents ORDER BY doc_id""".stripMargin),

    // incoming-anchor-text index over real markup: (dst_domain, anchor
    // text) aggregation of every <a> of the q87 pages — the oracle derives
    // each anchor from the fixture's closed-form targets
    Q("q93_anchor_text", (s, dir) =>
      PipelineOps.anchorTextIndex(Pages.linkPages(s, dir), "doc_id", "html")
        .orderBy("dst_domain", "anchor_text"),
      """WITH n AS (SELECT count(*) AS nn FROM documents),
        |k AS (SELECT unnest([1, 2, 3]) AS kk),
        |a AS (SELECT doc_id,
        |        'host' || CAST(((doc_id * 31 + kk * 7919) % nn) % 97 AS VARCHAR)
        |          || '.example.org' AS dst_domain,
        |        'link' || CAST(kk AS VARCHAR) AS anchor_text
        |      FROM documents, n, k)
        |SELECT dst_domain, anchor_text, count(*) AS n_links,
        |  count(DISTINCT doc_id) AS n_pages
        |FROM a GROUP BY 1, 2 ORDER BY dst_domain, anchor_text""".stripMargin),

    // crawl discovery: Sitemap directives lifted from every domain's
    // robots.txt (RFC 9309 non-group lines — the hand-off from the
    // politeness gate to the q92 sitemap ingest)
    Q("q100_sitemap_discovery", (s, dir) => {
      import graft.sources.Robots
      Pages.robotsTxt(s, dir)
        .select(col("domain"),
          explode(Robots.sitemapUrlsCol(col("robots_txt")))
            .as("sitemap_url"))
        .orderBy("domain")
    },
      """SELECT DISTINCT
        |  'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS domain,
        |  'https://host' || CAST(doc_id % 97 AS VARCHAR)
        |    || '.example.org/sitemap.xml' AS sitemap_url
        |FROM documents ORDER BY domain""".stripMargin),

    // CCNet-style per-domain boilerplate: 16-token chunks repeated in >= 3
    // distinct docs of a domain are template text; the injected per-domain
    // header makes chunk 0 boilerplate everywhere, and the oracle recomputes
    // the whole chunk/hash/threshold pipeline from the same closed form
    Q("q104_boilerplate", (s, dir) =>
      CrawlOps.boilerplateChunks(templatedDocs(s, dir),
          "doc_id", "domain", "text", chunkTokens = 16, minDocs = 3)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_boiler"),
          col("boiler_pct"))
        .orderBy("doc_id"),
      """WITH d AS (SELECT doc_id,
        |    'd' || CAST(doc_id % 7 AS VARCHAR) AS domain,
        |    array_to_string(list_transform(range(0, 16),
        |      i -> 'm' || CAST(doc_id % 7 AS VARCHAR) || '_' || CAST(i AS VARCHAR)),
        |      ' ') || ' ' || text AS t
        |  FROM documents),
        |s AS (SELECT doc_id, domain, string_split(t, ' ') AS toks FROM d),
        |c AS (SELECT doc_id, domain,
        |        CAST((len(toks) + 15) // 16 AS BIGINT) AS n_chunks,
        |        unnest(range((len(toks) + 15) // 16)) AS chunk_id, toks
        |      FROM s),
        |h AS (SELECT doc_id, domain, n_chunks, chunk_id,
        |        md5(array_to_string(
        |          toks[chunk_id * 16 + 1 : chunk_id * 16 + 16], ' ')) AS h
        |      FROM c),
        |b AS (SELECT domain, h FROM h
        |      GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3),
        |f AS (SELECT h.doc_id, h.n_chunks,
        |        CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_boiler
        |      FROM h LEFT JOIN b ON h.domain = b.domain AND h.h = b.h
        |      GROUP BY 1, 2)
        |SELECT doc_id, n_chunks, n_boiler,
        |  (100 * n_boiler) // n_chunks AS boiler_pct
        |FROM f ORDER BY doc_id""".stripMargin),

    // CDX capture index: SURT keys via the real reverse-host transform,
    // revisit classification via the (url, digest) first-capture window —
    // the oracle predicts surt/digest/op in closed form WITHOUT the
    // transform, so the string machinery is independently certified
    Q("q105_cdx_index", (s, dir) =>
      CrawlOps.cdxIndex(captures(s, dir), "url", "ts", "text")
        .orderBy("surt", "ts"),
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents)
        |SELECT 'org,example,host' || CAST(doc_id % 97 AS VARCHAR)
        |    || ')/doc/' || CAST(doc_id AS VARCHAR) AS surt,
        |  CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts,
        |  md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END) AS digest,
        |  CASE WHEN j = 1 THEN 'revisit' ELSE 'response' END AS op
        |FROM c ORDER BY surt, ts""".stripMargin),

    // inverted-index retrieval: top-10 docs for three bag-of-terms queries
    // under exact-integer tf-idf (idf in micro-units via the one-double-op
    // discipline); two-phase salted top-k per query
    Q("q106_tfidf_topk", (s, dir) =>
      CrawlOps.tfidfTopK(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          tfidfQueries, k = 10)
        .withColumn("doc_id", col("id")).drop("id")
        .select(col("qid"), col("rank"), col("doc_id"), col("score"))
        .orderBy("qid", "rank"),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |p AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT doc_id) AS nn FROM p),
        |idf AS (SELECT w,
        |          CAST(round(ln((nn + 1.0) / (count(*) + 1)) * 1e6, 0)
        |            AS BIGINT) AS idf_micro
        |        FROM p, n GROUP BY w, nn),
        |q AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'join'), (2, 'window'),
        |        (2, 'merge'), (2, 'stream'), (3, 'customer')) t(qid, w)),
        |sc AS (SELECT q.qid, p.doc_id, sum(p.tf * idf.idf_micro) AS score
        |       FROM p JOIN q ON p.w = q.w JOIN idf ON p.w = idf.w
        |       GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY score DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT CAST(qid AS INT) AS qid, CAST(rank AS INT) AS rank, doc_id,
        |  CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // WET derivation: real WARC archives → response walk → the q77 html
    // extraction chain → serialized ISO-28500 conversion records (per-file
    // regroup, warcinfo + WARC-Refers-To, odd files per-record-gzip) →
    // parsed BACK by the record walk — the oracle predicts every
    // (uri, epoch, md5) from the raw documents, certifying the whole
    // write/read round trip byte-for-byte
    Q("q111_wet_extract", (s, dir) => {
      import graft.sources.Warc
      import graft.text.Html
      val resp = Warc.responsesKeeping(Pages.warcFiles(s, dir), "warc",
        Seq("file_id"))
      val wet = resp
        .select(col("file_id"), col("uri"), col("warc_epoch"),
          encode(Html.extractText(col("body")), "UTF-8").as("wtext"))
        .groupBy("file_id")
        .agg(sort_array(collect_list(
          struct(col("uri"), col("warc_epoch"), col("wtext")))).as("arr"))
        .select(Warc.wetBuildUdf(col("file_id"), col("arr.uri"),
          col("arr.warc_epoch"), col("arr.wtext")).as("wet"))
      Warc.conversions(wet, "wet")
        .select(Pages.urlId(col("uri")).as("doc_id"),
          col("uri"), col("wet_epoch"),
          length(decode(col("text"), "UTF-8")).cast("long").as("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |    || CAST(doc_id AS VARCHAR) AS uri,
        |  1600000000 + doc_id * 137 AS wet_epoch,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // dataset-card rollup: per-(source, lang) doc counts and char volume
    // with ROLLUP subtotals and the standard GROUPING bitmask — grouping
    // sets through Catalyst's Expand, matched against DuckDB's ROLLUP
    Q("q112_crawl_rollup", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          grouping_id().cast("int").as("gid"))
        .select(coalesce(col("source"), lit("(all)")).as("source"),
          coalesce(col("lang"), lit("(all)")).as("lang"),
          col("n_docs"), col("sum_chars"), col("gid"))
        .orderBy("gid", "source", "lang"),
      """SELECT coalesce(source, '(all)') AS source,
        |  coalesce(lang, '(all)') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(GROUPING(source, lang) AS INT) AS gid
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY gid, source, lang""".stripMargin),

    // URL-template mining over the crawl frontier: numeric segments
    // collapsed to {d}, per-(domain, template) url/distinct counts and the
    // duplicate-fetch share — the crawl-trap detector
    Q("q113_url_templates", (s, dir) =>
      CrawlOps.urlTemplates(Pages.crawlUrls(s, dir), "domain", "path")
        .orderBy("domain", "template"),
      """WITH u AS (SELECT doc_id,
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS domain,
        |    CASE WHEN doc_id % 4 = 0 THEN '/doc/' || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id % 5 AS VARCHAR)
        |         WHEN doc_id % 4 = 2
        |           THEN '/p/' || CAST(doc_id % 5 AS VARCHAR) || '/ok'
        |         ELSE '/private/' || CAST(doc_id % 9 AS VARCHAR) END AS path
        |  FROM documents)
        |SELECT domain, regexp_replace(path, '[0-9]+', '{d}', 'g') AS template,
        |  count(*) AS n_urls, count(DISTINCT path) AS n_distinct,
        |  (100 * (count(*) - count(DISTINCT path))) // count(*) AS dup_pct
        |FROM u GROUP BY 1, 2 ORDER BY domain, template""".stripMargin),

    // WAT derivation: WARC archives of the link corpus → response walk →
    // anchors regexp-extracted from the real bodies → JSON metadata
    // envelope → serialized ISO-28500 metadata records → parsed back and
    // the JSON re-opened — the oracle predicts status/length/link facts
    // from the fixture's closed-form targets without touching any byte
    // of WARC or JSON
    Q("q114_wat_extract", (s, dir) => {
      import graft.sources.Warc
      import org.apache.spark.sql.types._
      val resp = Warc.responsesKeeping(Pages.linkWarcFiles(s, dir), "warc",
        Seq("file_id"))
      val meta = resp.select(col("file_id"), col("uri"), col("warc_epoch"),
        to_json(struct(
          col("uri").as("url"),
          col("http_status").as("status"),
          length(col("body")).cast("long").as("content_length"),
          expr("regexp_extract_all(decode(body, 'UTF-8'), " +
            "'<a href=\"([^\"]+)\"', 1)").as("links"))).as("json"))
      val wat = meta.groupBy("file_id")
        .agg(sort_array(collect_list(
          struct(col("uri"), col("warc_epoch"), col("json")))).as("arr"))
        .select(Warc.watBuildUdf(col("file_id"), col("arr.uri"),
          col("arr.warc_epoch"), col("arr.json")).as("wat"))
      val schema = StructType(Seq(
        StructField("url", StringType), StructField("status", IntegerType),
        StructField("content_length", LongType),
        StructField("links", ArrayType(StringType))))
      Warc.metadataRecords(wat, "wat")
        .select(Pages.urlId(col("uri")).as("doc_id"),
          col("uri"), col("wat_epoch"),
          from_json(col("json"), schema).as("m"))
        .select(col("doc_id"), col("uri"), col("wat_epoch"),
          col("m.status").as("status"),
          col("m.content_length").as("content_length"),
          size(col("m.links")).as("n_links"),
          md5(concat_ws(",", col("m.links"))).as("links_md5"))
        .orderBy("doc_id")
    },
      // the q87 closed-form targets predict every WAT fact — the Spark side
      // must recover them through WARC bytes, real anchor extraction, JSON
      // serialization, WAT bytes, and the JSON re-open
      """WITH nd AS (SELECT count(*) AS nn FROM documents),
        |d AS (SELECT doc_id, text,
        |        (doc_id * 31 + 7919) % nn AS t1,
        |        (doc_id * 31 + 15838) % nn AS t2,
        |        (doc_id * 31 + 23757) % nn AS t3
        |      FROM documents, nd),
        |l AS (SELECT doc_id, text,
        |        'https://host' || CAST(t1 % 97 AS VARCHAR)
        |          || '.example.org/doc/' || CAST(t1 AS VARCHAR) AS l1,
        |        'https://host' || CAST(t2 % 97 AS VARCHAR)
        |          || '.example.org/doc/' || CAST(t2 AS VARCHAR) AS l2,
        |        'https://host' || CAST(t3 % 97 AS VARCHAR)
        |          || '.example.org/doc/' || CAST(t3 AS VARCHAR) AS l3
        |      FROM d)
        |SELECT doc_id,
        |  'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |    || CAST(doc_id AS VARCHAR) AS uri,
        |  1600000000 + doc_id * 137 AS wat_epoch,
        |  CAST(200 AS INT) AS status,
        |  CAST(octet_length(encode('<html><body><p>' || text || '</p><a href="'
        |    || l1 || '">link1</a><a href="' || l2 || '">link2</a><a href="'
        |    || l3 || '">link3</a></body></html>')) AS BIGINT)
        |    AS content_length,
        |  CAST(3 AS INT) AS n_links,
        |  md5(l1 || ',' || l2 || ',' || l3) AS links_md5
        |FROM l ORDER BY doc_id""".stripMargin),

    // positional phrase search: exact-phrase occurrence counts per doc via
    // positional-postings intersection (anchor joined to term k on
    // (id, pos + k)) — two bigram queries and one trigram, the oracle
    // running the identical positional joins
    Q("q117_phrase_search", (s, dir) =>
      CrawlOps.phraseSearch(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          Seq(1 -> Seq("data", "line"), 2 -> Seq("merge", "slow"),
            3 -> Seq("batch", "batch", "batch")))
        .withColumnRenamed("id", "doc_id")
        .orderBy("qid", "doc_id"),
      """WITH tok AS (SELECT doc_id,
        |    generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
        |m1 AS (SELECT a.doc_id, count(*) AS n FROM tok a
        |       JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       WHERE a.w = 'data' AND b.w = 'line' GROUP BY 1),
        |m2 AS (SELECT a.doc_id, count(*) AS n FROM tok a
        |       JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       WHERE a.w = 'merge' AND b.w = 'slow' GROUP BY 1),
        |m3 AS (SELECT a.doc_id, count(*) AS n FROM tok a
        |       JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |       JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |       WHERE a.w = 'batch' AND b.w = 'batch' AND c.w = 'batch'
        |       GROUP BY 1)
        |SELECT CAST(1 AS INT) AS qid, doc_id, n AS n_matches FROM m1
        |UNION ALL SELECT CAST(2 AS INT), doc_id, n FROM m2
        |UNION ALL SELECT CAST(3 AS INT), doc_id, n FROM m3
        |ORDER BY qid, doc_id""".stripMargin),

    // frontier expansion: outlink targets of the crawled 4/5 of the corpus
    // (anchors re-extracted from real markup) anti-joined against the
    // capture set, scored by in-link count, top-3 per destination domain —
    // the next-crawl candidate list
    Q("q118_frontier_expand", (s, dir) => {
      val crawledPages = Pages.linkPages(s, dir)
        .where(col("doc_id") % 5 =!= 0)
      val outlinks = crawledPages
        .select(explode(expr(
          "regexp_extract_all(html, '<a href=\"([^\"]+)\"', 1)")).as("t"))
        .select(Pages.urlId(col("t")).as("tgt_id"),
          regexp_extract(col("t"), "^https://([^/]+)", 1).as("tgt_domain"))
      val crawled = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0).select(col("doc_id"))
      CrawlOps.frontierExpand(outlinks, "tgt_id", "tgt_domain",
          crawled, "doc_id", k = 3)
        .orderBy("domain", "rank")
    },
      """WITH nd AS (SELECT count(*) AS nn FROM documents),
        |e AS (SELECT doc_id,
        |        unnest([(doc_id * 31 + 7919) % nn, (doc_id * 31 + 15838) % nn,
        |                (doc_id * 31 + 23757) % nn]) AS t
        |      FROM documents, nd WHERE doc_id % 5 <> 0),
        |c AS (SELECT t AS id,
        |        'host' || CAST(t % 97 AS VARCHAR) || '.example.org' AS domain,
        |        count(*) AS n_inlinks
        |      FROM e WHERE t % 5 = 0 GROUP BY 1, 2),
        |r AS (SELECT domain, id, n_inlinks,
        |        row_number() OVER (PARTITION BY domain
        |                           ORDER BY n_inlinks DESC, id) AS rank
        |      FROM c)
        |SELECT domain, CAST(rank AS INT) AS rank, id, n_inlinks
        |FROM r WHERE rank <= 3 ORDER BY domain, rank""".stripMargin),

    // HyperLogLog distinct estimates, BIT-IDENTICAL across engines
    // (integer rank ladder, exact dyadic harmonic sum, one injected
    // constant, one division) — per-language token groups exercise the
    // small-range linear-counting branch, per-shard URL groups the raw
    // harmonic branch; the oracle rebuilds the identical sketch and the
    // identical estimate alongside the exact distinct
    Q("q121_hll_distinct", (s, dir) => {
      import graft.text.HyperLogLog
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tok = docs
        .select(col("lang").as("g"), explode(split(col("text"), " ")).as("w"))
      val urls = docs.select(
        concat(lit("shard"), (col("doc_id") % 3).cast("string")).as("g"),
        concat(lit("https://host"), (col("doc_id") % 97).cast("string"),
          lit(".example.org/doc/"), col("doc_id").cast("string")).as("w"))
      val both = tok.unionByName(urls).localCheckpoint(true)
      val exact = both.groupBy("g").agg(countDistinct(col("w")).as("n_exact"))
      HyperLogLog.estimateDistinct(both, "g", "w")
        .join(exact, "g")
        .select(col("g"), col("n_exact"), col("hll_est"))
        .orderBy("g")
    },
      {
      import graft.text.HyperLogLog.{K, M, rho32Sql}
      def nib(i: Int) =
        s"(instr('0123456789abcdef', substring(h, $i, 1)) - 1)"
      // Horner over nibbles 3..10 = the 32-bit rank stream
      val v32 = (4 to 10).foldLeft(nib(3))((acc, i) => s"($acc * 16 + ${nib(i)})")
      s"""WITH tok AS (SELECT lang AS g, unnest(string_split(text, ' ')) AS w
         |             FROM documents
         |             UNION ALL
         |             SELECT 'shard' || CAST(doc_id % 3 AS VARCHAR),
         |               'https://host' || CAST(doc_id % 97 AS VARCHAR)
         |                 || '.example.org/doc/' || CAST(doc_id AS VARCHAR)
         |             FROM documents),
         |h AS (SELECT g, md5(w) AS h FROM tok),
         |rk AS (SELECT g,
         |         (${nib(1)} * 16 + ${nib(2)}) % $M AS bucket,
         |         ${rho32Sql(v32)} AS rho
         |       FROM h),
         |regs0 AS (SELECT g, bucket, max(rho) AS reg FROM rk GROUP BY 1, 2),
         |frame AS (SELECT g, unnest(range($M)) AS bucket
         |          FROM (SELECT DISTINCT g FROM tok)),
         |regs AS (SELECT f.g, coalesce(r.reg, 0) AS reg
         |         FROM frame f LEFT JOIN regs0 r
         |         ON f.g = r.g AND f.bucket = r.bucket),
         |agg AS (SELECT g,
         |          CAST(sum(CAST(1 AS BIGINT) << (33 - reg)) AS BIGINT) AS s,
         |          CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS zeros
         |        FROM regs GROUP BY 1),
         |ex AS (SELECT g, count(DISTINCT w) AS n_exact FROM tok GROUP BY 1)
         |SELECT agg.g AS g, ex.n_exact,
         |  CAST(CASE WHEN $K / s <= 160.0 AND zeros > 0
         |       THEN round(64.0 * ln(64.0 / zeros), 0)
         |       ELSE round($K / s, 0) END AS BIGINT) AS hll_est
         |FROM agg JOIN ex ON agg.g = ex.g ORDER BY g""".stripMargin
    }),

    // sitemap coverage audit: per domain, how much of what the site LISTS
    // has actually been captured — listed urls parsed from real sitemap
    // XML, capture set a closed-form subset both engines share
    Q("q125_sitemap_coverage", (s, dir) => {
      val listed = Sitemaps.entries(Pages.sitemaps(s, dir), "sitemap_xml")
        .select(col("domain"),
          Pages.urlId(col("loc")).as("doc_id"))
      val captured = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 3 =!= 1)
        .select(col("doc_id"), lit(1L).as("cap"))
      listed.join(captured, Seq("doc_id"), "left")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_listed"),
          sum(coalesce(col("cap"), lit(0L))).as("n_captured"))
        .withColumn("coverage_pct", expr("(100 * n_captured) div n_listed"))
        .orderBy("domain")
    },
      """WITH l AS (SELECT
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |      AS domain,
        |    doc_id FROM documents)
        |SELECT domain, count(*) AS n_listed,
        |  CAST(sum(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_captured,
        |  (100 * CAST(sum(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END)
        |              AS BIGINT))
        |    // count(*) AS coverage_pct
        |FROM l GROUP BY 1 ORDER BY domain""".stripMargin),

    // freshness lag: the newest lastmod a domain advertises (parsed from
    // real sitemap XML) vs the newest capture day — the recrawl
    // prioritization signal; domains with no captures report -1/-999999
    Q("q126_freshness_lag", (s, dir) => {
      val listed = Sitemaps.entries(Pages.sitemaps(s, dir), "sitemap_xml")
        .groupBy("domain").agg(max("lastmod_day").as("latest_listed_day"))
      val capped = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 3 =!= 1)
        .groupBy(concat(lit("host"), (col("doc_id") % 97).cast("string"),
          lit(".example.org")).as("domain"))
        .agg(max(expr("(1600000000L + doc_id * 137L) div 86400"))
          .as("latest_capture_day"))
      listed.join(capped, Seq("domain"), "left")
        .select(col("domain"), col("latest_listed_day"),
          coalesce(col("latest_capture_day"), lit(-1L))
            .as("latest_capture_day"))
        .withColumn("lag_days",
          when(col("latest_capture_day") >= 0,
            col("latest_listed_day") - col("latest_capture_day"))
            .otherwise(lit(-999999L)))
        .orderBy("domain")
    },
      """WITH d AS (SELECT doc_id,
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |      AS domain,
        |    18262 + doc_id % 365 AS listed_day,
        |    CASE WHEN doc_id % 3 <> 1
        |         THEN (1600000000 + doc_id * 137) // 86400 END AS cap_day
        |  FROM documents),
        |a AS (SELECT domain,
        |        CAST(max(listed_day) AS BIGINT) AS latest_listed_day,
        |        CAST(coalesce(max(cap_day), -1) AS BIGINT)
        |          AS latest_capture_day
        |      FROM d GROUP BY 1)
        |SELECT domain, latest_listed_day, latest_capture_day,
        |  CASE WHEN latest_capture_day >= 0
        |       THEN latest_listed_day - latest_capture_day
        |       ELSE -999999 END AS lag_days
        |FROM a ORDER BY domain""".stripMargin),

    // link rot: per source domain, the share of outlinks (anchors
    // re-extracted from real markup) pointing at urls the crawl never
    // captured — the dead-link dashboard metric
    Q("q127_link_rot", (s, dir) => {
      val crawled = Pages.linkPages(s, dir).where(col("doc_id") % 5 =!= 0)
      val out = crawled.select(
        regexp_extract(col("url"), "^https://([^/]+)", 1).as("src_domain"),
        explode(expr(
          "regexp_extract_all(html, '<a href=\"([^\"]+)\"', 1)")).as("t"))
        .select(col("src_domain"),
          Pages.urlId(col("t")).as("tgt_id"))
      val captured = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("tgt_id"), lit(1L).as("cap"))
      out.join(captured, Seq("tgt_id"), "left")
        .groupBy("src_domain")
        .agg(count(lit(1)).as("n_outlinks"),
          sum(when(col("cap").isNull, 1L).otherwise(0L)).as("n_dangling"))
        .withColumn("rot_pct", expr("(100 * n_dangling) div n_outlinks"))
        .orderBy("src_domain")
    },
      """WITH nd AS (SELECT count(*) AS nn FROM documents),
        |e AS (SELECT
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |      AS src_domain,
        |    unnest([(doc_id * 31 + 7919) % nn, (doc_id * 31 + 15838) % nn,
        |            (doc_id * 31 + 23757) % nn]) AS t
        |  FROM documents, nd WHERE doc_id % 5 <> 0)
        |SELECT src_domain, count(*) AS n_outlinks,
        |  CAST(sum(CASE WHEN t % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dangling,
        |  (100 * CAST(sum(CASE WHEN t % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT))
        |    // count(*) AS rot_pct
        |FROM e GROUP BY 1 ORDER BY src_domain""".stripMargin),

    // "more like this": top-5 related documents per probe by the integer
    // tf-idf dot product over the shared-term inverted-index join — idf
    // quantized once per term, every pair score exact integer arithmetic
    Q("q130_related_docs", (s, dir) =>
      CrawlOps.relatedTopK(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          probeIds = Seq(1L, 2L, 3L), k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("qid", "rank"),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |p AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT doc_id) AS nn FROM p),
        |idf AS (SELECT w,
        |          CAST(round(ln((nn + 1.0) / (count(*) + 1)) * 1e3, 0)
        |            AS BIGINT) AS idf_milli
        |        FROM p, n GROUP BY w, nn),
        |q AS (SELECT doc_id AS qid, w, tf AS tf_q FROM p
        |      WHERE doc_id IN (1, 2, 3)),
        |sc AS (SELECT q.qid, p.doc_id,
        |         sum(p.tf * q.tf_q * idf.idf_milli * idf.idf_milli)
        |           AS score
        |       FROM p JOIN idf ON p.w = idf.w JOIN q ON p.w = q.w
        |       WHERE p.doc_id <> q.qid
        |       GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY score DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id,
        |  CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // robots-compliance audit: per domain, captures that the domain's own
    // robots.txt disallowed (decisions from REAL RFC-9309 parsing, capture
    // set the closed-form subset) — the politeness post-mortem every crawl
    // operation runs
    Q("q134_robots_compliance", (s, dir) => {
      import graft.sources.Robots
      val dec = Robots.decisions(Pages.crawlUrls(s, dir), "doc_id",
        "domain", "path", Pages.robotsTxt(s, dir), ua = "graftbot/1.0")
      dec.where(col("doc_id") % 3 =!= 1) // the captured subset
        .groupBy("domain")
        .agg(count(lit(1)).as("n_captured"),
          sum(when(col("allowed") === 0, 1L).otherwise(0L))
            .as("n_violations"))
        .withColumn("compliance_pct",
          expr("(100 * (n_captured - n_violations)) div n_captured"))
        .orderBy("domain")
    },
      // the q90 closed-form decision table restricted to the capture subset
      """WITH u AS (SELECT doc_id, doc_id % 97 AS k, doc_id % 4 AS m,
        |             doc_id % 5 AS p5, (doc_id % 97) % 5 AS k5
        |           FROM documents WHERE doc_id % 3 <> 1),
        |d AS (SELECT doc_id,
        |        'host' || CAST(k AS VARCHAR) || '.example.org' AS domain,
        |        CASE WHEN m = 3 THEN 0
        |             WHEN m = 1 AND p5 = k5 THEN 0
        |             ELSE 1 END AS allowed
        |      FROM u)
        |SELECT domain, count(*) AS n_captured,
        |  CAST(sum(CASE WHEN allowed = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations,
        |  (100 * CAST(count(*) - sum(CASE WHEN allowed = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT))
        |    // count(*) AS compliance_pct
        |FROM d GROUP BY 1 ORDER BY domain""".stripMargin),

    // recrawl-cadence report: per-url inter-capture gaps recovered by a
    // lag window over the capture series, fed to the exact-percentile
    // machinery — p50/p90 interval per domain, integer rank arithmetic;
    // the oracle predicts every gap in closed form WITHOUT the window
    Q("q135_recrawl_cadence", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // growing, id-varied gaps: capture j arrives 3600·(j + id%5) s
      // after capture j−1, so domains carry a real gap distribution
      val caps = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          explode(expr("sequence(0L, doc_id % 3)")).as("j"))
        .select(
          concat(lit("https://host"), (col("doc_id") % 97).cast("string"),
            lit(".example.org/doc/"), col("doc_id").cast("string")).as("url"),
          (lit(1600000000L) + col("doc_id") * 137L +
            lit(3600L) * (expr("(j * (j + 1)) div 2") +
              col("j") * (col("doc_id") % 5))).as("ts"))
      val gaps = caps
        .withColumn("prev",
          lag(col("ts"), 1).over(Window.partitionBy("url").orderBy("ts")))
        .where(col("prev").isNotNull)
        .select(regexp_extract(col("url"), "^https://([^/]+)", 1)
            .as("domain"),
          col("url"), (col("ts") - col("prev")).as("gap_s"))
        .withColumn("gid",
          concat(col("url"), lit("#"), col("gap_s").cast("string")))
      PipelineOps.exactPercentiles(gaps, "domain", "gap_s", "gid",
          Seq(50, 90))
        .withColumnRenamed("g", "domain")
        .orderBy("domain")
    },
      // every gap in closed form: capture j of doc d arrives
      // 3600·(j + d%5) s after capture j−1
      """WITH g AS (SELECT doc_id, unnest(range(1, doc_id % 3 + 1)) AS j
        |           FROM documents WHERE doc_id % 3 >= 1),
        |v AS (SELECT
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |      AS domain,
        |    CAST(3600 * (j + doc_id % 5) AS BIGINT) AS gap_s,
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR)
        |      || '.example.org/doc/' || CAST(doc_id AS VARCHAR) || '#'
        |      || CAST(3600 * (j + doc_id % 5) AS VARCHAR) AS gid
        |  FROM g),
        |r AS (SELECT domain, gap_s,
        |        CAST(row_number() OVER (PARTITION BY domain
        |            ORDER BY gap_s, gid) AS BIGINT) AS r,
        |        CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n
        |      FROM v)
        |SELECT domain, max(n) AS n_rows,
        |  max(CASE WHEN r = (n * 50 + 99) // 100 THEN gap_s END) AS p50,
        |  max(CASE WHEN r = (n * 90 + 99) // 100 THEN gap_s END) AS p90
        |FROM r GROUP BY domain ORDER BY domain""".stripMargin),

    // AS-OF join: each capture picks up the robots.txt version that was
    // live at its timestamp (latest version time ≤ capture time, −1 when
    // none yet) — the temporal-version lookup Spark lacks natively,
    // expressed as ONE keyed exchange + ONE ordered window (no row
    // amplification); the oracle is DuckDB's own ASOF LEFT JOIN, a fully
    // independent implementation of the same semantics
    Q("q140_asof_robots", (s, dir) => {
      import graft.operators.AsOfJoin
      val versions = s.range(97).select(col("id").as("k"))
        .select(col("k"), explode(expr("sequence(0L, k % 4)")).as("v"))
        .select(
          concat(lit("host"), col("k").cast("string"),
            lit(".example.org")).as("domain"),
          (lit(1600000000L) + col("v") * 100000L + col("k") * 997L)
            .as("vtime"),
          col("v").as("robots_v"))
      val caps = captures(s, dir)
        .select(col("url"),
          regexp_extract(col("url"), "^https://([^/]+)", 1).as("domain"),
          col("ts"))
      AsOfJoin.asOf(caps, versions, "domain", "ts", "vtime", Seq("robots_v"))
        .select(col("url"), col("ts"),
          coalesce(col("robots_v"), lit(-1L)).as("robots_v"))
        .orderBy("url", "ts")
    },
      // DuckDB's native ASOF LEFT JOIN — an independent implementation of
      // the t' <= t latest-version semantics the engine builds from a
      // union + ordered window
      """WITH c AS (SELECT doc_id,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents),
        |caps AS (SELECT
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR) ||
        |      '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |    'host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |      AS domain,
        |    CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts
        |  FROM c),
        |kv AS (SELECT k, unnest(generate_series(0, k % 4)) AS v
        |       FROM (SELECT unnest(range(97)) AS k)),
        |ver AS (SELECT
        |    'host' || CAST(k AS VARCHAR) || '.example.org' AS domain,
        |    CAST(1600000000 + v * 100000 + k * 997 AS BIGINT) AS vtime,
        |    CAST(v AS BIGINT) AS robots_v
        |  FROM kv)
        |SELECT cp.url, cp.ts, coalesce(r.robots_v, -1) AS robots_v
        |FROM caps cp ASOF LEFT JOIN ver r
        |  ON cp.domain = r.domain AND cp.ts >= r.vtime
        |ORDER BY url, ts""".stripMargin),

    // interval/range join: map each page's synthetic IPv4 address to its
    // owning CIDR-ish block via the bucketed equi-join formulation (ranges
    // explode onto 2^24-wide buckets, points hash-join on the bucket,
    // containment filters) — never the BroadcastNestedLoop cross product
    // Spark would pick for a raw BETWEEN join
    Q("q141_ip_range_join", (s, dir) => {
      import graft.operators.RangeJoin
      val pts = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          ((col("doc_id") * 2654435761L) % 4294967296L).as("ip"))
      val ranges = s.range(256).select(col("id").as("b"))
        .select(
          (col("b") * 16777216L + 9000000L).as("lo"),
          (col("b") * 16777216L + 9000000L +
            (col("b") % 9 + 1) * 1111111L).as("hi"),
          (lit(64496L) + col("b")).as("asn"))
      RangeJoin.pointInRange(pts, ranges, "ip", "lo", "hi", Seq("asn"),
          bucketWidth = 16777216L)
        .select(col("doc_id"), col("ip"),
          coalesce(col("asn"), lit(-1L)).as("asn"))
        .orderBy("doc_id")
    },
      // plain BETWEEN join: DuckDB's IEJoin handles the small oracle side;
      // the engine side must produce the identical rows from the bucketed
      // formulation
      """WITH pts AS (SELECT doc_id,
        |    CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS ip
        |  FROM documents),
        |r AS (SELECT
        |    CAST(b * 16777216 + 9000000 AS BIGINT) AS lo,
        |    CAST(b * 16777216 + 9000000 + (b % 9 + 1) * 1111111 AS BIGINT)
        |      AS hi,
        |    CAST(64496 + b AS BIGINT) AS asn
        |  FROM (SELECT unnest(range(256)) AS b))
        |SELECT p.doc_id, p.ip, coalesce(r.asn, -1) AS asn
        |FROM pts p LEFT JOIN r ON p.ip BETWEEN r.lo AND r.hi
        |ORDER BY doc_id""".stripMargin),

    // rendezvous hashing: assign every page to 16 shards and to 17, then
    // count movers per original shard — HRW's contract is that a resize
    // moves ~1/17 of keys (a mod-N scheme moves ~16/17); the oracle
    // replays the portable md5 scores and both arg-maxes
    Q("q190_hrw_resharding", (s, dir) => {
      import graft.operators.Sharding
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      d.withColumn("s16", Sharding.hrwShard("doc_id", 16))
        .withColumn("s17", Sharding.hrwShard("doc_id", 17))
        .groupBy(col("s16").as("shard"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("s16") =!= col("s17"), 1L).otherwise(0L))
            .as("n_moved"))
        .orderBy("shard")
    },
      {
      val hv = graft.text.WeightedSample.hexValSql(
        "CAST(doc_id AS VARCHAR) || '#' || CAST(sh AS VARCHAR)")
      s"""WITH sc AS (SELECT doc_id, sh, $hv AS v
         |  FROM (SELECT doc_id FROM documents)
         |  CROSS JOIN (SELECT unnest(range(17)) AS sh)),
         |a16 AS (SELECT doc_id, sh AS s16 FROM
         |  (SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY v DESC, sh) AS rn FROM sc WHERE sh < 16)
         |  WHERE rn = 1),
         |a17 AS (SELECT doc_id, sh AS s17 FROM
         |  (SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY v DESC, sh) AS rn FROM sc)
         |  WHERE rn = 1)
         |SELECT CAST(s16 AS INT) AS shard, count(*) AS n_keys,
         |  CAST(sum(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_moved
         |FROM a16 JOIN a17 USING (doc_id)
         |GROUP BY 1 ORDER BY shard""".stripMargin
    }),

    Q("q221_domain_gini", (s, dir) => {
      val hosts = Pages.pages(s, dir)
        .select(regexp_extract(col("url"), "host(\\d+)\\.", 1)
          .cast("long").as("host"))
      graft.text.Inequality.giniByKey(hosts, "host")
    },
      {
      s"""WITH pg AS (${Pages.pagesSql}),
         |h AS (SELECT CAST(regexp_extract(url, 'host(\\d+)\\.', 1) AS BIGINT)
         |        AS host FROM pg),
         |counts AS (SELECT host, count(*) AS c FROM h GROUP BY 1),
         |g AS (SELECT c, count(*) AS m FROM counts GROUP BY 1),
         |r AS (SELECT c, m,
         |        coalesce(sum(m) OVER (ORDER BY c
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
         |      FROM g),
         |sx AS (SELECT CAST(sum(m) AS BIGINT) AS n,
         |         CAST(sum(c * m) AS BIGINT) AS sx,
         |         CAST(sum(c * (m * r + m * (m + 1) // 2)) AS BIGINT) AS si
         |       FROM r)
         |SELECT n AS n_keys, sx AS n_items,
         |  CAST((1000000 * (2 * si - (n + 1) * sx)) // (n * sx) AS BIGINT)
         |    AS gini_e6
         |FROM sx""".stripMargin
    }),

    // consistent-hash ring resharding audit: assign the 97 crawl hosts on
    // a 12-node ring (16 vnodes each), add a 13th node, report each
    // host's before/after shard and whether it moved — the broadcast-ring
    // join pattern that scales to 10^9 keys with zero key-side shuffle
    Q("q254_hashring_reshard", (s, dir) => {
      import graft.operators.HashRing
      val hosts = s.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") % 97).as("host")).distinct()
      val before = HashRing.assign(hosts, "host", HashRing.ring(s, 12, 16))
        .withColumnRenamed("node", "node_before")
      val after = HashRing.assign(hosts, "host", HashRing.ring(s, 13, 16))
        .select(col("host"), col("node").as("node_after"))
      before.join(after, "host")
        .select(col("host"), col("khash"), col("node_before"),
          col("node_after"),
          (col("node_before") =!= col("node_after")).cast("int").as("moved"))
    },
      """WITH hosts AS (SELECT DISTINCT doc_id % 97 AS host FROM documents),
        |k AS (SELECT host, (host * 2654435761) % 4294967296 AS khash
        |      FROM hosts),
        |r12 AS (SELECT i // 16 AS node,
        |    ((i * 7919 + 13) * 2654435761) % 4294967296 AS vhash
        |  FROM range(192) t(i)),
        |r13 AS (SELECT i // 16 AS node,
        |    ((i * 7919 + 13) * 2654435761) % 4294967296 AS vhash
        |  FROM range(208) t(i)),
        |a12 AS (SELECT k.host, k.khash,
        |    coalesce(
        |      (SELECT arg_min(node, vhash * 65536 + node) FROM r12
        |       WHERE vhash >= k.khash),
        |      (SELECT arg_min(node, vhash * 65536 + node) FROM r12))
        |      AS node_before
        |  FROM k),
        |a13 AS (SELECT k.host,
        |    coalesce(
        |      (SELECT arg_min(node, vhash * 65536 + node) FROM r13
        |       WHERE vhash >= k.khash),
        |      (SELECT arg_min(node, vhash * 65536 + node) FROM r13))
        |      AS node_after
        |  FROM k)
        |SELECT a12.host, CAST(a12.khash AS BIGINT) AS khash,
        |  CAST(node_before AS BIGINT) AS node_before,
        |  CAST(node_after AS BIGINT) AS node_after,
        |  CAST(CASE WHEN node_before <> node_after THEN 1 ELSE 0 END AS INT)
        |    AS moved
        |FROM a12 JOIN a13 ON a13.host = a12.host""".stripMargin),

    // per-registrable-domain rollup: longest suffix wins (site5.co.uk
    // groups under co.uk, never uk), www./cdn. mirrors collapse into one
    // domain; the suffix list is the broadcast side, hosts are distinct'd
    // before the theta-join so page volume never touches the matcher
    Q("q256_etld1", (s, dir) => {
      val withDomain = graft.sources.PublicSuffix.registrable(
        hostTable(s, dir), "host", suffixes)
      withDomain.groupBy("etld1")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("host")).as("n_hosts"))
    },
      """WITH h AS (SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 'cdn.assets.' WHEN 1 THEN ''
        |          ELSE 'www.' END) ||
        |    'site' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
        |    (CASE doc_id % 6 WHEN 0 THEN 'org' WHEN 1 THEN 'net'
        |          WHEN 2 THEN 'co.uk' WHEN 3 THEN 'ac.jp'
        |          WHEN 4 THEN 'github.io' ELSE 'com' END) AS host,
        |    'site' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
        |    (CASE doc_id % 6 WHEN 0 THEN 'org' WHEN 1 THEN 'net'
        |          WHEN 2 THEN 'co.uk' WHEN 3 THEN 'ac.jp'
        |          WHEN 4 THEN 'github.io' ELSE 'com' END) AS etld1
        |  FROM documents)
        |SELECT etld1, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |FROM h GROUP BY etld1""".stripMargin),

    // type-2 slowly-changing dimension from the capture log: one row per
    // (url, content version) with [valid_from, valid_to] and is_current —
    // the warehouse shape downstream joins consume; change points from a
    // per-url lag(digest) window, versions numbered over the change rows
    Q("q264_scd2_versions", (s, dir) => {
      val byUrl = Window.partitionBy("url").orderBy("ts")
      val changed = captures(s, dir)
        .withColumn("digest", md5(col("text")))
        .withColumn("pd", lag("digest", 1).over(byUrl))
        .where(col("pd").isNull || col("pd") =!= col("digest"))
      changed
        .withColumn("version", row_number().over(byUrl).cast("int"))
        .withColumn("valid_to", lead("ts", 1).over(byUrl) - 1)
        .select(col("url"), col("version"), col("digest"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.cast("int").as("is_current"))
    },
      s"""WITH cap AS ($capturesSql),
         |l AS (SELECT *, lag(digest) OVER (PARTITION BY url ORDER BY ts)
         |        AS pd FROM cap),
         |v AS (SELECT url, ts, digest FROM l
         |      WHERE pd IS NULL OR pd <> digest)
         |SELECT url,
         |  CAST(row_number() OVER (PARTITION BY url ORDER BY ts) AS INT)
         |    AS version,
         |  digest, CAST(ts AS BIGINT) AS valid_from,
         |  CAST(lead(ts) OVER (PARTITION BY url ORDER BY ts) - 1
         |    AS BIGINT) AS valid_to,
         |  CAST(CASE WHEN lead(ts) OVER (PARTITION BY url ORDER BY ts)
         |       IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
         |FROM v""".stripMargin),

    // prefix-free audit: sort URLs once (distributed rank), test ONLY
    // adjacent pairs — a URL set has a prefix violation iff some element
    // prefixes its immediate lexicographic successor; O(n log n), not n²
    Q("q275_prefix_audit", (s, dir) => {
      val urls = fixtures.Pages.pages(s, dir).select("url")
        .unionAll(s.read.parquet(s"$dir/documents.parquet")
          .where(col("doc_id") % 10 === 0) // inject real prefix parents
          .select(concat(lit("https://host"),
            (col("doc_id") % 97).cast("string"),
            lit(".example.org/doc/"), col("doc_id").cast("string"),
            lit("/amp")).as("url")))
        .distinct()
      val ranked = graft.operators.StrPack.groupedRank(
        urls, Nil, "url", "url", "r")
      val succ = ranked.select(col("url").as("next_url"),
        (col("r") - 1).as("r"))
      ranked.join(succ, "r")
        .where(col("next_url").startsWith(col("url")))
        .select(col("url").as("prefix_url"), col("next_url"))
    },
      """WITH u AS (
        |  SELECT concat('https://host', CAST(doc_id % 97 AS VARCHAR),
        |    '.example.org/doc/', CAST(doc_id AS VARCHAR)) AS url
        |  FROM documents
        |  UNION
        |  SELECT concat('https://host', CAST(doc_id % 97 AS VARCHAR),
        |    '.example.org/doc/', CAST(doc_id AS VARCHAR), '/amp')
        |  FROM documents WHERE doc_id % 10 = 0),
        |l AS (SELECT url, lead(url) OVER (ORDER BY url) AS next_url
        |      FROM u)
        |SELECT url AS prefix_url, next_url
        |FROM l
        |WHERE next_url IS NOT NULL AND starts_with(next_url, url)""".stripMargin),

    // rank aggregation: three deterministic host signals (page volume,
    // link in-degree, distinct-term activity) → per-signal dense ranks →
    // Borda score = rank sum → final rank; all keyed aggregates + the
    // tiny 97-row rank windows
    Q("q276_borda_rank", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vol = docs.groupBy((col("doc_id") % 97).as("host"))
        .agg(count(lit(1)).as("v"))
      val indeg = docs.select(expr("(doc_id * 31 + 7) % 97").as("host"))
        .groupBy("host").agg(count(lit(1)).as("v"))
      val terms = docs.select((col("doc_id") % 97).as("host"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("host").agg(countDistinct("w").as("v"))
      def rank(df: DataFrame) = df.withColumn("r",
        row_number().over(Window.orderBy(col("v").desc, col("host"))))
        .select(col("host"), col("r"))
      val borda = rank(vol).withColumnRenamed("r", "r1")
        .join(rank(indeg).withColumnRenamed("r", "r2"), "host")
        .join(rank(terms).withColumnRenamed("r", "r3"), "host")
        .withColumn("borda", col("r1") + col("r2") + col("r3"))
      borda.withColumn("final_rank", row_number()
          .over(org.apache.spark.sql.expressions.Window
            .orderBy(col("borda"), col("host"))).cast("int"))
        .select(col("host"), col("r1").cast("int").as("r1"),
          col("r2").cast("int").as("r2"), col("r3").cast("int").as("r3"),
          col("borda").cast("long").as("borda"), col("final_rank"))
    },
      """WITH vol AS (SELECT doc_id % 97 AS host, count(*) AS v
        |  FROM documents GROUP BY 1),
        |ind AS (SELECT (doc_id * 31 + 7) % 97 AS host, count(*) AS v
        |  FROM documents GROUP BY 1),
        |trm AS (SELECT host, count(DISTINCT w) AS v FROM (
        |    SELECT doc_id % 97 AS host,
        |      unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY host),
        |r1 AS (SELECT host, row_number() OVER (ORDER BY v DESC, host)
        |         AS r FROM vol),
        |r2 AS (SELECT host, row_number() OVER (ORDER BY v DESC, host)
        |         AS r FROM ind),
        |r3 AS (SELECT host, row_number() OVER (ORDER BY v DESC, host)
        |         AS r FROM trm),
        |j AS (SELECT r1.host, r1.r AS r1, r2.r AS r2, r3.r AS r3,
        |        r1.r + r2.r + r3.r AS borda
        |      FROM r1 JOIN r2 ON r2.host = r1.host
        |              JOIN r3 ON r3.host = r1.host)
        |SELECT host, CAST(r1 AS INT) AS r1, CAST(r2 AS INT) AS r2,
        |  CAST(r3 AS INT) AS r3, CAST(borda AS BIGINT) AS borda,
        |  CAST(row_number() OVER (ORDER BY borda, host) AS INT)
        |    AS final_rank
        |FROM j""".stripMargin),

    // how many URLs exist that neither crawl saw: two deterministic
    // samples (hash gates), overlap m → Lincoln–Petersen N = n1·n2/m and
    // the bias-corrected Chapman form, exact integer division — the
    // crawl-coverage estimate next to the true count for calibration
    Q("q277_capture_recapture", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          ((col("doc_id") * 2654435761L) % 100L < 40L).as("s1"),
          ((col("doc_id") * 16807L + 13L) % 100L < 35L).as("s2"))
      docs.agg(
        count(lit(1)).as("n_true"),
        sum(col("s1").cast("long")).as("n1"),
        sum(col("s2").cast("long")).as("n2"),
        sum((col("s1") && col("s2")).cast("long")).as("m"))
        .withColumn("lincoln_petersen", expr("(n1 * n2) div m"))
        .withColumn("chapman",
          expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1"))
    },
      """WITH d AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 100 < 40 AS s1,
        |    (doc_id * 16807 + 13) % 100 < 35 AS s2
        |  FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
        |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m
        |  FROM d)
        |SELECT n_true, n1, n2, m,
        |  CAST((n1 * n2) // m AS BIGINT) AS lincoln_petersen,
        |  CAST(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS BIGINT) AS chapman
        |FROM a""".stripMargin),

    // weighted Jaccard between host term-frequency profiles:
    // J_w = Σ min(fa, fb) / Σ max(fa, fb) over the union vocabulary —
    // the multiset form plain shingle Jaccard under-weights; host pairs
    // bounded to a 7-host panel, the term join is keyed by word
    Q("q278_weighted_jaccard", (s, dir) => {
      val prof = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 97 < 7)
        .select((col("doc_id") % 97).as("host"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("host", "w").agg(count(lit(1)).as("f"))
      // union-vocabulary identity: Σmax = tot_a + tot_b − Σmin, so only
      // the SHARED terms ever join (missing terms contribute min = 0)
      val tot = prof.groupBy("host").agg(sum("f").as("tot"))
      val a = prof.toDF("ha", "w", "fa")
      val b = prof.toDF("hb", "w", "fb")
      a.join(b, "w")
        .where(col("ha") < col("hb"))
        .groupBy("ha", "hb")
        .agg(sum(least(col("fa"), col("fb"))).as("s_min"))
        .join(broadcast(tot.toDF("ha", "tot_a")), "ha")
        .join(broadcast(tot.toDF("hb", "tot_b")), "hb")
        .withColumn("s_max", expr("tot_a + tot_b - s_min"))
        .withColumn("jw_e6", expr("(1000000 * s_min) div s_max"))
        .select("ha", "hb", "s_min", "s_max", "jw_e6")
    },
      """WITH prof AS (SELECT host, w, count(*) AS f FROM (
        |    SELECT doc_id % 97 AS host,
        |      unnest(string_split(text, ' ')) AS w
        |    FROM documents WHERE doc_id % 97 < 7) GROUP BY host, w),
        |tot AS (SELECT host, sum(f) AS tot FROM prof GROUP BY host),
        |p0 AS (SELECT a.host AS ha, b.host AS hb,
        |    sum(least(a.f, b.f)) AS s_min
        |  FROM prof a JOIN prof b ON b.w = a.w AND a.host < b.host
        |  GROUP BY 1, 2),
        |p AS (SELECT p0.ha, p0.hb, p0.s_min,
        |    ta.tot + tb.tot - p0.s_min AS s_max
        |  FROM p0 JOIN tot ta ON ta.host = p0.ha
        |          JOIN tot tb ON tb.host = p0.hb)
        |SELECT ha, hb, CAST(s_min AS BIGINT) AS s_min,
        |  CAST(s_max AS BIGINT) AS s_max,
        |  CAST((1000000 * s_min) // s_max AS BIGINT) AS jw_e6
        |FROM p""".stripMargin),

    // homoglyph screen: hosts where the byte length exceeds the char
    // length contain non-ASCII (here a Cyrillic 'а' planted in every
    // 13th host) — the punycode/mixed-script flag a crawl frontier
    // raises before treating two hosts as the same registrable domain
    Q("q289_homoglyph_hosts", (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(concat(lit("site"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 13 === 0, lit("а"))
            .otherwise(lit("a")), lit(".com")).as("host"))
        .distinct()
        .select(
          (octet_length(col("host")) > length(col("host")))
            .cast("int").as("suspicious"))
        .groupBy("suspicious").agg(count(lit(1)).as("n_hosts")),
      """WITH h AS (SELECT DISTINCT
        |    'site' || CAST(doc_id % 50 AS VARCHAR)
        |      || (CASE WHEN doc_id % 13 = 0 THEN chr(1072) ELSE 'a' END)
        |      || '.com' AS host
        |  FROM documents)
        |SELECT CAST(CASE WHEN strlen(host) > length(host) THEN 1 ELSE 0
        |    END AS INT) AS suspicious,
        |  CAST(count(*) AS BIGINT) AS n_hosts
        |FROM h GROUP BY 1""".stripMargin),

    // JSD(P_host^A || P_host^B): each KL term carries an exact integer
    // ratio inside the ln — P·ln(P/M) = (a/na)·ln(2·a·nb/(a·nb+b·na)) —
    // quantized independently (the cellEntropy construction); zero-count
    // terms contribute exactly 0 and are filtered symmetrically
    Q("q301_jsd_host_drift", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select((col("doc_id") % 97).as("host"), col("lang"),
          (col("doc_id") % 2).as("half"))
      val c = d.groupBy("host", "lang")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("b"))
      val w = Window.partitionBy("host")
      val t = c.withColumn("na", sum("a").over(w))
        .withColumn("nb", sum("b").over(w))
      val termP = when(col("a") > 0,
        round(lit(1e6) * (col("a") / col("na")) *
          log((lit(2) * col("a") * col("nb")) /
            (col("a") * col("nb") + col("b") * col("na"))), 0)
          .cast("long")).otherwise(0L)
      val termQ = when(col("b") > 0,
        round(lit(1e6) * (col("b") / col("nb")) *
          log((lit(2) * col("b") * col("na")) /
            (col("a") * col("nb") + col("b") * col("na"))), 0)
          .cast("long")).otherwise(0L)
      t.select(col("host"), col("na"), col("nb"),
          termP.as("tp"), termQ.as("tq"))
        .groupBy("host")
        .agg(max("na").as("n_a"), max("nb").as("n_b"),
          expr("(sum(tp) + sum(tq)) div 2").as("jsd_micro"))
    },
      """WITH d AS (SELECT doc_id % 97 AS host, lang, doc_id % 2 AS half
        |  FROM documents),
        |c AS (SELECT host, lang,
        |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS b
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT *, sum(a) OVER (PARTITION BY host) AS na,
        |    sum(b) OVER (PARTITION BY host) AS nb
        |  FROM c),
        |q AS (SELECT host, na, nb,
        |    CASE WHEN a > 0 THEN CAST(round(1e6 * (a / CAST(na AS DOUBLE))
        |      * ln((2 * a * nb) / CAST(a * nb + b * na AS DOUBLE)), 0)
        |      AS BIGINT) ELSE 0 END AS tp,
        |    CASE WHEN b > 0 THEN CAST(round(1e6 * (b / CAST(nb AS DOUBLE))
        |      * ln((2 * b * na) / CAST(a * nb + b * na AS DOUBLE)), 0)
        |      AS BIGINT) ELSE 0 END AS tq
        |  FROM t)
        |SELECT host, CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST((sum(tp) + sum(tq)) // 2 AS BIGINT) AS jsd_micro
        |FROM q GROUP BY host""".stripMargin),

    // freshness SLA: pages whose capture age exceeds 180 days, per host —
    // the recrawl-debt report; warc_ts is the derivable capture time,
    // "now" is a fixed audit instant so the report is reproducible
    Q("q308_freshness_sla", (s, dir) => {
      val pg = fixtures.Pages.pages(s, dir)
        .select(regexp_extract(col("url"), "host(\\d+)", 1)
          .cast("long").as("host"),
          unix_timestamp(col("warc_ts")).as("cap_ts"))
      pg.withColumn("stale",
          (lit(1610000000L) - col("cap_ts") > 180L * 86400L).cast("long"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), sum("stale").as("n_stale"))
        .withColumn("stale_e6", expr("(1000000 * n_stale) div n_pages"))
    },
      """WITH pg AS (SELECT doc_id % 97 AS host,
        |    1600000000 + doc_id * 137 AS cap_ts
        |  FROM documents)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(CASE WHEN 1610000000 - cap_ts > 180 * 86400
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
        |  CAST((1000000 * sum(CASE WHEN 1610000000 - cap_ts > 180 * 86400
        |      THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS stale_e6
        |FROM pg GROUP BY host""".stripMargin)
  )
}
