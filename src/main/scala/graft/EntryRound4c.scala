package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TpchGeo}
import graft.fixtures.TpchGeo.{grid, domain, zres}
import graft.operators.Surrogate
import graft.sources.Sitemaps
import graft.text.{CrawlOps, PipelineOps}

/** Round-4 batch 3: crawl-operations metrics that close the loop between
  * the webtext layer and the geospatial flagship — a quality-weighted page
  * surrogate (the srgcreate weight-function path driven by a page-level
  * signal), sitemap coverage / freshness-lag audits, and link-rot rates.
  * Same oracle discipline throughout. */
object EntryRound4c {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the flagship surrogate WEIGHTED by a page-quality signal (text
    // length as the stand-in score): srgcreate's weight-attribute path
    // (sumpoly.c weight mode) over web pages — numerators/denominators
    // become exact integer-valued double sums, still bit-exact vs SQL
    "q124_srg_quality" -> ((s, dir) =>
      Surrogate.pointSurrogate(
        Pages.geotag(Pages.pages(s, dir))
          .withColumn("wq", length(col("text")).cast("double")),
        TpchGeo.counties(s), grid, domain, zres, srgCode = 310,
        weight = Some("wq"))),

    // sitemap coverage audit: per domain, how much of what the site LISTS
    // has actually been captured — listed urls parsed from real sitemap
    // XML, capture set a closed-form subset both engines share
    "q125_sitemap_coverage" -> ((s, dir) => {
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
    }),

    // freshness lag: the newest lastmod a domain advertises (parsed from
    // real sitemap XML) vs the newest capture day — the recrawl
    // prioritization signal; domains with no captures report -1/-999999
    "q126_freshness_lag" -> ((s, dir) => {
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
    }),

    // link rot: per source domain, the share of outlinks (anchors
    // re-extracted from real markup) pointing at urls the crawl never
    // captured — the dead-link dashboard metric
    "q127_link_rot" -> ((s, dir) => {
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
    }),

    // soft dedup: duplicates downweighted, not dropped — each md5 group
    // survives with ~1 expected copy via the deterministic q89 hash gate;
    // the oracle re-derives every keep decision from the same closed form
    "q128_soft_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = docs
        .unionByName(docs.where(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 600000).as("doc_id"), col("text")))
      graft.text.PipelineOps.softDedupWeights(corpus, "doc_id", "text")
        .orderBy("id")
    }),

    // crawl-quota apportionment: the 5-iteration integer PageRank feeds a
    // largest-remainder split of a 10000-document sampling budget —
    // quotas sum to EXACTLY the budget, every seat decision integer-exact,
    // so the oracle gates rank + apportionment end to end
    "q129_quota_apportion" -> ((s, dir) =>
      graft.graph.Apportion.largestRemainder(
          graft.graph.DomainRank.pageRank(
            PipelineOps.domainLinkGraph(Pages.linkPages(s, dir),
              "doc_id", "url", "html"),
            iters = 5),
          "domain", "pr", budget = 10000)
        .orderBy("key")),

    // "more like this": top-5 related documents per probe by the integer
    // tf-idf dot product over the shared-term inverted-index join — idf
    // quantized once per term, every pair score exact integer arithmetic
    "q130_related_docs" -> ((s, dir) =>
      CrawlOps.relatedTopK(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          probeIds = Seq(1L, 2L, 3L), k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("qid", "rank")),

    // per-cell language-diversity map: Shannon entropy of each tile's
    // language mix in integer micro-nats (per-category independent
    // quantization makes the float statistic order-exact) — the
    // monolingual-region crawl-coverage diagnostic
    "q131_cell_diversity" -> ((s, dir) => {
      import graft.cells.Diversity
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"), col("lang"))
      Diversity.cellEntropy(pts, "ix", "iy", "lang")
        .orderBy("ix", "iy")
    }),

    // the CDX dedupe STATE through structured streaming: the q105 capture
    // feed arrives as two micro-batches, per-(url, digest) first-capture
    // ts and capture counts aggregate in complete mode — the incremental
    // form of the capture index, gated by the batch SQL
    "q132_cdx_stream" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(String, Long, String)](s)
      val qname = s"q132_cdx_${EntryRound4c.streamSeq.incrementAndGet()}"
      val q = mem.toDF().toDF("url", "ts", "text")
        .select(col("url"), col("ts"), md5(col("text")).as("digest"))
        .groupBy("url", "digest")
        .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_caps"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").start()
      val rows = captures(s, dir)
        .as[(String, Long, String)].collect()
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val out = s.createDataFrame(
        java.util.Arrays.asList(s.table(qname).collect(): _*),
        s.table(qname).schema)
      q.stop()
      out.orderBy("url", "digest")
    }),

    // trending terms between two crawls: log-ratio of per-term counts in
    // integer micro-nats (one division + ln + round over exact (c+1)
    // operands), top-20 risers — the corpus-drift monitor
    "q133_trending_terms" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      def counts(cond: org.apache.spark.sql.Column) = docs.where(cond)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val v1 = counts(col("doc_id") % 2 === 0)
        .withColumnRenamed("c", "c1")
      val v2 = counts(col("doc_id") % 2 =!= 0)
        .withColumnRenamed("c", "c2")
      v1.join(v2, Seq("w"), "full_outer")
        .select(col("w"), coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
        .where(col("c1") + col("c2") >= 20)
        .withColumn("drift_micro",
          round(log((col("c2") + lit(1L)) / (col("c1") + lit(1L))) * 1e6, 0)
            .cast("long"))
        // salted two-phase top-k (the relatedTopK discipline): the whole
        // vocabulary never funnels through one task — each of 16 salt
        // shards keeps its local top-20, and only ≤ 16·20 survivors meet
        // the final (tiny) total-order window
        .withColumn("__salt", pmod(hash(col("w")), lit(16)))
        .withColumn("__pr", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("__salt")
            .orderBy(col("drift_micro").desc, col("w"))))
        .where(col("__pr") <= 20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("drift_micro").desc, col("w"))))
        .where(col("rank") <= 20)
        .select(col("rank").cast("int").as("rank"), col("w"), col("c1"),
          col("c2"), col("drift_micro"))
        .orderBy("rank")
    }),

    // robots-compliance audit: per domain, captures that the domain's own
    // robots.txt disallowed (decisions from REAL RFC-9309 parsing, capture
    // set the closed-form subset) — the politeness post-mortem every crawl
    // operation runs
    "q134_robots_compliance" -> ((s, dir) => {
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
    }),

    // recrawl-cadence report: per-url inter-capture gaps recovered by a
    // lag window over the capture series, fed to the exact-percentile
    // machinery — p50/p90 interval per domain, integer rank arithmetic;
    // the oracle predicts every gap in closed form WITHOUT the window
    "q135_recrawl_cadence" -> ((s, dir) => {
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
    }),

    // county-level language diversity THROUGH the real spatial join:
    // geotag → cell-cover prefilter → exact PIP → per-county Shannon
    // entropy of the language mix — the geospatial flagship composed with
    // the webtext diversity metric, one oracle gating both
    "q136_county_diversity" -> ((s, dir) => {
      import graft.cells.Diversity
      import graft.operators.SpatialJoin
      val tagged = SpatialJoin.pointInPoly(
        Pages.geotag(Pages.pages(s, dir)), TpchGeo.counties(s), domain, zres)
      Diversity.cellEntropy(
          tagged.select(col("fips").as("ix"), lit(0L).as("iy"), col("lang")),
          "ix", "iy", "lang")
        .select(col("ix").as("fips"), col("n_pages"), col("n_langs"),
          col("ent_micro"))
        .orderBy("fips")
    })
  )

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The q105 multi-capture fixture (shared by the streaming twin). */
  private[graft] def captures(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0L, doc_id % 3)")).as("j"))
      .select(
        concat(lit("https://host"), (col("doc_id") % 97).cast("string"),
          lit(".example.org/doc/"), col("doc_id").cast("string")).as("url"),
        (lit(1600000000L) + col("doc_id") * 137L + col("j") * 86400L).as("ts"),
        when(col("j") === 2, concat(lit("MOD "), col("text")))
          .otherwise(col("text")).as("text"))

  def oracles: Map[String, String] = Map(
    "q124_srg_quality" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  CAST(floor(x/1000.0) AS INT)+1 AS col,
         |  CAST(floor(y/1000.0) AS INT)+1 AS "row", len(text) AS wq FROM pg),
         |num AS (SELECT fips, col, "row", CAST(sum(wq) AS DOUBLE) AS numer
         |        FROM tagged GROUP BY 1, 2, 3),
         |den AS (SELECT fips, CAST(sum(wq) AS DOUBLE) AS denom
         |        FROM tagged GROUP BY 1)
         |${EntryPages.srgSelect(310)}""".stripMargin,

    "q125_sitemap_coverage" ->
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
        |FROM l GROUP BY 1 ORDER BY domain""".stripMargin,

    "q126_freshness_lag" ->
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
        |FROM a ORDER BY domain""".stripMargin,

    "q127_link_rot" ->
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
        |FROM e GROUP BY 1 ORDER BY src_domain""".stripMargin,

    "q128_soft_dedup" ->
      """WITH c AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 500000, text FROM documents
        |    WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id + 600000, text FROM documents
        |    WHERE doc_id % 20 = 0),
        |g AS (SELECT doc_id AS id,
        |        CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
        |          AS n_dups
        |      FROM c),
        |w AS (SELECT id, n_dups,
        |        CAST(1000 // n_dups AS BIGINT) AS milli FROM g)
        |SELECT id, n_dups, milli,
        |  CAST(milli // 1000 +
        |    CASE WHEN (id * 131 + 7) % 1000 < milli % 1000
        |         THEN 1 ELSE 0 END AS INT) AS keep
        |FROM w ORDER BY id""".stripMargin,

    "q129_quota_apportion" -> {
      // the q88 rank oracle verbatim as a CTE, then the identical
      // largest-remainder arithmetic
      s"""WITH ranks AS (${EntryRound4.oracles("q88_pagerank")}),
         |tot AS (SELECT sum(pr) AS st FROM ranks),
         |based AS (SELECT domain AS key, pr AS s,
         |            CAST((10000 * pr) // st AS BIGINT) AS base,
         |            CAST((10000 * pr) % st AS BIGINT) AS rem
         |          FROM ranks, tot),
         |lo AS (SELECT CAST(10000 - sum(base) AS BIGINT) AS l FROM based),
         |r AS (SELECT key, s, base, rem,
         |        row_number() OVER (ORDER BY rem DESC, key) AS rr
         |      FROM based)
         |SELECT key, s, base,
         |  CAST(CASE WHEN rr <= l THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |  base + CAST(CASE WHEN rr <= l THEN 1 ELSE 0 END AS BIGINT)
         |    AS quota
         |FROM r, lo ORDER BY key""".stripMargin
    },

    "q130_related_docs" ->
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
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q131_cell_diversity" -> {
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |c AS (SELECT CAST(floor(x / 512) AS BIGINT) AS ix,
         |             CAST(floor(y / 512) AS BIGINT) AS iy, lang,
         |        count(*) AS c
         |      FROM pg GROUP BY 1, 2, 3),
         |t AS (SELECT ix, iy, c,
         |        CAST(sum(c) OVER (PARTITION BY ix, iy) AS BIGINT) AS n
         |      FROM c)
         |SELECT ix, iy, max(n) AS n_pages, count(*) AS n_langs,
         |  CAST(sum(CAST(round(1e6 * (c / n) * ln(n / c), 0) AS BIGINT))
         |    AS BIGINT) AS ent_micro
         |FROM t GROUP BY 1, 2 ORDER BY ix, iy""".stripMargin
    },

    // the streamed state must equal this batch aggregation of the q105
    // capture fixture
    "q132_cdx_stream" ->
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents),
        |r AS (SELECT
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts,
        |    md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END) AS digest
        |  FROM c)
        |SELECT url, digest, min(ts) AS first_ts, count(*) AS n_caps
        |FROM r GROUP BY 1, 2 ORDER BY url, digest""".stripMargin,

    "q133_trending_terms" ->
      """WITH t1 AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        |t2 AS (SELECT unnest(string_split(text, ' ')) AS w
        |       FROM documents WHERE doc_id % 2 <> 0),
        |c1 AS (SELECT w, count(*) AS c1 FROM t1 GROUP BY 1),
        |c2 AS (SELECT w, count(*) AS c2 FROM t2 GROUP BY 1),
        |j AS (SELECT coalesce(c1.w, c2.w) AS w,
        |        coalesce(c1.c1, 0) AS c1, coalesce(c2.c2, 0) AS c2
        |      FROM c1 FULL OUTER JOIN c2 ON c1.w = c2.w),
        |f AS (SELECT w, c1, c2,
        |        CAST(round(ln((c2 + 1.0) / (c1 + 1)) * 1e6, 0) AS BIGINT)
        |          AS drift_micro
        |      FROM j WHERE c1 + c2 >= 20),
        |r AS (SELECT *, row_number() OVER
        |        (ORDER BY drift_micro DESC, w) AS rank FROM f)
        |SELECT CAST(rank AS INT) AS rank, w, c1, c2, drift_micro
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // the q90 closed-form decision table restricted to the capture subset
    "q134_robots_compliance" ->
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
        |FROM d GROUP BY 1 ORDER BY domain""".stripMargin,

    // every gap in closed form: capture j of doc d arrives
    // 3600·(j + d%5) s after capture j−1
    "q135_recrawl_cadence" ->
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
        |FROM r GROUP BY domain ORDER BY domain""".stripMargin,

    "q136_county_diversity" -> {
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips, lang FROM pg),
         |c AS (SELECT fips, lang, count(*) AS c FROM t GROUP BY 1, 2),
         |w AS (SELECT fips, c,
         |        CAST(sum(c) OVER (PARTITION BY fips) AS BIGINT) AS n
         |      FROM c)
         |SELECT fips, max(n) AS n_pages, count(*) AS n_langs,
         |  CAST(sum(CAST(round(1e6 * (c / n) * ln(n / c), 0) AS BIGINT))
         |    AS BIGINT) AS ent_micro
         |FROM w GROUP BY 1 ORDER BY fips""".stripMargin
    }
  )
}
