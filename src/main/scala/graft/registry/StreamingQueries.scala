package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TpchGeo}
import graft.fixtures.TpchGeo.{domain, grid, zres}
import graft.operators.{SpatialJoin, Surrogate}
import CrawlQueries.captures
import SpatialQueries.pagesSrgOracle

/** Structured-streaming queries: memory-sink state, stream-static
  * and stream-stream joins, and their batch twins. */
object StreamingQueries {

  /** Drain a finished memory-sink streaming query into a stable local
    * DataFrame (the q132 harness pattern), then stop the stream. */
  private def drainMemorySink(s: SparkSession,
                              q: org.apache.spark.sql.streaming.StreamingQuery,
                              qname: String): DataFrame = {
    val out = s.createDataFrame(
      java.util.Arrays.asList(s.table(qname).collect(): _*),
      s.table(qname).schema)
    q.stop()
    out
  }

  def all: Seq[Q] = Seq(
    // gap sessionization, batch twin (streaming parity vs this exact
    // transform is asserted in SessionizeSpec); sum_value rounded to 1e-6
    // to absorb cross-engine float-addition order inside a session
    Q("q48_sessionize", (s, dir) =>
      graft.streaming.Sessionize.sessionizeBatch(
          s.read.parquet(s"$dir/events.parquet"), gapSec = 1800)
        .select(col("user_id"),
          unix_millis(col("session_start").cast("timestamp")).as("start_ms"),
          unix_millis(col("session_end").cast("timestamp")).as("end_ms"),
          col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
        .orderBy("user_id", "start_ms"),
      """WITH l AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL
        |        OR epoch_ms(ts) - epoch_ms(prev) > 1800000 THEN 1 ELSE 0 END AS nw
        |      FROM l),
        |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin),

    // --- the flagship surrogate through STRUCTURED STREAMING: pages arrive
    // as an unbounded stream (two micro-batches here), the SAME geotag +
    // spatial join + one-pass (fips, cell) aggregation runs incrementally
    // in complete mode, and the batch ratio tail joins the streamed state —
    // one codepath, driver-gated against the q21 batch oracle.
    Q("q57_pages_srg_stream", (s, dir) => {
      import s.implicits._
      import graft.spark.GeoFunctions._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val pages = Pages.pages(s, dir)
      val mem = MemoryStream[String](s)
      val qname = s"q57_percell_${Q.nextSeq()}"
      val onGrid = inGrid(gridCol(col("x"), grid), gridRow(col("y"), grid), grid)
      val perCell = SpatialJoin.pointInPoly(Pages.geotag(mem.toDF().toDF("url")),
          TpchGeo.counties(s), domain, zres)
        .withColumn("col", when(onGrid, gridCol(col("x"), grid)))
        .withColumn("row", when(onGrid, gridRow(col("y"), grid)))
        .groupBy("fips", "col", "row")
        .agg(count(lit(1)).cast("double").as("numer"))
      val q = perCell.writeStream.format("memory").queryName(qname)
        .outputMode("complete").start()
      val urls = pages.select("url").collect().map(_.getString(0))
      val (first, second) = urls.splitAt(urls.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      // the memory sink's view pins attribute ids, which breaks the
      // numer⋈denom self-join — the (tiny) streamed aggregate is drained
      // into a local relation, which each side of the join re-instances
      val cells = drainMemorySink(s, q, qname)
      val denom = cells.groupBy("fips").agg(sum("numer").as("denom"))
      Surrogate.ratio(
        cells.where(col("col").isNotNull && col("row").isNotNull), denom, 300)
    },
      // the streaming twin must land on the SAME table as the batch oracle
      pagesSrgOracle),

    // the q115 freshness surface through STRUCTURED STREAMING: urls arrive
    // as two micro-batches, the SAME geotag + decay aggregation runs in
    // complete mode, and the final state must equal the batch oracle —
    // incremental crawl monitoring with one codepath
    Q("q122_decay_stream", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.cells.Freshness
      val mem = MemoryStream[String](s)
      val qname = s"q122_decay_${Q.nextSeq()}"
      val pts = Pages.geotag(mem.toDF().toDF("url"))
        .withColumn("pid", Pages.urlId(col("url")))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"),
          expr("(1610000000L - (1600000000L + pid * 137L)) div 86400")
            .as("age_days"))
      val q = Freshness.decayDensity(pts, "ix", "iy", "age_days", 16)
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").start()
      val urls = Pages.pages(s, dir).select("url").collect()
        .map(_.getString(0))
      val (first, second) = urls.splitAt(urls.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname).orderBy("ix", "iy")
    },
      // the streamed decay state must equal this batch computation — the
      // q115 oracle reshaped to the /512 lattice IS the gate
      {
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(floor(x / 512) AS BIGINT) AS ix,
         |             CAST(floor(y / 512) AS BIGINT) AS iy,
         |        (1610000000 - CAST(epoch(warc_ts) AS BIGINT)) // 86400
         |          AS age
         |      FROM pg)
         |SELECT ix, iy, count(*) AS n_pages,
         |  CAST(sum(CASE WHEN age < 0 THEN 1000000
         |       WHEN (age // 16) > 62 THEN 0
         |       ELSE 1000000 >> CAST(age // 16 AS INT) END) AS BIGINT)
         |    AS w_sum
         |FROM t GROUP BY 1, 2 ORDER BY ix, iy""".stripMargin
    }),

    // the CDX dedupe STATE through structured streaming: the q105 capture
    // feed arrives as two micro-batches, per-(url, digest) first-capture
    // ts and capture counts aggregate in complete mode — the incremental
    // form of the capture index, gated by the batch SQL
    Q("q132_cdx_stream", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(String, Long, String)](s)
      val qname = s"q132_cdx_${Q.nextSeq()}"
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
      drainMemorySink(s, q, qname).orderBy("url", "digest")
    },
      // the streamed state must equal this batch aggregation of the q105
      // capture fixture
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents),
        |r AS (SELECT
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts,
        |    md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END) AS digest
        |  FROM c)
        |SELECT url, digest, min(ts) AS first_ts, count(*) AS n_caps
        |FROM r GROUP BY 1, 2 ORDER BY url, digest""".stripMargin),

    // UPDATE-MODE twin of the q132 CDX capture-dedup state: the
    // flatMapGroupsWithState shape that is right at scale — state-store
    // key is exactly (url, digest), each micro-batch emits only updated
    // keys, event-time timeout bounds the store. The final state is
    // reconstructed from the update stream (min first_ts / max n_caps per
    // key — both monotone) and gated by the SAME batch oracle as q132.
    Q("q138_cdx_update_stream", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StatefulCrawl
      val mem = MemoryStream[(String, Long, String)](s)
      val qname = s"q138_cdxu_${Q.nextSeq()}"
      val q = StatefulCrawl.cdxStateUpdate(
          mem.toDF().toDF("url", "ts", "text"), retention = "3650 days")
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").start()
      val rows = captures(s, dir)
        .as[(String, Long, String)].collect()
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy("url", "digest")
        .agg(min("first_ts").as("first_ts"), max("n_caps").as("n_caps"))
        .orderBy("url", "digest")
    },
      // same oracle as q132: the update-mode state must reconstruct to the
      // identical batch aggregation
      """WITH c AS (SELECT doc_id, text,
        |    unnest(range(doc_id % 3 + 1)) AS j FROM documents),
        |r AS (SELECT
        |    'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/doc/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(1600000000 + doc_id * 137 + j * 86400 AS BIGINT) AS ts,
        |    md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END) AS digest
        |  FROM c)
        |SELECT url, digest, min(ts) AS first_ts, count(*) AS n_caps
        |FROM r GROUP BY 1, 2 ORDER BY url, digest""".stripMargin),

    // UPDATE-MODE twin of the q122 decay-density state: per-(ix, iy) page
    // count and exact-integer decay weight sum through
    // flatMapGroupsWithState with event-time eviction; weights computed
    // upstream by the q115 half-life shift arithmetic, so the state op
    // only ever sees (ix, iy, w, ts). Gated by the q122 batch oracle.
    Q("q139_decay_update_stream", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StatefulCrawl
      import graft.cells.Freshness
      val mem = MemoryStream[String](s)
      val qname = s"q139_decayu_${Q.nextSeq()}"
      val pts = Pages.geotag(mem.toDF().toDF("url"))
        .withColumn("pid", Pages.urlId(col("url")))
        .withColumn("ts", lit(1600000000L) + col("pid") * 137L)
        .withColumn("age_days",
          expr("(1610000000L - ts) div 86400"))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"),
          Freshness.halfLifeWeightMicro("age_days", 16).as("w"),
          col("ts"))
      val q = StatefulCrawl.decayStateUpdate(pts, retention = "36500 days")
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").start()
      val urls = Pages.pages(s, dir).select("url").collect()
        .map(_.getString(0))
      val (first, second) = urls.splitAt(urls.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy("ix", "iy")
        .agg(max("n_pages").as("n_pages"), max("w_sum").as("w_sum"))
        .orderBy("ix", "iy")
    },
      // same oracle as q122: update-mode decay state vs the batch density
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(floor(x / 512) AS BIGINT) AS ix,
         |             CAST(floor(y / 512) AS BIGINT) AS iy,
         |        (1610000000 - CAST(epoch(warc_ts) AS BIGINT)) // 86400
         |          AS age
         |      FROM pg)
         |SELECT ix, iy, count(*) AS n_pages,
         |  CAST(sum(CASE WHEN age < 0 THEN 1000000
         |       WHEN (age // 16) > 62 THEN 0
         |       ELSE 1000000 >> CAST(age // 16 AS INT) END) AS BIGINT)
         |    AS w_sum
         |FROM t GROUP BY 1, 2 ORDER BY ix, iy""".stripMargin),

    // stream-static join: the capture stream (MemoryStream, two batches)
    // enriched against a STATIC per-domain robots decision dimension
    // (broadcast — the Structured Streaming stream-static equi-join), then
    // a complete-mode per-domain allowed/blocked rollup; the oracle is the
    // batch equivalent of the whole chain
    Q("q169_stream_static_robots", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val robots = s.range(0, 97)
        .select(concat(lit("host"), col("id")).as("domain"),
          (col("id") % 3 =!= 0).cast("int").as("allowed"))
      val mem = MemoryStream[Long](s)
      val qname = s"q169_ss_${Q.nextSeq()}"
      val q = mem.toDF().toDF("doc_id")
        .select(concat(lit("host"), col("doc_id") % 97).as("domain"))
        .join(robots, "domain") // stream-static equi-join
        .groupBy("domain")
        .agg(count(lit(1)).as("n_fetches"),
          sum(col("allowed").cast("long")).as("n_allowed"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").start()
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long].collect()
      val (first, second) = ids.splitAt(ids.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname).orderBy("domain")
    },
      """WITH f AS (SELECT 'host' || CAST(doc_id % 97 AS STRING) AS domain,
        |    CAST(CASE WHEN (doc_id % 97) % 3 <> 0 THEN 1 ELSE 0 END
        |      AS BIGINT) AS allowed
        |  FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_fetches,
        |  CAST(sum(allowed) AS BIGINT) AS n_allowed
        |FROM f GROUP BY domain ORDER BY domain""".stripMargin),

    // Stream-stream interval join: the fetch stream joined to the index
    // stream on doc id with the index capture inside [fetch, fetch+10s],
    // both sides watermarked (bounded state), append mode; the per-host
    // rollup runs batch-side over the joined memory sink.
    Q("q230_stream_stream_join", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val lm = MemoryStream[Long](s)
      val rm = MemoryStream[Long](s)
      val l = lm.toDF().toDF("id")
        .select(col("id"), timestamp_seconds(lit(1600000000L) +
          (col("id") * 7) % 1000).as("lts"))
        .withWatermark("lts", "1 hour")
      val r = rm.toDF().toDF("rid")
        .select(col("rid"), timestamp_seconds(lit(1600000000L) +
          (col("rid") * 7) % 1000 + col("rid") % 13).as("rts"))
        .withWatermark("rts", "1 hour")
      val qname = s"q230_ssj_${Q.nextSeq()}"
      val q = l.join(r, col("id") === col("rid") &&
          col("rts") >= col("lts") &&
          col("rts") <= col("lts") + expr("INTERVAL 10 SECONDS"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long].collect()
      val (first, second) = ids.splitAt(ids.length / 2)
      lm.addData(first.toIndexedSeq: _*)
      rm.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      lm.addData(second.toIndexedSeq: _*)
      rm.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy((col("id") % 97).as("host"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      """WITH l AS (SELECT doc_id AS id, (doc_id * 7) % 1000 AS lt
        |           FROM documents),
        |r AS (SELECT doc_id AS rid,
        |        (doc_id * 7) % 1000 + doc_id % 13 AS rt
        |      FROM documents),
        |j AS (SELECT l.id FROM l JOIN r ON l.id = r.rid
        |      AND r.rt >= l.lt AND r.rt <= l.lt + 10)
        |SELECT id % 97 AS host, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY 1""".stripMargin),

    // streaming session_window aggregation (30-min gap) over the event
    // stream; a far-future sentinel advances the watermark so append
    // mode flushes every session; rollup columns mirror the batch twin
    Q("q241_session_stream", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, Long)](s)
      val qname = s"q241_sw_${Q.nextSeq()}"
      val q = mem.toDF().toDF("user_id", "tus")
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"))
        .withWatermark("ts", "1 second")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
        .orderBy("tus")
        .as[(Long, Long)].collect()
      val (first, second) = ev.splitAt(ev.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      // sentinel: watermark past every real session's end
      mem.addData((-1L, ev.map(_._2).max + 86400L * 1000000L))
      q.processAllAvailable()
      drainMemorySink(s, q, qname).where(col("user_id") >= 0)
    },
      // session_window's EXCLUSIVE gap rule: a new session starts when the
      // gap is >= 30 min (events merge only while next < prev + gap);
      // window end = last event + gap
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS prev
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL
        |        OR tus - prev >= 1800000000 THEN 1 ELSE 0 END AS nw
        |      FROM l),
        |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY tus
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, CAST(min(tus) AS BIGINT) AS start_us,
        |  CAST(max(tus) + 1800000000 AS BIGINT) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // UPDATE-MODE streaming funnel: per-user earliest signup + first
    // purchase within 2h, state two longs per ACTIVE user with
    // event-time eviction; the feed arrives time-ordered in two
    // micro-batches and the final table is the monotone min-
    // reconstruction over updates, gated by the batch SQL
    Q("q294_funnel_stream", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(Long, String, Long)](s)
      val qname = s"q294_funnel_${Q.nextSeq()}"
      val q = graft.streaming.StatefulCrawl.funnelStateUpdate(
          mem.toDF().toDF("user_id", "event_type", "tus"),
          windowUs = 7200L * 1000000L, retention = "3650 days")
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").start()
      val rows = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tus"))
        .orderBy("tus", "user_id", "event_type")
        .as[(Long, String, Long)].collect()
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy("user_id")
        .agg(min("signup_us").as("signup_us"),
          coalesce(min(when(col("purchase_us") >= 0,
            col("purchase_us"))), lit(-1L)).as("purchase_us"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus
        |  FROM events),
        |su AS (SELECT user_id, min(tus) AS s FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(tus) AS p
        |  FROM e JOIN su ON su.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND tus >= s
        |    AND tus <= s + 7200000000 GROUP BY 1)
        |SELECT su.user_id, CAST(s AS BIGINT) AS signup_us,
        |  CAST(coalesce(p, -1) AS BIGINT) AS purchase_us
        |FROM su LEFT JOIN pu ON pu.user_id = su.user_id""".stripMargin),

    // the platform's own streaming dedupe: duplicate capture events
    // (url, digest) arriving across two micro-batches collapse via
    // dropDuplicatesWithinWatermark — state is bounded by the watermark,
    // no custom state code; gated by the batch DISTINCT
    Q("q299_stream_dedupe", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val mem = MemoryStream[(String, Long, String)](s)
      val qname = s"q299_dedupe_${Q.nextSeq()}"
      val deduped = mem.toDF().toDF("url", "ts", "digest")
        .withColumn("ets", timestamp_seconds(col("ts")))
        .withWatermark("ets", "3650 days")
        .dropDuplicatesWithinWatermark("url", "digest")
      val q = deduped.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      // the q105 capture feed: revisits carry the SAME digest → dupes
      val rows = captures(s, dir)
        .select(col("url"), col("ts"), md5(col("text")).as("digest"))
        .as[(String, Long, String)].collect()
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      drainMemorySink(s, q, qname)
        .groupBy("url", "digest").agg(count(lit(1)).as("n_emitted"))
        .groupBy()
        .agg(count(lit(1)).as("n_distinct_pairs"),
          sum("n_emitted").as("n_emitted_total"),
          max("n_emitted").as("max_per_pair"))
    },
      """WITH cap AS (SELECT
        |    concat('https://host', CAST(doc_id % 97 AS VARCHAR),
        |      '.example.org/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |    md5(CASE WHEN j = 2 THEN 'MOD ' || text ELSE text END)
        |      AS digest
        |  FROM (SELECT doc_id, text, unnest(range(doc_id % 3 + 1)) AS j
        |        FROM documents)),
        |d AS (SELECT DISTINCT url, digest FROM cap)
        |SELECT CAST(count(*) AS BIGINT) AS n_distinct_pairs,
        |  CAST(count(*) AS BIGINT) AS n_emitted_total,
        |  CAST(1 AS BIGINT) AS max_per_pair
        |FROM d""".stripMargin)
  )
}
