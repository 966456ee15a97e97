package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.util.concurrent.atomic.AtomicLong
import graft.fixtures.Pages

/** Round-5 twenty-ninth batch: TextRank keyword extraction (the word
  * co-occurrence face of the integer PageRank), per-cell Mann–Kendall
  * trend (exact-integer spatiotemporal drift), incrementally maintained
  * Moran's I over a snapshot CDF delta (the spatial-stats layer is
  * O(delta)-maintainable — the north star's checkpoint-resume story
  * applied to analytics state), and the stream-stream interval join that
  * completes the streaming join-class coverage (stream-static q169,
  * stream-stream here). */
object EntryRound5ac {

  private[graft] val seq = new AtomicLong(0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TextRank: undirected word co-occurrence edges (adjacent token
    // pairs) → the q88 exact-integer PageRank (3 passes) → salted
    // two-phase top-15. Every exchange is vocabulary-bounded.
    "q227_textrank" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = docs
        .select(split(col("text"), " ").as("t"))
        .select(explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
            " (x, y) -> named_struct('w1', x, 'w2', y))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .where(col("w1") =!= "" && col("w2") =!= "" &&
          col("w1") =!= col("w2"))
      val edges = pairs
        .select(explode(array(
          struct(col("w1").as("src_domain"), col("w2").as("dst_domain")),
          struct(col("w2").as("src_domain"), col("w1").as("dst_domain"))))
          .as("e"))
        .select(col("e.src_domain"), col("e.dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(count(lit(1)).as("n_links"))
      val pr = graft.graph.DomainRank.pageRank(edges, iters = 3)
      pr.withColumn("__salt", pmod(hash(col("domain")), lit(16)))
        .withColumn("__pr", row_number().over(
          Window.partitionBy("__salt")
            .orderBy(col("pr").desc, col("domain"))))
        .where(col("__pr") <= 15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pr").desc, col("domain"))))
        .where(col("rank") <= 15)
        .select(col("rank").cast("int").as("rank"),
          col("domain").as("word"), col("pr"))
    }),

    // Mann–Kendall per-cell activity trend over capture days
    "q228_cell_trend" -> ((s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 2000).cast("long").as("cx"),
          (col("y") / 2000).cast("long").as("cy"),
          expr("unix_timestamp(warc_ts) div 86400").as("day"))
      graft.cells.Trend.mannKendall(pts, "cx", "cy", "day")
    }),

    // Incrementally maintained Moran's I: v1 counts + CDF delta == v2
    // counts (certified in-query by a bidirectional exceptAll), then the
    // autocorrelation runs on the MAINTAINED counts — the point stream is
    // scanned once per ingest, never re-scanned for the statistic. At
    // 100 TB only the delta side runs; the full recompute here is the
    // certificate, not the scale path.
    "q229_incremental_moran" -> ((s, dir) => {
      import graft.table.SnapshotTable
      val root = SparkEntry.scratch(s, s"q229_${seq.incrementAndGet()}", dir)
      val t = new SnapshotTable(root)
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("id"),
          (col("x") / 250).cast("long").as("cx"),
          (col("y") / 250).cast("long").as("cy"))
      val base = pts.where(col("id") % 10 =!= 0)
      val late = pts.where(col("id") % 10 === 0)
      val v1 = t.append(base, "pts_v1").version
      val v2 = t.append(late, "pts_v2").version
      val countsV1 = base.groupBy("cx", "cy").agg(count(lit(1)).as("c"))
      val delta = t.changes(s, v1, v2)
        .groupBy("cx", "cy")
        .agg(sum(when(col("_op") === "insert", 1L).otherwise(-1L)).as("d"))
      val maintained = countsV1.join(delta, Seq("cx", "cy"), "full_outer")
        .select(col("cx"), col("cy"),
          (coalesce(col("c"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("c"))
        .where(col("c") =!= 0L)
        .transform(graft.spark.PersistTracker.persist)
      val full = t.read(s).groupBy("cx", "cy").agg(count(lit(1)).as("c"))
        .transform(graft.spark.PersistTracker.persist) // two exceptAll sides
      require(maintained.exceptAll(full).isEmpty &&
        full.exceptAll(maintained).isEmpty,
        "maintained counts diverge from full recompute")
      graft.cells.Autocorr.moransIFromCounts(maintained, 32, 32)
    }),

    // Stream-stream interval join: the fetch stream joined to the index
    // stream on doc id with the index capture inside [fetch, fetch+10s],
    // both sides watermarked (bounded state), append mode; the per-host
    // rollup runs batch-side over the joined memory sink.
    "q230_stream_stream_join" -> ((s, dir) => {
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
      val qname = s"q230_ssj_${seq.incrementAndGet()}"
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
      val out = s.createDataFrame(
        java.util.Arrays.asList(s.table(qname).collect(): _*),
        s.table(qname).schema)
      q.stop()
      out.groupBy((col("id") % 97).as("host"))
        .agg(count(lit(1)).as("n_pairs"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q227_textrank" -> {
      val edgeCtes =
        """tok AS (SELECT string_split(text, ' ') AS t FROM documents),
          |pr0p AS (SELECT t[i] AS w1, t[i + 1] AS w2
          |         FROM tok, unnest(generate_series(1, len(t) - 1)) g(i)
          |         WHERE t[i] <> '' AND t[i + 1] <> ''
          |           AND t[i] <> t[i + 1]),
          |e AS (SELECT src_domain, dst_domain, count(*) AS n_links
          |      FROM (SELECT w1 AS src_domain, w2 AS dst_domain FROM pr0p
          |            UNION ALL
          |            SELECT w2, w1 FROM pr0p)
          |      GROUP BY 1, 2),
          |nodes AS (SELECT DISTINCT src_domain AS domain FROM e
          |          UNION SELECT DISTINCT dst_domain FROM e),
          |cnt AS (SELECT count(*) AS nc FROM nodes),
          |outw AS (SELECT src_domain, sum(n_links) AS ow FROM e GROUP BY 1),
          |pr0 AS (SELECT domain, 1000000000000 // nc AS pr
          |        FROM nodes CROSS JOIN cnt)""".stripMargin
      val iterCtes = (1 to 3).map { k =>
        val prev = if (k == 1) "pr0" else s"it${k - 1}"
        s"""it$k AS (SELECT nd2.domain,
           |    (15 * (1000000000000 // nc)) // 100 +
           |    (85 * coalesce(s.c, 0)) // 100 AS pr
           |  FROM nodes nd2 CROSS JOIN cnt
           |  LEFT JOIN (SELECT e.dst_domain AS domain,
           |               sum((p.pr * e.n_links) // o.ow) AS c
           |             FROM e JOIN $prev p ON e.src_domain = p.domain
           |             JOIN outw o ON e.src_domain = o.src_domain
           |             GROUP BY 1) s ON nd2.domain = s.domain)""".stripMargin
      }
      "WITH " + (edgeCtes +: iterCtes).mkString(",\n") +
        """
          |, ranked AS (SELECT domain, pr,
          |    row_number() OVER (ORDER BY pr DESC, domain) AS rank
          |  FROM it3)
          |SELECT CAST(rank AS INT) AS rank, domain AS word,
          |  CAST(pr AS BIGINT) AS pr
          |FROM ranked WHERE rank <= 15""".stripMargin
    },

    "q228_cell_trend" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 2000) AS BIGINT) AS cx,
         |               CAST(floor(y / 2000) AS BIGINT) AS cy,
         |               CAST(epoch(warc_ts) AS BIGINT) // 86400 AS day
         |        FROM pg),
         |c AS (SELECT cx, cy, day, count(*) AS c
         |      FROM pts GROUP BY 1, 2, 3),
         |s AS (SELECT a.cx, a.cy,
         |        CAST(sum(CASE WHEN b.c > a.c THEN 1
         |                      WHEN b.c < a.c THEN -1 ELSE 0 END)
         |          AS BIGINT) AS s_stat
         |      FROM c a JOIN c b
         |        ON a.cx = b.cx AND a.cy = b.cy AND a.day < b.day
         |      GROUP BY 1, 2),
         |nd AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_days
         |       FROM c GROUP BY 1, 2)
         |SELECT nd.cx, nd.cy, nd.n_days,
         |  coalesce(s.s_stat, 0) AS s_stat,
         |  CASE WHEN coalesce(s.s_stat, 0) > 0 THEN 'inc'
         |       WHEN coalesce(s.s_stat, 0) < 0 THEN 'dec'
         |       ELSE 'flat' END AS trend
         |FROM nd LEFT JOIN s USING (cx, cy)""".stripMargin,

    "q229_incremental_moran" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 250) AS BIGINT) AS cx,
         |               CAST(floor(y / 250) AS BIGINT) AS cy FROM pg),
         |lat AS (SELECT a.g AS cx, b.g AS cy
         |        FROM (SELECT unnest(range(32)) AS g) a,
         |             (SELECT unnest(range(32)) AS g) b),
         |cnt AS (SELECT cx, cy, count(*) AS c FROM pts GROUP BY 1, 2),
         |cells AS (SELECT lat.cx, lat.cy,
         |            CAST(coalesce(cnt.c, 0) AS HUGEINT) AS n
         |          FROM lat LEFT JOIN cnt USING (cx, cy)),
         |tot AS (SELECT CAST(sum(n) AS HUGEINT) AS s,
         |               CAST(count(*) AS HUGEINT) AS nc FROM cells),
         |d AS (SELECT cx, cy, nc * n - s AS d FROM cells, tot),
         |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
         |                              (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
         |pairs AS (SELECT a.d AS da, b.d AS db
         |          FROM d a, off, d b
         |          WHERE b.cx = a.cx + off.dx AND b.cy = a.cy + off.dy),
         |agg AS (SELECT CAST(count(*) AS HUGEINT) AS w,
         |               CAST(sum(da * db) AS HUGEINT) AS num FROM pairs),
         |den AS (SELECT CAST(sum(d * d) AS HUGEINT) AS den FROM d)
         |SELECT CAST(nc AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
         |  CAST(s AS BIGINT) AS n_points,
         |  CAST(CASE WHEN den = 0 OR w = 0 THEN 0
         |       ELSE (1000000 * nc * num) // (w * den) END AS BIGINT)
         |    AS morans_e6
         |FROM tot, agg, den""".stripMargin,

    "q230_stream_stream_join" ->
      """WITH l AS (SELECT doc_id AS id, (doc_id * 7) % 1000 AS lt
        |           FROM documents),
        |r AS (SELECT doc_id AS rid,
        |        (doc_id * 7) % 1000 + doc_id % 13 AS rt
        |      FROM documents),
        |j AS (SELECT l.id FROM l JOIN r ON l.id = r.rid
        |      AND r.rt >= l.lt AND r.rt <= l.lt + 10)
        |SELECT id % 97 AS host, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY 1""".stripMargin
  )
}
