package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.Pages

/** Round-5 thirty-first batch: ANALYZE-style column statistics (the
  * optimizer/audit face of the table layer), Theil inequality with
  * between/within decomposition (the decomposable sibling of the q221
  * Gini), and the Knox space-time interaction test (do spatially close
  * captures also cluster in time — the burst detector composing the
  * Ripley candidate-join discipline with day-support time counting). */
object EntryRound5ae {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q234_table_stats" -> ((s, dir) =>
      graft.table.Analyze.columnStats(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "lang", "text"))),

    "q235_theil_decomp" -> ((s, dir) => {
      val hosts = Pages.pages(s, dir)
        .select(regexp_extract(col("url"), "host(\\d+)\\.", 1)
          .cast("long").as("host"), col("lang"))
      graft.text.Inequality.theilByGroup(hosts, "host", "lang")
    }),

    "q236_knox" -> ((s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("id"), col("x"), col("y"),
          expr("unix_timestamp(warc_ts) div 86400").as("day"))
      graft.cells.RipleyK.knox(pts, "id", "x", "y", "day",
        r = 500L, tau = 2L, maxR = 500L)
    })
  )

  def oracles: Map[String, String] = Map(

    "q234_table_stats" ->
      """SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS ndv,
        |  CAST(min(doc_id) AS VARCHAR) AS min_s,
        |  CAST(max(doc_id) AS VARCHAR) AS max_s
        |FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT lang) AS BIGINT),
        |  CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'text', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT text) AS BIGINT),
        |  CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
        |FROM documents""".stripMargin,

    "q235_theil_decomp" -> {
      s"""WITH pg AS (${Pages.pagesSql}),
         |counts AS (SELECT lang AS g,
         |    CAST(regexp_extract(url, 'host(\\d+)\\.', 1) AS BIGINT) AS k,
         |    count(*) AS x
         |  FROM pg GROUP BY 1, 2),
         |ent AS (SELECT g, x FROM counts
         |        UNION ALL
         |        SELECT '__between', sum(x) FROM counts GROUP BY counts.g
         |        UNION ALL
         |        SELECT '__total', x FROM counts),
         |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(x) AS BIGINT) AS xt
         |        FROM ent GROUP BY 1),
         |lr AS (SELECT ent.g, ent.x, tot.n, tot.xt,
         |         CAST(round(ln((tot.n * ent.x) / tot.xt) * 1e6, 0)
         |           AS BIGINT) AS lr
         |       FROM ent JOIN tot USING (g))
         |SELECT g AS slice, n AS n_keys, xt AS n_items,
         |  CAST(CAST(sum(x * lr) AS HUGEINT) // xt AS BIGINT)
         |    AS theil_micro
         |FROM lr GROUP BY g, n, xt""".stripMargin
    },

    "q236_knox" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(regexp_extract(url, '(\\d+)$$', 1) AS BIGINT)
         |          AS id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         |          CAST(epoch(warc_ts) AS BIGINT) // 86400 AS day
         |        FROM pg),
         |n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM pts),
         |pr AS (SELECT (a.x - b.x) * (a.x - b.x) +
         |              (a.y - b.y) * (a.y - b.y) AS d2,
         |              abs(a.day - b.day) AS dd
         |       FROM pts a JOIN pts b ON a.id < b.id),
         |agg AS (SELECT
         |    CAST(sum(CASE WHEN d2 <= 250000 THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS n_s,
         |    CAST(sum(CASE WHEN dd <= 2 THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS n_t,
         |    CAST(sum(CASE WHEN d2 <= 250000 AND dd <= 2 THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS n_st
         |  FROM pr)
         |SELECT CAST(n AS BIGINT) AS n_points,
         |  CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs,
         |  CAST(n_s AS BIGINT) AS n_s, CAST(n_t AS BIGINT) AS n_t,
         |  CAST(n_st AS BIGINT) AS n_st,
         |  CAST(CASE WHEN n_s = 0 OR n_t = 0 THEN 0
         |       ELSE (1000000::HUGEINT * n_st * (n * (n - 1) // 2))
         |            // (n_s * n_t) END AS BIGINT) AS ratio_e6
         |FROM agg, n""".stripMargin
  )
}
