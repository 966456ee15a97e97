package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.Pages

/** Round-5 twenty-eighth batch: the spatial-statistics layer around the
  * allocation grid — grid-density (DBSCAN-style) clustering of page mass,
  * local Moran's I (LISA) hot/cold-spot quadrants, Ripley's K multi-scale
  * point-pattern statistic, and the smoothed KL term-distribution
  * divergence that completes the drift suite (χ² q161, KS q222). Every
  * operator collapses the data-sized stream to a grid- or
  * vocabulary-bounded table before any joint work, and performs division
  * once, in exact integer arithmetic, on the final aggregate. */
object EntryRound5ab {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q223_density_clusters" -> ((s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 1000).cast("long").as("cx"),
          (col("y") / 1000).cast("long").as("cy"))
      graft.cells.Density.clusters(pts, "cx", "cy", ncols = 8, minPts = 8L)
    }),

    "q224_lisa_quadrants" -> ((s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 500).cast("long").as("cx"),
          (col("y") / 500).cast("long").as("cy"))
      graft.cells.Autocorr.localMorans(pts, "cx", "cy", 16, 16)
        .select(col("cx"), col("cy"), col("d"), col("lag"),
          col("lisa").cast("long").as("lisa"), col("quad"))
    }),

    "q225_ripley_k" -> ((s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("id"), col("x"), col("y"))
      graft.cells.RipleyK.k(pts, "id", "x", "y",
        radii = Seq(250L, 500L, 1000L), maxR = 1000L,
        area = 8000L * 8000L)
    }),

    "q226_kl_drift" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang").isin("en", "de"))
        .select(explode(split(col("text"), " ")).as("w"),
          when(col("lang") === "en", 0).otherwise(1).as("slice"))
        .where(col("w") =!= "")
      graft.text.Inequality.klSmoothed(toks, "w", "slice")
    })
  )

  def oracles: Map[String, String] = Map(

    "q223_density_clusters" ->
      s"""WITH RECURSIVE
         |pg AS (${Pages.geotaggedSql}),
         |c AS (SELECT CAST(floor(x / 1000) AS BIGINT) AS cx,
         |             CAST(floor(y / 1000) AS BIGINT) AS cy,
         |             count(*) AS n
         |      FROM pg GROUP BY 1, 2),
         |dense AS (SELECT cy * 8 + cx AS id, cx, cy, n
         |          FROM c WHERE n >= 8),
         |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
         |                              (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
         |e AS (SELECT a.id AS u, b.id AS v
         |      FROM dense a, off, dense b
         |      WHERE b.cx = a.cx + off.dx AND b.cy = a.cy + off.dy),
         |r AS (SELECT id AS u, id AS v FROM dense
         |      UNION
         |      SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
         |cc AS (SELECT u AS id, min(v) AS cluster FROM r GROUP BY u)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n) AS BIGINT) AS n_points
         |FROM cc JOIN dense USING (id) GROUP BY 1""".stripMargin,

    "q224_lisa_quadrants" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 500) AS BIGINT) AS cx,
         |               CAST(floor(y / 500) AS BIGINT) AS cy FROM pg),
         |lat AS (SELECT a.g AS cx, b.g AS cy
         |        FROM (SELECT unnest(range(16)) AS g) a,
         |             (SELECT unnest(range(16)) AS g) b),
         |cnt AS (SELECT cx, cy, count(*) AS c FROM pts GROUP BY 1, 2),
         |cells AS (SELECT lat.cx, lat.cy, coalesce(cnt.c, 0) AS n
         |          FROM lat LEFT JOIN cnt USING (cx, cy)),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS s,
         |               CAST(count(*) AS BIGINT) AS nc FROM cells),
         |d AS (SELECT cx, cy, CAST(nc * n - s AS BIGINT) AS d
         |      FROM cells, tot),
         |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
         |                              (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
         |lag AS (SELECT a.cx, a.cy, CAST(sum(b.d) AS BIGINT) AS lag
         |        FROM d a, off, d b
         |        WHERE b.cx = a.cx + off.dx AND b.cy = a.cy + off.dy
         |        GROUP BY 1, 2)
         |SELECT d.cx, d.cy, d.d, lag.lag,
         |  CAST(d.d * lag.lag AS BIGINT) AS lisa,
         |  CASE WHEN d.d > 0 AND lag.lag > 0 THEN 'HH'
         |       WHEN d.d < 0 AND lag.lag < 0 THEN 'LL'
         |       WHEN d.d > 0 AND lag.lag < 0 THEN 'HL'
         |       WHEN d.d < 0 AND lag.lag > 0 THEN 'LH'
         |       ELSE 'NS' END AS quad
         |FROM d JOIN lag USING (cx, cy)""".stripMargin,

    "q225_ripley_k" ->
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(regexp_extract(url, '(\\d+)$$', 1) AS BIGINT)
         |          AS id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
         |        FROM pg),
         |n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM pts),
         |d2 AS (SELECT (a.x - b.x) * (a.x - b.x) +
         |              (a.y - b.y) * (a.y - b.y) AS d2
         |       FROM pts a JOIN pts b ON a.id < b.id),
         |rr AS (SELECT unnest([250, 500, 1000]) AS r),
         |p AS (SELECT rr.r, CAST(sum(CASE WHEN d2.d2 <= rr.r * rr.r
         |        THEN 1 ELSE 0 END) AS HUGEINT) AS np
         |      FROM rr, d2 GROUP BY rr.r)
         |SELECT CAST(p.r AS BIGINT) AS r, CAST(n.n AS BIGINT) AS n_points,
         |  CAST(p.np AS BIGINT) AS n_pairs,
         |  CAST((1000000::HUGEINT * 64000000 * 2 * p.np)
         |    // (n.n * (n.n - 1)) AS BIGINT) AS k_e6
         |FROM p, n""".stripMargin,

    "q226_kl_drift" ->
      """WITH t AS (SELECT w,
        |    CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS slice
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE lang IN ('en', 'de'))
        |  WHERE w <> ''),
        |byw AS (SELECT w,
        |    sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS c2
        |  FROM t GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM byw),
        |lr AS (SELECT c1, CAST(round(ln(
        |      ((c1 + 1) * (n2 + v)) / ((c2 + 1) * (n1 + v)) ) * 1e6, 0)
        |    AS BIGINT) AS lr_micro
        |  FROM byw, tot)
        |SELECT v AS v_size, n1, n2,
        |  CAST(CAST(sum((c1 + 1) * lr_micro) AS HUGEINT) // (n1 + v)
        |    AS BIGINT) AS kl_micro
        |FROM lr, tot GROUP BY v, n1, n2""".stripMargin
  )
}
