package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cells.HexGrid
import graft.fixtures.{Pages, TpchGeo}
import graft.fixtures.TpchGeo.{domain, grid, zres}
import graft.operators.SpatialJoin

/** Per-cell analytics over the geotagged pages: tiles, pyramids,
  * focal and hex ops, raster surfaces, spatial autocorrelation and
  * point-pattern statistics. */
object CellQueries {

  private def cellCounts(s: SparkSession, dir: String): DataFrame =
    Pages.geotag(Pages.pages(s, dir))
      .select((col("x") / 500).cast("long").as("cx"),
        (col("y") / 500).cast("long").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("c"))

  private val countsSql: String =
    s"""SELECT CAST(floor(x / 500) AS BIGINT) AS cx,
       |       CAST(floor(y / 500) AS BIGINT) AS cy, count(*) AS c
       |FROM (${Pages.geotaggedSql}) GROUP BY 1, 2""".stripMargin

  /** Full 16×16 lattice with zero-filled counts (oracle twin of
    * Raster.lattice). */
  private val cellsSql: String =
    s"""SELECT lat.cx, lat.cy, coalesce(cnt.c, 0) AS c
       |FROM (SELECT a.g AS cx, b.g AS cy
       |      FROM (SELECT unnest(range(16)) AS g) a,
       |           (SELECT unnest(range(16)) AS g) b) lat
       |LEFT JOIN ($countsSql) cnt USING (cx, cy)""".stripMargin

  private val HexSize = 400.0

  private val (hq, hr) = HexGrid.axialSql(HexSize)

  private def cells(s: SparkSession, dir: String): DataFrame =
    Pages.geotag(Pages.pages(s, dir))
      .select((col("x") / 500).cast("long").as("cx"),
        (col("y") / 500).cast("long").as("cy"))

  // shared oracle prologue: the 16×16 count lattice over geotagged pages
  private val latticeSql: String =
    s"""pg AS (${Pages.geotaggedSql}),
       |pts AS (SELECT CAST(floor(x / 500) AS BIGINT) AS cx,
       |               CAST(floor(y / 500) AS BIGINT) AS cy FROM pg),
       |lat AS (SELECT a.g AS cx, b.g AS cy
       |        FROM (SELECT unnest(range(16)) AS g) a,
       |             (SELECT unnest(range(16)) AS g) b),
       |cnt AS (SELECT cx, cy, count(*) AS c FROM pts GROUP BY 1, 2),
       |cells AS (SELECT lat.cx, lat.cy,
       |            CAST(coalesce(cnt.c, 0) AS HUGEINT) AS n
       |          FROM lat LEFT JOIN cnt USING (cx, cy))""".stripMargin

  /** The 8-level xy2d quadrant/rotate recurrence, unrolled as chained
    * CTEs (one per bit level, mirroring `Hilbert.hvalue`'s loop). */
  private def hilbertLevelsSql(order: Int): String = {
    val n = 1L << order
    (1 to order).map { i =>
      val s = n >> i
      s"""h$i AS (SELECT ix, iy, d + ${s * s} * xor(3*rx, ry) AS d,
         |  CASE WHEN ry=0 THEN (CASE WHEN rx=1 THEN ${n - 1} - y ELSE y END)
         |       ELSE x END AS x,
         |  CASE WHEN ry=0 THEN (CASE WHEN rx=1 THEN ${n - 1} - x ELSE x END)
         |       ELSE y END AS y
         |FROM (SELECT ix, iy, d, x, y,
         |  CASE WHEN x & $s > 0 THEN 1 ELSE 0 END AS rx,
         |  CASE WHEN y & $s > 0 THEN 1 ELSE 0 END AS ry FROM h${i - 1}))"""
        .stripMargin
    }.mkString(",\n")
  }

  def all: Seq[Q] = Seq(
    // per-cell page tiles: the tile-assignment output (geotag → cell id),
    // carrying lang breakdown — a groupBy over the batched cell-encode
    Q("q23_pages_tiles", (s, dir) => {
      import graft.spark.GeoFunctions._
      Pages.geotag(Pages.pages(s, dir))
        .withColumn("col", gridCol(col("x"), grid))
        .withColumn("row", gridRow(col("y"), grid))
        .groupBy("col", "row", "lang")
        .agg(count(lit(1)).as("n_pages"),
             sum(length(col("html")).cast("bigint")).as("html_bytes"))
        .orderBy("row", "col", "lang")
    },
      s"""WITH pg AS (${Pages.geotaggedSql})
         |SELECT CAST(floor(x/1000.0) AS INT)+1 AS col,
         |  CAST(floor(y/1000.0) AS INT)+1 AS "row", lang,
         |  count(*) AS n_pages,
         |  CAST(sum(octet_length(html)) AS BIGINT) AS html_bytes
         |FROM pg GROUP BY 1, 2, 3 ORDER BY "row", col, lang""".stripMargin),

    // H3-style cell-set compaction: a hashed res-5 coverage collapsed to
    // the minimal mixed-resolution set — the oracle unrolls the identical
    // quad-merge recurrence per level in pure bit arithmetic
    Q("q96_cell_compact", (s, dir) => {
      // hashed res-6 coverage with deterministic per-CELL holes (~1/7 of
      // cells punched out) so partial quads survive at every SF — without
      // the holes a big corpus covers all 4096 cells and the whole set
      // collapses to one res-0 row, a vacuous gate
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(((col("doc_id") * 2654435761L) % 4096L).as("m")).distinct()
        .where((col("m") * 2654435761L) % 7 =!= 0)
        .select(shiftleft(lit(6L), 58).bitwiseOR(col("m")).as("cell"))
      graft.cells.CellSetOps.compactCells(base, "cell")
        .select(shiftright(col("cell"), 58).as("res"),
          col("cell").bitwiseAND(lit((1L << 58) - 1)).as("morton"))
        .orderBy("res", "morton")
    },
      {
      // the identical quad-merge recurrence, one CTE triple per level:
      // parents of complete sibling groups replace their 4 children, the
      // group's min cell acting as the representative row (as in
      // CellSetOps.compactCells)
      val m = (1L << 58) - 1
      val base =
        s"""s6 AS (SELECT DISTINCT (CAST(6 AS BIGINT) << 58) | m AS cell
           |       FROM (SELECT (doc_id * 2654435761) % 4096 AS m
           |             FROM documents)
           |       WHERE (m * 2654435761) % 7 <> 0)""".stripMargin
      val rounds = (6 to 1 by -1).map { r =>
        s"""g$r AS (SELECT cell,
           |  CASE WHEN cell >> 58 = $r
           |       THEN (CAST(${r - 1} AS BIGINT) << 58) | ((cell & $m) >> 2)
           |  END AS par FROM s$r),
           |c$r AS (SELECT par, count(*) AS cnt, min(cell) AS mn
           |        FROM g$r WHERE par IS NOT NULL GROUP BY 1),
           |s${r - 1} AS (SELECT CASE WHEN c.cnt = 4 THEN g.par ELSE g.cell END
           |    AS cell
           |  FROM g$r g LEFT JOIN c$r c ON g.par = c.par
           |  WHERE c.cnt IS NULL OR c.cnt <> 4 OR g.cell = c.mn)""".stripMargin
      }
      "WITH " + (base +: rounds).mkString(",\n") +
        s"\nSELECT cell >> 58 AS res, cell & $m AS morton FROM s0 " +
        "ORDER BY res, morton"
    }),

    // raster map algebra: focal (3x3 Moore) sum over a page-density
    // surface on a 64x64 lattice — scatter-gather, exact integer sums
    Q("q98_focal_sum", (s, dir) => {
      // iy takes the SECOND radix-64 digit so (ix, iy) spreads over the
      // 2-D lattice — ix and iy both mod-64 of a multiple of doc_id would
      // collapse the raster to a 64-cell diagonal orbit
      val cells = s.read.parquet(s"$dir/documents.parquet")
        .select(((col("doc_id") * 48271) % 64).as("ix"),
          expr("((doc_id * 16807) div 64) % 64").as("iy"), col("n_chars"))
        .groupBy("ix", "iy").agg(sum(col("n_chars")).as("v"))
      graft.cells.FocalOps.focalSum(cells, "ix", "iy", "v", radius = 1)
        .orderBy("ix", "iy")
    },
      """WITH c AS (
        |  SELECT ix, iy, CAST(sum(n_chars) AS BIGINT) AS v
        |  FROM (SELECT (doc_id * 48271) % 64 AS ix,
        |               ((doc_id * 16807) // 64) % 64 AS iy, n_chars
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT a.ix, a.iy, a.v,
        |  CAST(sum(b.v) AS BIGINT) AS focal_sum,
        |  count(*) AS n_nbrs
        |FROM c a JOIN c b
        |  ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
        | AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
        |GROUP BY a.ix, a.iy, a.v
        |ORDER BY a.ix, a.iy""".stripMargin),

    // compacted-coverage membership: hot cells (>= 3 pages at res 4) are
    // COMPACTED to the minimal mixed-resolution set, then pages probe it
    // via their ancestor chain (one key per level) — the oracle computes
    // plain hot-cell membership without ever seeing the index, so the
    // compact + multi-res join must be semantically invisible
    Q("q103_compact_membership", (s, dir) => {
      import graft.fixtures.TpchGeo
      import graft.spark.GeoFunctions
      val d = TpchGeo.domain; val res = 4 // 16x16 cells of 512 units
      val pg = Pages.geotag(Pages.pages(s, dir))
        .select(col("url"), col("x"), col("y"))
      val withCell = pg.withColumn("cell",
        GeoFunctions.cellEncode(col("x"), col("y"), d, res))
      val hot = withCell.groupBy("cell").agg(count(lit(1)).as("n"))
        .where(col("n") >= 3).select("cell")
      val compacted = graft.cells.CellSetOps.compactCells(hot, "cell")
      withCell
        .select(col("x"), col("y"),
          explode(GeoFunctions.cellAncestors(col("x"), col("y"), d, res))
            .as("cell"))
        .join(broadcast(compacted), Seq("cell"))
        .select(floor(col("x") / 512).cast("long").as("ix"),
          floor(col("y") / 512).cast("long").as("iy"))
        .groupBy("ix", "iy").agg(count(lit(1)).as("n_pages"))
        .orderBy("ix", "iy")
    },
      {
      s"""WITH pts AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(floor(x / 512) AS BIGINT) AS ix,
         |             CAST(floor(y / 512) AS BIGINT) AS iy
         |      FROM pts)
         |SELECT ix, iy, count(*) AS n_pages
         |FROM t GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY ix, iy""".stripMargin
    }),

    // freshness-weighted page density: per-cell page counts with exact
    // integer half-life decay (1e6 >> (age div h) — halving as a bit
    // shift, the recency weighting that stays engine-exact)
    Q("q115_decay_density", (s, dir) => {
      import graft.cells.Freshness
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"),
          expr("(1610000000L - unix_timestamp(warc_ts)) div 86400")
            .as("age_days"))
      Freshness.decayDensity(pts, "ix", "iy", "age_days", halfLife = 16)
        .orderBy("ix", "iy")
    },
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

    // map-tile pyramid: per-tile page counts at every zoom 0..6 from ONE
    // pass (explode the zoom sequence, then a single partial-aggregated
    // rollup) — geotag coords on the 8192-lattice, tile = floor-div by
    // the zoom's power-of-two cell size, exact in both engines
    Q("q116_tile_pyramid", (s, dir) => {
      import graft.cells.TilePyramid
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(col("x").cast("long").as("xi"), col("y").cast("long").as("yi"))
      TilePyramid.pyramidCounts(pts, "xi", "yi", bits = 13, maxRes = 6)
        .orderBy("res", "ix", "iy")
    },
      {
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(x AS BIGINT) AS xi, CAST(y AS BIGINT) AS yi
         |      FROM pg),
         |z AS (SELECT CAST(unnest(range(7)) AS INT) AS res, xi, yi FROM t)
         |SELECT res,
         |  xi // CAST(power(2, 13 - res) AS BIGINT) AS ix,
         |  yi // CAST(power(2, 13 - res) AS BIGINT) AS iy,
         |  count(*) AS n_pages
         |FROM z GROUP BY 1, 2, 3 ORDER BY res, ix, iy""".stripMargin
    }),

    // incremental pyramid maintenance: P(v1) ⊕ Δ-pyramid must equal
    // P(v2) recomputed from scratch — the Spark side NEVER sees v2 whole
    // (base artifact + anti-joined adds/deletes only), the oracle computes
    // the v2 pyramid directly, so the incremental-view-maintenance
    // contract is the gate
    Q("q119_pyramid_delta", (s, dir) => {
      import graft.cells.TilePyramid
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("pid"),
          col("x").cast("long").as("xi"), col("y").cast("long").as("yi"))
        .localCheckpoint(true)
      val v1 = pts.where(col("pid") % 11 =!= 3)
      val v2 = pts.where(col("pid") % 13 =!= 5)
      val base = TilePyramid.pyramidCounts(v1, "xi", "yi",
        bits = 13, maxRes = 6)
      val adds = v2.join(v1.select("pid"), Seq("pid"), "left_anti")
        .withColumn("w", lit(1L))
      val dels = v1.join(v2.select("pid"), Seq("pid"), "left_anti")
        .withColumn("w", lit(-1L))
      val delta = TilePyramid.pyramidSum(adds.unionByName(dels),
        "xi", "yi", "w", bits = 13, maxRes = 6)
      TilePyramid.applyDelta(base, delta).orderBy("res", "ix", "iy")
    },
      // the v2 pyramid recomputed directly — the incremental path must
      // land on exactly this
      {
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |t AS (SELECT CAST(regexp_extract(url, '(\\d+)$$', 1) AS BIGINT)
         |        AS pid,
         |        CAST(x AS BIGINT) AS xi, CAST(y AS BIGINT) AS yi
         |      FROM pg),
         |v2 AS (SELECT * FROM t WHERE pid % 13 <> 5),
         |z AS (SELECT CAST(unnest(range(7)) AS INT) AS res, xi, yi FROM v2)
         |SELECT res,
         |  xi // CAST(power(2, 13 - res) AS BIGINT) AS ix,
         |  yi // CAST(power(2, 13 - res) AS BIGINT) AS iy,
         |  count(*) AS n_pages
         |FROM z GROUP BY 1, 2, 3 ORDER BY res, ix, iy""".stripMargin
    }),

    // per-cell language-diversity map: Shannon entropy of each tile's
    // language mix in integer micro-nats (per-category independent
    // quantization makes the float statistic order-exact) — the
    // monolingual-region crawl-coverage diagnostic
    Q("q131_cell_diversity", (s, dir) => {
      import graft.cells.Diversity
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"), col("lang"))
      Diversity.cellEntropy(pts, "ix", "iy", "lang")
        .orderBy("ix", "iy")
    },
      {
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
    }),

    // county-level language diversity THROUGH the real spatial join:
    // geotag → cell-cover prefilter → exact PIP → per-county Shannon
    // entropy of the language mix — the geospatial flagship composed with
    // the webtext diversity metric, one oracle gating both
    Q("q136_county_diversity", (s, dir) => {
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
    },
      {
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
    }),

    // Hilbert-curve clustering: pages → lattice cells → Hilbert distance
    // (order 8, pure codegen), then per contiguous 256-position curve
    // block the 2-D envelope — the per-file min/max a Hilbert-sorted
    // write would hand to the manifest pruner (q108's z-order path with
    // strictly tighter envelopes). The oracle replays the full 8-level
    // quadrant/rotate recurrence in SQL.
    Q("q181_hilbert_blocks", (s, dir) => {
      import graft.cells.Hilbert
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(((col("doc_id") * 37) % 256).as("ix"),
          ((col("doc_id") * 91 + 13) % 256).as("iy"))
      Hilbert.attach(d, "ix", "iy", 8, "h")
        .withColumn("block", expr("h div 256"))
        .groupBy("block")
        .agg(count(lit(1)).as("n"),
          min("ix").as("min_ix"), max("ix").as("max_ix"),
          min("iy").as("min_iy"), max("iy").as("max_iy"))
        .orderBy("block")
    },
      s"""WITH pts AS (SELECT (doc_id * 37) % 256 AS ix,
         |              (doc_id * 91 + 13) % 256 AS iy FROM documents),
         |h0 AS (SELECT ix, iy, CAST(0 AS BIGINT) AS d, ix AS x, iy AS y
         |       FROM pts),
         |${hilbertLevelsSql(8)}
         |SELECT d // 256 AS block, count(*) AS n,
         |  min(ix) AS min_ix, max(ix) AS max_ix,
         |  min(iy) AS min_iy, max(iy) AS max_iy
         |FROM h8 GROUP BY 1 ORDER BY block""".stripMargin),

    // proximity-allocation raster: every grid cell's nearest site and
    // squared distance through the k-ring expanding kNN (k=1, queries =
    // the 64 cell centers) — the distance-transform input the reference's
    // nearest-feature allocation mode consumes
    Q("q202_cell_distance_map", (s, dir) => {
      import graft.operators.Knn
      val centers = s.range(64).select(col("id").as("qid"),
        expr("CAST(id % 8 AS DOUBLE) * 1000.0 + 500.0").as("x"),
        expr("CAST(id div 8 AS DOUBLE) * 1000.0 + 500.0").as("y"))
      Knn.knnJoin(centers, TpchGeo.knnSites(s, dir), k = 1, domain, zres)
        .select(expr("CAST(qid % 8 + 1 AS INT)").as("col"),
          expr("CAST(qid div 8 + 1 AS INT)").as("row"),
          col("sid"), col("dist2"))
        .orderBy("col", "row")
    },
      """WITH q AS (SELECT c % 8 + 1 AS col, c // 8 + 1 AS "row",
        |    (c % 8) * 1000.0 + 500 AS x, (c // 8) * 1000.0 + 500 AS y
        |  FROM range(64) t(c)),
        |s AS (SELECT s_suppkey AS sid,
        |    CAST((s_suppkey*27179) % 8000 AS DOUBLE) AS sx,
        |    CAST((s_suppkey*15101) % 8000 AS DOUBLE) AS sy
        |  FROM supplier),
        |d AS (SELECT col, "row", sid,
        |        (x-sx)*(x-sx)+(y-sy)*(y-sy) AS dist2
        |      FROM q CROSS JOIN s),
        |r AS (SELECT col, "row", sid, dist2,
        |    row_number() OVER (PARTITION BY col, "row"
        |      ORDER BY dist2, sid) AS rn FROM d)
        |SELECT CAST(col AS INT) AS col, CAST("row" AS INT) AS "row",
        |  sid, dist2
        |FROM r WHERE rn = 1 ORDER BY col, "row"""".stripMargin),

    // kernel density (Epanechnikov-shaped integer kernel r² − d²): each
    // point contributes to the few cells whose center lies within r —
    // candidate cells from the point's r-expanded bbox (the corridor
    // trick on a point), one keyed sum; never points × all-cells
    Q("q205_kde_heatmap", (s, dir) => {
      val r = 1500L
      val pts = TpchGeo.points(s, dir)
      pts
        .withColumn("col", explode(sequence(
          greatest(lit(1), (floor((col("x") - r) / 1000.0) + 1).cast("int")),
          least(lit(8), (floor((col("x") + r) / 1000.0) + 1).cast("int")))))
        .withColumn("row", explode(sequence(
          greatest(lit(1), (floor((col("y") - r) / 1000.0) + 1).cast("int")),
          least(lit(8), (floor((col("y") + r) / 1000.0) + 1).cast("int")))))
        .withColumn("dx", col("x") - (col("col") * 1000.0 - 500.0))
        .withColumn("dy", col("y") - (col("row") * 1000.0 - 500.0))
        .withColumn("d2",
          (col("dx") * col("dx") + col("dy") * col("dy")).cast("long"))
        .where(col("d2") <= r * r)
        .groupBy("col", "row")
        .agg(sum(lit(r * r) - col("d2")).as("heat"),
          count(lit(1)).as("n_pts"))
        .orderBy("col", "row")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |cl AS (SELECT CAST(c % 8 + 1 AS INT) AS col,
         |         CAST(c // 8 + 1 AS INT) AS "row",
         |         (c % 8) * 1000.0 + 500 AS cx, (c // 8) * 1000.0 + 500 AS cy
         |       FROM range(64) t(c)),
         |d AS (SELECT col, "row",
         |        CAST((x-cx)*(x-cx)+(y-cy)*(y-cy) AS BIGINT) AS d2
         |      FROM pts CROSS JOIN cl)
         |SELECT col, "row", CAST(sum(2250000 - d2) AS BIGINT) AS heat,
         |  count(*) AS n_pts
         |FROM d WHERE d2 <= 2250000
         |GROUP BY 1, 2 ORDER BY col, "row"""".stripMargin),

    // inverse-distance-weighted interpolation of site values onto cell
    // centers: weight_i = 10^6 div (d2_i + 1) (integer, no zero case),
    // numer_i = v_i·10^6 div (d2_i + 1), idw = numer div weight-sum —
    // exact integer end to end, sites prefiltered to a 2000-unit radius
    // via the same bbox cell cover
    Q("q206_idw_surface", (s, dir) => {
      val rr = 2000L
      val sites = TpchGeo.knnSites(s, dir)
        .withColumn("v", (col("sid") * 7 % 100 + 1).cast("long"))
      sites
        .withColumn("col", explode(sequence(
          greatest(lit(1), (floor((col("sx") - rr) / 1000.0) + 1).cast("int")),
          least(lit(8), (floor((col("sx") + rr) / 1000.0) + 1).cast("int")))))
        .withColumn("row", explode(sequence(
          greatest(lit(1), (floor((col("sy") - rr) / 1000.0) + 1).cast("int")),
          least(lit(8), (floor((col("sy") + rr) / 1000.0) + 1).cast("int")))))
        .withColumn("dx", col("sx") - (col("col") * 1000.0 - 500.0))
        .withColumn("dy", col("sy") - (col("row") * 1000.0 - 500.0))
        .withColumn("d2",
          (col("dx") * col("dx") + col("dy") * col("dy")).cast("long"))
        .where(col("d2") <= rr * rr)
        .withColumn("wgt", expr("1000000L div (d2 + 1)"))
        .groupBy("col", "row")
        .agg(count(lit(1)).as("n_sites"),
          sum(expr("v * 1000000L div (d2 + 1)")).as("numer"),
          sum(col("wgt")).as("denom"))
        .where(col("denom") > 0)
        .withColumn("idw", expr("numer div denom"))
        .select("col", "row", "n_sites", "idw")
        .orderBy("col", "row")
    },
      """WITH s AS (SELECT s_suppkey AS sid,
        |    CAST((s_suppkey*27179) % 8000 AS DOUBLE) AS sx,
        |    CAST((s_suppkey*15101) % 8000 AS DOUBLE) AS sy,
        |    s_suppkey * 7 % 100 + 1 AS v
        |  FROM supplier),
        |cl AS (SELECT CAST(c % 8 + 1 AS INT) AS col,
        |         CAST(c // 8 + 1 AS INT) AS "row",
        |         (c % 8) * 1000.0 + 500 AS cx, (c // 8) * 1000.0 + 500 AS cy
        |       FROM range(64) t(c)),
        |d AS (SELECT col, "row", v,
        |        CAST((sx-cx)*(sx-cx)+(sy-cy)*(sy-cy) AS BIGINT) AS d2
        |      FROM s CROSS JOIN cl),
        |f AS (SELECT col, "row", v, d2 FROM d WHERE d2 <= 4000000)
        |SELECT col, "row", count(*) AS n_sites,
        |  CAST(sum(v * 1000000 // (d2 + 1)) //
        |       sum(1000000 // (d2 + 1)) AS BIGINT) AS idw
        |FROM f GROUP BY 1, 2 HAVING sum(1000000 // (d2 + 1)) > 0
        |ORDER BY col, "row"""".stripMargin),

    // spatiotemporal cube: geotagged pages × capture day, with ROLLUP
    // margins (per cell-day, per cell, grand total) — the space×time
    // OLAP face of the tile pyramid
    Q("q208_spacetime_cube", (s, dir) => {
      val g = Pages.geotag(Pages.pages(s, dir))
        .select(
          (floor(col("x") / 1000.0) + 1).cast("int").as("col"),
          (floor(col("y") / 1000.0) + 1).cast("int").as("row"),
          floor(unix_timestamp(col("warc_ts")) / 86400L).cast("long")
            .as("day"))
      g.rollup("col", "row", "day")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("col").asc_nulls_first, col("row").asc_nulls_first,
          col("day").asc_nulls_first)
    },
      s"""WITH g AS (${Pages.geotaggedSql}),
         |b AS (SELECT CAST(floor(x/1000.0) + 1 AS INT) AS col,
         |        CAST(floor(y/1000.0) + 1 AS INT) AS "row",
         |        CAST(floor(epoch(warc_ts) / 86400.0) AS BIGINT) AS day
         |      FROM g)
         |SELECT col, "row", day, count(*) AS n
         |FROM b GROUP BY ROLLUP (col, "row", day)
         |ORDER BY col NULLS FIRST, "row" NULLS FIRST, day NULLS FIRST"""
        .stripMargin),

    // Bing-style quadkeys: the level-4 tile name of every page point as
    // a base-4 string (one digit per zoom level, MSB first — pure
    // codegen transform/array_join), plus the count under a level-2
    // prefix via startsWith — string-prefix containment IS ancestor
    // containment for quadkeys, which is what makes them range-prunable
    Q("q213_quadkey_tiles", (s, dir) => {
      val pts = graft.fixtures.TpchGeo.points(s, dir)
      val qk = pts
        .withColumn("tx", floor(col("x") / 512.0).cast("long"))
        .withColumn("ty", floor(col("y") / 512.0).cast("long"))
        .withColumn("qk", expr(
          """array_join(transform(sequence(3, 0, -1), l ->
            |  CAST((CASE WHEN (tx div CAST(pow(2, l) AS LONG)) % 2 = 1 THEN 1 ELSE 0 END) +
            |       (CASE WHEN (ty div CAST(pow(2, l) AS LONG)) % 2 = 1 THEN 2 ELSE 0 END)
            |    AS STRING)), '')""".stripMargin))
      // prefix containment: a level-4 tile lies under the level-2 tile
      // '03' iff its quadkey string starts with "03"
      qk.groupBy("qk").agg(count(lit(1)).as("n"))
        .withColumn("under_03", col("qk").startsWith("03"))
        .orderBy("qk")
    },
      {
      val pointsSql = graft.fixtures.TpchGeo.pointsSql
      s"""WITH pts AS ($pointsSql),
         |t AS (SELECT CAST(floor(x/512.0) AS BIGINT) AS tx,
         |        CAST(floor(y/512.0) AS BIGINT) AS ty FROM pts),
         |k AS (SELECT
         |  CAST((tx // 8) % 2 + 2 * ((ty // 8) % 2) AS VARCHAR) ||
         |  CAST((tx // 4) % 2 + 2 * ((ty // 4) % 2) AS VARCHAR) ||
         |  CAST((tx // 2) % 2 + 2 * ((ty // 2) % 2) AS VARCHAR) ||
         |  CAST(tx % 2 + 2 * (ty % 2) AS VARCHAR) AS qk FROM t)
         |SELECT qk, count(*) AS n, qk LIKE '03%' AS under_03
         |FROM k GROUP BY 1 ORDER BY qk""".stripMargin
    }),

    Q("q220_morans_i", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 500).cast("long").as("cx"),
          (col("y") / 500).cast("long").as("cy"))
      graft.cells.Autocorr.moransI(pts, "cx", "cy", 16, 16)
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 500) AS BIGINT) AS cx,
         |               CAST(floor(y / 500) AS BIGINT) AS cy FROM pg),
         |lat AS (SELECT a.g AS cx, b.g AS cy
         |        FROM (SELECT unnest(range(16)) AS g) a,
         |             (SELECT unnest(range(16)) AS g) b),
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
         |FROM tot, agg, den""".stripMargin),

    Q("q223_density_clusters", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 1000).cast("long").as("cx"),
          (col("y") / 1000).cast("long").as("cy"))
      graft.cells.Density.clusters(pts, "cx", "cy", ncols = 8, minPts = 8L)
    },
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
         |FROM cc JOIN dense USING (id) GROUP BY 1""".stripMargin),

    Q("q224_lisa_quadrants", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 500).cast("long").as("cx"),
          (col("y") / 500).cast("long").as("cy"))
      graft.cells.Autocorr.localMorans(pts, "cx", "cy", 16, 16)
        .select(col("cx"), col("cy"), col("d"), col("lag"),
          col("lisa").cast("long").as("lisa"), col("quad"))
    },
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
         |FROM d JOIN lag USING (cx, cy)""".stripMargin),

    Q("q225_ripley_k", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("id"), col("x"), col("y"))
      graft.cells.RipleyK.k(pts, "id", "x", "y",
        radii = Seq(250L, 500L, 1000L), maxR = 1000L,
        area = 8000L * 8000L)
    },
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
         |FROM p, n""".stripMargin),

    // Mann–Kendall per-cell activity trend over capture days
    Q("q228_cell_trend", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 2000).cast("long").as("cx"),
          (col("y") / 2000).cast("long").as("cy"),
          expr("unix_timestamp(warc_ts) div 86400").as("day"))
      graft.cells.Trend.mannKendall(pts, "cx", "cy", "day")
    },
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
         |FROM nd LEFT JOIN s USING (cx, cy)""".stripMargin),

    Q("q231_bilinear_regrid", (s, dir) =>
      graft.cells.Raster.bilinearRefine(cellCounts(s, dir), 16, 16),
      s"""WITH cells AS ($cellsSql),
         |fine AS (SELECT fx, fy, fx // 2 AS ix, fy // 2 AS iy,
         |    least(greatest(fx // 2 + 2 * (fx % 2) - 1, 0), 15) AS ox,
         |    least(greatest(fy // 2 + 2 * (fy % 2) - 1, 0), 15) AS oy
         |  FROM (SELECT a.g AS fx, b.g AS fy
         |        FROM (SELECT unnest(range(32)) AS g) a,
         |             (SELECT unnest(range(32)) AS g) b))
         |SELECT f.fx, f.fy,
         |  CAST(9 * m.c + 3 * h.c + 3 * v.c + 1 * d.c AS BIGINT) AS v16
         |FROM fine f
         |JOIN cells m ON m.cx = f.ix AND m.cy = f.iy
         |JOIN cells h ON h.cx = f.ox AND h.cy = f.iy
         |JOIN cells v ON v.cx = f.ix AND v.cy = f.oy
         |JOIN cells d ON d.cx = f.ox AND d.cy = f.oy""".stripMargin),

    Q("q232_morph_open", (s, dir) =>
      graft.cells.Raster.morphOpen(cellCounts(s, dir), 16, 16,
        threshold = 3L),
      s"""WITH cells AS (SELECT cx, cy,
         |    CASE WHEN c >= 3 THEN 1 ELSE 0 END AS dense
         |  FROM ($cellsSql)),
         |off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
         |                              (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
         |er AS (SELECT a.cx, a.cy, a.dense,
         |         CASE WHEN sum(coalesce(b.dense, 0)) = 9
         |              THEN 1 ELSE 0 END AS er
         |       FROM cells a CROSS JOIN off
         |       LEFT JOIN cells b
         |         ON b.cx = a.cx + off.dx AND b.cy = a.cy + off.dy
         |       GROUP BY 1, 2, 3),
         |op AS (SELECT a.cx, a.cy, a.dense,
         |         CASE WHEN sum(coalesce(b.er, 0)) > 0
         |              THEN 1 ELSE 0 END AS opened
         |       FROM er a CROSS JOIN off
         |       LEFT JOIN er b
         |         ON b.cx = a.cx + off.dx AND b.cy = a.cy + off.dy
         |       GROUP BY 1, 2, 3)
         |SELECT cx, cy, CAST(dense AS BIGINT) AS dense,
         |  CAST(opened AS BIGINT) AS opened FROM op""".stripMargin),

    Q("q233_marching_squares", (s, dir) =>
      graft.cells.Raster.marchingSquares(cellCounts(s, dir), 16, 16,
        threshold = 3L),
      s"""WITH cells AS (SELECT cx, cy,
         |    CASE WHEN c >= 3 THEN 1 ELSE 0 END AS d
         |  FROM ($cellsSql)),
         |blocks AS (SELECT a.g AS bx, b.g AS by
         |           FROM (SELECT unnest(range(15)) AS g) a,
         |                (SELECT unnest(range(15)) AS g) b),
         |cs AS (SELECT bl.bx, bl.by,
         |         c00.d + 2 * c10.d + 4 * c01.d + 8 * c11.d AS case_id
         |       FROM blocks bl
         |       JOIN cells c00 ON c00.cx = bl.bx     AND c00.cy = bl.by
         |       JOIN cells c10 ON c10.cx = bl.bx + 1 AND c10.cy = bl.by
         |       JOIN cells c01 ON c01.cx = bl.bx     AND c01.cy = bl.by + 1
         |       JOIN cells c11 ON c11.cx = bl.bx + 1 AND c11.cy = bl.by + 1)
         |SELECT CAST(case_id AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(count(*) * (CASE WHEN case_id IN (0, 15) THEN 0
         |                        WHEN case_id IN (6, 9) THEN 2
         |                        ELSE 1 END) AS BIGINT) AS n_segments
         |FROM cs GROUP BY case_id""".stripMargin),

    Q("q236_knox", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select(Pages.urlId(col("url")).as("id"), col("x"), col("y"),
          expr("unix_timestamp(warc_ts) div 86400").as("day"))
      graft.cells.RipleyK.knox(pts, "id", "x", "y", "day",
        r = 500L, tau = 2L, maxR = 500L)
    },
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
         |FROM agg, n""".stripMargin),

    // per-hex page counts + grid distance to the origin hex (0,0) —
    // the hex twin of q02's square geotag binning
    Q("q237_hex_bin", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
      HexGrid.attach(pts, "x", "y", HexSize)
        .groupBy("hq", "hr").agg(count(lit(1)).as("n"))
        .withColumn("ring", HexGrid.hexDist(col("hq"), col("hr"),
          lit(0L), lit(0L)))
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
           |h AS (SELECT $hq AS hq, $hr AS hr FROM pg),
           |c AS (SELECT hq, hr, count(*) AS n FROM h GROUP BY 1, 2)
           |SELECT hq, hr, n,
           |  CAST((abs(hq) + abs(hr) + abs(hq + hr)) / 2 AS BIGINT)
           |    AS ring
           |FROM c""".stripMargin),

    // 6-neighbor focal sum over the per-hex counts — hex adjacency has
    // no diagonal leakage, one fewer wasted tap than the square queen
    Q("q238_hex_focal", (s, dir) => {
      val counts = HexGrid
        .attach(Pages.geotag(Pages.pages(s, dir)), "x", "y", HexSize)
        .groupBy("hq", "hr").agg(count(lit(1)).as("c"))
      HexGrid.focalSum(counts)
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
           |h AS (SELECT $hq AS hq, $hr AS hr FROM pg),
           |c AS (SELECT hq, hr, count(*) AS c FROM h GROUP BY 1, 2),
           |off AS (SELECT * FROM (VALUES (0,0),(1,0),(1,-1),(0,-1),
           |                              (-1,0),(-1,1),(0,1)) o(dq, dr)),
           |f AS (SELECT a.hq + off.dq AS hq, a.hr + off.dr AS hr,
           |             sum(a.c) AS focal
           |      FROM c a CROSS JOIN off GROUP BY 1, 2)
           |SELECT c.hq, c.hr, c.c, CAST(f.focal AS BIGINT) AS focal
           |FROM c JOIN f USING (hq, hr)""".stripMargin),

    Q("q239_geary_c", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 500).cast("long").as("cx"),
          (col("y") / 500).cast("long").as("cy"))
      graft.cells.Autocorr.gearyC(pts, "cx", "cy", 16, 16)
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 500) AS BIGINT) AS cx,
         |               CAST(floor(y / 500) AS BIGINT) AS cy FROM pg),
         |lat AS (SELECT a.g AS cx, b.g AS cy
         |        FROM (SELECT unnest(range(16)) AS g) a,
         |             (SELECT unnest(range(16)) AS g) b),
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
         |          CAST(sum((da - db) * (da - db)) AS HUGEINT) AS num
         |        FROM pairs),
         |den AS (SELECT CAST(sum(d * d) AS HUGEINT) AS den FROM d)
         |SELECT CAST(nc AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
         |  CAST(s AS BIGINT) AS n_points,
         |  CAST(CASE WHEN den = 0 OR w = 0 THEN 0
         |       ELSE (1000000 * (nc - 1) * num) // (2 * w * den) END
         |    AS BIGINT) AS geary_e6
         |FROM tot, agg, den""".stripMargin),

    // colocation lift per language pair: n_ab·N / (n_a·n_b) over cell
    // presence sets — cell-support-sized self-join, exact integer ladder
    Q("q240_colocation", (s, dir) => {
      val pres = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 500).cast("long").as("cx"),
          (col("y") / 500).cast("long").as("cy"), col("lang"))
        .distinct()
        .transform(graft.spark.PersistTracker.persist)
      val nCells = pres.select("cx", "cy").distinct().count()
      val perLang = pres.groupBy("lang").agg(count(lit(1)).as("n1"))
      val pairs = pres.as("a")
        .join(pres.as("b"),
          col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy") &&
            col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("la"), col("b.lang").as("lb"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(perLang.select(col("lang").as("la"), col("n1").as("n_a")),
          "la")
        .join(perLang.select(col("lang").as("lb"), col("n1").as("n_b")),
          "lb")
        .select(col("la"), col("lb"), col("n_a"), col("n_b"), col("n_ab"),
          expr(s"(1000000 * n_ab * ${nCells}L) div (n_a * n_b)")
            .as("lift_e6"))
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pres AS (SELECT DISTINCT CAST(floor(x / 500) AS BIGINT) AS cx,
         |           CAST(floor(y / 500) AS BIGINT) AS cy, lang FROM pg),
         |nc AS (SELECT count(*) AS n FROM
         |        (SELECT DISTINCT cx, cy FROM pres)),
         |pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n1
         |       FROM pres GROUP BY 1),
         |pr AS (SELECT a.lang AS la, b.lang AS lb,
         |         CAST(count(*) AS BIGINT) AS n_ab
         |       FROM pres a JOIN pres b
         |         ON a.cx = b.cx AND a.cy = b.cy AND a.lang < b.lang
         |       GROUP BY 1, 2)
         |SELECT pr.la, pr.lb, pa.n1 AS n_a, pb.n1 AS n_b, pr.n_ab,
         |  CAST((1000000::HUGEINT * pr.n_ab * nc.n)
         |    // (pa.n1 * pb.n1) AS BIGINT) AS lift_e6
         |FROM pr JOIN pl pa ON pr.la = pa.lang
         |        JOIN pl pb ON pr.lb = pb.lang
         |        CROSS JOIN nc""".stripMargin),

    Q("q243_getis_gistar", (s, dir) =>
      graft.cells.Autocorr.getisGiStar(cells(s, dir), "cx", "cy", 16, 16),
      s"""WITH $latticeSql,
         |tot AS (SELECT CAST(sum(n) AS HUGEINT) AS s,
         |               CAST(count(*) AS HUGEINT) AS nc,
         |               CAST(sum(n * n) AS HUGEINT) AS ss FROM cells),
         |offs AS (SELECT * FROM (VALUES (0,0),(-1,-1),(-1,0),(-1,1),
         |           (0,-1),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
         |loc AS (SELECT a.cx, a.cy, CAST(sum(b.n) AS HUGEINT) AS l,
         |          CAST(count(*) AS HUGEINT) AS w
         |        FROM cells a, offs o, cells b
         |        WHERE b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
         |        GROUP BY 1, 2),
         |fin AS (SELECT cx, cy, CAST(w AS BIGINT) AS w_i,
         |          CAST(l AS BIGINT) AS local_sum,
         |          nc * l - s * w AS num,
         |          (nc * ss - s * s) * (nc * w - w * w) AS den,
         |          nc
         |        FROM loc, tot)
         |SELECT cx, cy, w_i, local_sum,
         |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
         |       ELSE 0 END AS BIGINT) AS gi_sign,
         |  CAST(CASE WHEN den = 0 THEN 0
         |       ELSE (1000000 * num * num * (nc - 1)) // den
         |       END AS BIGINT) AS zsq_e6
         |FROM fin""".stripMargin),

    Q("q244_d8_basins", (s, dir) =>
      graft.cells.Terrain.d8Basins(cells(s, dir), "cx", "cy", 16, 16),
      s"""WITH RECURSIVE $latticeSql,
         |offs AS (SELECT * FROM (VALUES (0,-1,-1),(1,-1,0),(2,-1,1),
         |           (3,0,-1),(4,0,1),(5,1,-1),(6,1,0),(7,1,1))
         |           o(idx, dx, dy)),
         |nb AS (SELECT a.cx, a.cy, o.idx, a.n - b.n AS dr,
         |         b.cy * 16 + b.cx AS dst
         |       FROM cells a, offs o, cells b
         |       WHERE b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
         |mx AS (SELECT cx, cy, max(dr) AS m FROM nb GROUP BY 1, 2),
         |sel AS (SELECT nb.cx, nb.cy, min(nb.idx) AS idx
         |        FROM nb JOIN mx ON nb.cx = mx.cx AND nb.cy = mx.cy
         |          AND nb.dr = mx.m
         |        WHERE mx.m > 0 GROUP BY 1, 2),
         |ptr AS (SELECT s.cy * 16 + s.cx AS src,
         |          (s.cy + o.dy) * 16 + (s.cx + o.dx) AS dst
         |        FROM sel s JOIN offs o USING (idx)),
         |walk AS (
         |  SELECT cy * 16 + cx AS node, cy * 16 + cx AS cur FROM cells
         |  UNION ALL
         |  SELECT w.node, p.dst FROM walk w JOIN ptr p ON w.cur = p.src),
         |term AS (SELECT node, cur FROM walk
         |         WHERE cur NOT IN (SELECT src FROM ptr))
         |SELECT CAST(cur % 16 AS BIGINT) AS sink_cx,
         |  CAST(cur // 16 AS BIGINT) AS sink_cy,
         |  CAST(count(*) AS BIGINT) AS basin_cells
         |FROM term GROUP BY 1, 2""".stripMargin),

    Q("q245_slope_aspect", (s, dir) =>
      graft.cells.Terrain.hornGradient(cells(s, dir), "cx", "cy", 16, 16),
      s"""WITH $latticeSql,
         |w AS (SELECT * FROM (VALUES (-1,-1,-1,-1),(-1,0,-2,0),(-1,1,-1,1),
         |        (0,-1,0,-2),(0,1,0,2),
         |        (1,-1,1,-1),(1,0,2,0),(1,1,1,1)) o(dx, dy, wx, wy)),
         |g AS (SELECT a.cx, a.cy,
         |        CAST(sum(w.wx * b.n) AS BIGINT) AS dzdx,
         |        CAST(sum(w.wy * b.n) AS BIGINT) AS dzdy,
         |        count(*) AS nn
         |      FROM cells a, w, cells b
         |      WHERE b.cx = a.cx + w.dx AND b.cy = a.cy + w.dy
         |      GROUP BY 1, 2)
         |SELECT cx, cy, dzdx, dzdy,
         |  CAST(dzdx * dzdx + dzdy * dzdy AS BIGINT) AS grad_sq,
         |  CAST(CASE
         |    WHEN dzdx = 0 AND dzdy = 0 THEN -1
         |    WHEN abs(dzdx) >= abs(dzdy) AND dzdx > 0 AND dzdy >= 0 THEN 0
         |    WHEN abs(dzdx) < abs(dzdy) AND dzdy > 0 AND dzdx >= 0 THEN 1
         |    WHEN abs(dzdx) < abs(dzdy) AND dzdy > 0 THEN 2
         |    WHEN abs(dzdx) >= abs(dzdy) AND dzdx < 0 AND dzdy >= 0 THEN 3
         |    WHEN abs(dzdx) >= abs(dzdy) AND dzdx < 0 THEN 4
         |    WHEN abs(dzdx) < abs(dzdy) AND dzdy < 0 AND dzdx <= 0 THEN 5
         |    WHEN abs(dzdx) < abs(dzdy) AND dzdy < 0 THEN 6
         |    ELSE 7 END AS BIGINT) AS octant
         |FROM g WHERE nn = 8""".stripMargin),

    Q("q246_variogram", (s, dir) => {
      val pts = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 500).cast("long").as("cx"),
          (col("y") / 500).cast("long").as("cy"))
      graft.cells.Variogram.ofCounts(pts, "cx", "cy", 16, 16, maxLagSq = 18)
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |pts AS (SELECT CAST(floor(x / 500) AS BIGINT) AS cx,
         |               CAST(floor(y / 500) AS BIGINT) AS cy FROM pg),
         |lat AS (SELECT a.g AS cx, b.g AS cy
         |        FROM (SELECT unnest(range(16)) AS g) a,
         |             (SELECT unnest(range(16)) AS g) b),
         |cnt AS (SELECT cx, cy, count(*) AS c FROM pts GROUP BY 1, 2),
         |cells AS (SELECT lat.cx, lat.cy,
         |            CAST(coalesce(cnt.c, 0) AS HUGEINT) AS n
         |          FROM lat LEFT JOIN cnt USING (cx, cy)),
         |offs AS (SELECT a.g AS dx, b.g AS dy,
         |           a.g * a.g + b.g * b.g AS d2
         |         FROM (SELECT unnest(range(-4, 5)) AS g) a,
         |              (SELECT unnest(range(-4, 5)) AS g) b
         |         WHERE a.g * a.g + b.g * b.g BETWEEN 1 AND 18),
         |pr AS (SELECT o.d2, a.n - b.n AS dd
         |       FROM cells a, offs o, cells b
         |       WHERE b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy)
         |SELECT CAST(d2 AS BIGINT) AS dist_sq,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(dd * dd) AS BIGINT) AS sum_sq_diff,
         |  CAST((1000000 * sum(dd * dd)) // (2 * count(*)) AS BIGINT)
         |    AS gamma_e6
         |FROM pr GROUP BY 1""".stripMargin),

    Q("q300_geography_report", (s, dir) => {
      import graft.spark.GeoFunctions
      import graft.cells.CellDomain
      val d = CellDomain(0, 0, 8192, 8192)
      val geo = Pages.geotag(Pages.pages(s, dir))
        .withColumn("cell", GeoFunctions.cellEncode(col("x"), col("y"), d, 4))
      val cty = TpchGeo.counties(s)
        .select(col("fips"), col("geom"),
          explode(GeoFunctions.polyCoverCells(col("geom"), d, 4)).as("cell"))
      val pip = org.apache.spark.sql.graft.ExprBridge.column(
        graft.spark.expressions.PointInPolygonStatus(
          org.apache.spark.sql.graft.ExprBridge.expression(
            col("x").cast("double")),
          org.apache.spark.sql.graft.ExprBridge.expression(
            col("y").cast("double")),
          org.apache.spark.sql.graft.ExprBridge.expression(col("geom"))))
      val assigned = geo.join(broadcast(cty), "cell")
        .where(pip === 1)
        .select(col("fips"), col("text"), col("lang"))
        .transform(graft.spark.PersistTracker.persist)
      // exact dup rate: pages whose md5(text) appears > 1x IN THE COUNTY
      val dup = assigned
        .groupBy(col("fips"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy("fips")
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup"))
      // quality gate: keep docs with >= 60 tokens
      val qual = assigned
        .select(col("fips"),
          (size(split(col("text"), " ")) >= 60).cast("long").as("keep"))
        .groupBy("fips")
        .agg(count(lit(1)).as("n_pages"), sum("keep").as("n_keep"))
      // language diversity: micro-nat entropy per county
      val ent = assigned.groupBy("fips", "lang")
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum("c").over(Window.partitionBy("fips")))
        .select(col("fips"),
          round(lit(1e6) * (col("c") / col("n")) *
            log(col("n") / col("c")), 0).cast("long").as("term"))
        .groupBy("fips").agg(sum("term").as("ent_micro"),
          count(lit(1)).as("n_langs"))
      qual.join(dup, "fips").join(ent, "fips")
        .select(col("fips"), col("n_pages"),
          expr("(1000000 * n_keep) div n_pages").as("keep_e6"),
          col("n_dup"), col("n_langs"), col("ent_micro"))
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |a AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips, text, lang
         |      FROM pg),
         |dup AS (SELECT fips, sum(CASE WHEN c > 1 THEN c ELSE 0 END)
         |      AS n_dup
         |  FROM (SELECT fips, md5(text) AS h, count(*) AS c FROM a
         |        GROUP BY 1, 2) GROUP BY fips),
         |qual AS (SELECT fips, count(*) AS n_pages,
         |    sum(CASE WHEN len(string_split(text, ' ')) >= 60
         |        THEN 1 ELSE 0 END) AS n_keep
         |  FROM a GROUP BY fips),
         |cl AS (SELECT fips, lang, count(*) AS c FROM a GROUP BY 1, 2),
         |ct AS (SELECT fips, lang, c,
         |    sum(c) OVER (PARTITION BY fips) AS n FROM cl),
         |ent AS (SELECT fips,
         |    sum(CAST(round(1e6 * (c / CAST(n AS DOUBLE)) *
         |      ln(n / CAST(c AS DOUBLE)), 0) AS BIGINT)) AS ent_micro,
         |    count(*) AS n_langs
         |  FROM ct GROUP BY fips)
         |SELECT qual.fips, CAST(n_pages AS BIGINT) AS n_pages,
         |  CAST((1000000 * n_keep) // n_pages AS BIGINT) AS keep_e6,
         |  CAST(n_dup AS BIGINT) AS n_dup,
         |  CAST(n_langs AS BIGINT) AS n_langs,
         |  CAST(ent_micro AS BIGINT) AS ent_micro
         |FROM qual JOIN dup ON dup.fips = qual.fips
         |JOIN ent ON ent.fips = qual.fips""".stripMargin),

    // dominant-language map: per 512-cell the winning language, its
    // count, and the margin over the runner-up (0 when monolingual) —
    // two tiny per-cell window functions over the (cell, lang) counts
    Q("q302_dominant_lang", (s, dir) => {
      val cnt = Pages.geotag(Pages.pages(s, dir))
        .select((col("x") / 512).cast("long").as("ix"),
          (col("y") / 512).cast("long").as("iy"), col("lang"))
        .groupBy("ix", "iy", "lang").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("ix", "iy")
        .orderBy(col("c").desc, col("lang").asc)
      cnt.withColumn("r", row_number().over(w))
        .withColumn("runner", lead("c", 1).over(w))
        .where(col("r") === 1)
        .select(col("ix"), col("iy"), col("lang").as("top_lang"),
          col("c").as("n_top"),
          (col("c") - coalesce(col("runner"), lit(0L))).as("margin"))
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |cnt AS (SELECT CAST(floor(x / 512) AS BIGINT) AS ix,
         |    CAST(floor(y / 512) AS BIGINT) AS iy, lang, count(*) AS c
         |  FROM pg GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER w AS r, lead(c) OVER w
         |      AS runner
         |  FROM cnt
         |  WINDOW w AS (PARTITION BY ix, iy ORDER BY c DESC, lang))
         |SELECT ix, iy, lang AS top_lang, CAST(c AS BIGINT) AS n_top,
         |  CAST(c - coalesce(runner, 0) AS BIGINT) AS margin
         |FROM r WHERE r = 1""".stripMargin)
  )
}
