package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.TpchGeo
import graft.fixtures.TpchGeo.{grid, domain, zres}
import graft.operators.{Allocate, Surrogate, PostOps, Reproject}
import graft.functions.WeightExpr

/** Remaining allocator-mode queries: discrete allocate modes, area-percent
  * gridding, the USE_FUNCTION weight expression, and diffsurr. */
object EntryAlloc {

  /** eval.c operator subset exercised: * - / + ( ); all-dyadic values so
    * both engines aggregate bit-exactly. */
  private val WFUN = "(3*p_size - p_size/2) + 128"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DiscreteOverlap + DiscreteCentroid in one allocate pass
    "q30_alloc_discrete" -> ((s, dir) =>
      Allocate.allocate(TpchGeo.tracts(s, dir),
          TpchGeo.counties(s).withColumnRenamed("fips", "out_id"),
          Seq("p_size" -> Allocate.DiscreteOverlap,
              "p_partkey" -> Allocate.DiscreteCentroid),
          domain, zres)
        .withColumnRenamed("out_id", "fips")
        .withColumnRenamed("p_size", "ov_size")
        .withColumnRenamed("p_partkey", "cent_key")
        .orderBy("fips")),

    // typeAreaPercent: fraction of each grid cell covered per category
    "q31_area_percent" -> ((s, dir) =>
      Allocate.areaPercent(
          TpchGeo.tracts(s, dir).withColumn("category",
            substring(col("p_partkey").cast("string"), -1, 1)),
          "category", grid)
        .orderBy("row", "col", "category")),

    // srgcreate USE_FUNCTION: computed weight column through the full
    // polygon surrogate pipeline
    "q32_srg_weight_fun" -> ((s, dir) =>
      Surrogate.polySurrogate(
        TpchGeo.tracts(s, dir).withColumn("__wf", WeightExpr.compile(WFUN)),
        TpchGeo.counties(s), grid, domain, zres,
        srgCode = 130, weight = Some("__wf"))),

    // CONVERT_SHAPE: counties → lon/lat → LCC (densified at 0.1°);
    // per-county projected area rounded to 0.001 km² — the quantization
    // absorbs trig/summation-order ulps, so a closed-form DuckDB oracle
    // (same 31-vertex densification, same Snyder LCC, same shoelace)
    // hash-gates it since round 2.
    "q34_reproject" -> ((s, dir) => {
      import graft.grid.Proj
      import graft.spark.GeoFunctions.polygonArea
      val toLonLat = udf((rings: Seq[Seq[Double]]) =>
        rings.map(r => r.zipWithIndex.map { case (v, i) =>
          if (i % 2 == 0) -92.0 + v / 1000.0 * 0.5 else 33.0 + v / 1000.0 * 0.5
        }))
      val geo = TpchGeo.counties(s).withColumn("geom", toLonLat(col("geom")))
      Reproject.polygons(geo, Proj.LatLon, Proj.Lcc(33, 45, 40, -97), maxSeg = 0.1)
        .select(col("fips"),
          round(polygonArea(col("geom")) / 1e6, 3).as("area_km2"))
        .orderBy("fips")
    }),

    // PolyMShapeInOne (PolyMShapeInOne.c:30-300): multi-record features
    // sharing an id merge into one multipolygon; per-feature ring count and
    // exact area (distinct disjoint rects → closed-form oracle)
    "q35_multipart" -> ((s, dir) => {
      import graft.spark.GeoFunctions.polygonArea
      TpchGeo.tracts(s, dir)
        .select(col("p_size"), col("geom").getItem(0).as("ring"))
        .groupBy("p_size")
        .agg(array_sort(collect_set(col("ring"))).as("geom"))
        .select(col("p_size"), size(col("geom")).as("n_rings"),
          polygonArea(col("geom")).as("area"))
        .orderBy("p_size")
    }),

    // QA threshold report (qa/Threshold.java:9): rows with frac ≥ 0.5.
    "q36_qa_threshold" -> ((s, dir) =>
      PostOps.qaThreshold(
        Surrogate.pointSurrogate(TpchGeo.points(s, dir), TpchGeo.counties(s),
          grid, domain, zres, 100), t = 0.05)),

    // diffsurr: srg120 vs merged(500) — missing sides + out-of-tol rows
    "q33_diffsurr" -> ((s, dir) => {
      val a = Surrogate.polySurrogate(TpchGeo.tracts(s, dir),
        TpchGeo.counties(s), grid, domain, zres, 120, Some("p_size"))
      val b = Surrogate.pointSurrogate(TpchGeo.points(s, dir),
        TpchGeo.counties(s), grid, domain, zres, 100)
      PostOps.diffSurr(a, b, tol = 1e-5)
    })
  )

  private val s1 = s"(${SparkEntry.srgAreaStmt})"
  private val s2 = s"(${SparkEntry.srgPointStmt})"

  def oracles: Map[String, String] = Map(
    "q30_alloc_discrete" ->
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cn AS (${TpchGeo.countiesSql}),
         |fr AS (
         |  SELECT fips, p_size,
         |    greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
         |    greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) AS fa
         |  FROM tr CROSS JOIN cn),
         |ov AS (
         |  SELECT fips, p_size AS ov_size,
         |    row_number() OVER (PARTITION BY fips ORDER BY fa DESC, p_size ASC) AS rn
         |  FROM fr WHERE fa > 0),
         |cent AS (
         |  SELECT fips, min(p_partkey) AS cent_key
         |  FROM tr CROSS JOIN cn
         |  WHERE cx0+1000 > tx0 AND cx0+1000 < tx0+512
         |    AND cy0+1000 > ty0 AND cy0+1000 < ty0+512
         |  GROUP BY 1)
         |SELECT fips, ov_size, cent_key
         |FROM ov LEFT JOIN cent USING (fips) WHERE rn = 1
         |ORDER BY fips""".stripMargin,

    "q31_area_percent" ->
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cl AS (${TpchGeo.cellsSql}),
         |fr AS (
         |  SELECT col, "row",
         |    substr(CAST(p_partkey AS VARCHAR), -1, 1) AS category,
         |    greatest(0, least(tx0+512, gx0+1000) - greatest(tx0, gx0)) *
         |    greatest(0, least(ty0+512, gy0+1000) - greatest(ty0, gy0)) AS ca
         |  FROM tr CROSS JOIN cl)
         |SELECT col, "row", category, sum(ca) / 1000000.0 AS pct
         |FROM fr WHERE ca > 0 GROUP BY 1, 2, 3
         |ORDER BY "row", col, category""".stripMargin,

    "q32_srg_weight_fun" ->
      SparkEntry.srgAreaStmtFor(130, "(3*p_size - p_size/2) + 128"),

    "q34_reproject" -> {
      // Snyder LCC(33,45,40,-97) constants, identical expression trees to
      // grid.Proj.Lcc (see q41's oracle)
      val n = "(ln(cos(radians(33))/cos(radians(45))) / ln(tan(pi()/4 + radians(45)/2)/tan(pi()/4 + radians(33)/2)))"
      val fF = s"(cos(radians(33))*pow(tan(pi()/4 + radians(33)/2), $n)/$n)"
      val rho0 = s"(6370997.0*$fF/pow(tan(pi()/4 + radians(40)/2), $n))"
      s"""WITH cn AS (${TpchGeo.countiesSql}),
         |base AS (SELECT fips,
         |    -92 + cx0/1000*0.5 AS lon0, 33 + cy0/1000*0.5 AS lat0 FROM cn),
         |idx AS (SELECT i FROM range(31) t(i)),
         |verts AS (SELECT fips, i,
         |    CASE WHEN i = 30 THEN lon0
         |         WHEN i < 10 THEN lon0 + 1.0 * (i % 10) / 10
         |         WHEN i < 20 THEN lon0 + 1.0
         |         ELSE (lon0 + 1.0) + (-1.0) * (i % 10) / 10 END AS lon,
         |    CASE WHEN i = 30 THEN lat0 + 1.0
         |         WHEN i < 10 THEN lat0
         |         WHEN i < 20 THEN lat0 + 1.0 * (i % 10) / 10
         |         ELSE lat0 + 1.0 END AS lat
         |  FROM base CROSS JOIN idx),
         |proj AS (SELECT fips, i,
         |    (6370997.0*$fF/pow(tan(pi()/4 + radians(lat)/2), $n))
         |      * sin($n*(radians(lon) - radians(-97))) AS x,
         |    $rho0 - (6370997.0*$fF/pow(tan(pi()/4 + radians(lat)/2), $n))
         |      * cos($n*(radians(lon) - radians(-97))) AS y
         |  FROM verts),
         |pairs AS (SELECT a.fips, a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj
         |  FROM proj a JOIN proj b ON a.fips = b.fips AND b.i = (a.i + 1) % 31)
         |SELECT fips, round(abs(sum(xi*yj - xj*yi)) / 2 / 1000000.0, 3) AS area_km2
         |FROM pairs GROUP BY fips ORDER BY fips""".stripMargin
    },

    "q35_multipart" ->
      s"""WITH tr AS (${TpchGeo.tractsSql})
         |SELECT p_size,
         |  CAST(count(DISTINCT (tx0, ty0)) AS INT) AS n_rings,
         |  count(DISTINCT (tx0, ty0)) * 262144.0 AS area
         |FROM tr GROUP BY p_size ORDER BY p_size""".stripMargin,

    "q36_qa_threshold" ->
      s"""SELECT CAST(srg_code AS INT) AS srg_code, fips, col, "row", frac
         |FROM (${SparkEntry.srgPointStmt})
         |WHERE frac >= 0.05
         |ORDER BY srg_code, fips, "row", col""".stripMargin,

    "q33_diffsurr" ->
      s"""SELECT coalesce(a.fips, b.fips) AS fips,
         |  coalesce(a.col, b.col) AS col,
         |  coalesce(a."row", b."row") AS "row",
         |  a.frac AS frac_a, b.frac AS frac_b
         |FROM $s1 a FULL OUTER JOIN $s2 b
         |  ON a.fips = b.fips AND a.col = b.col AND a."row" = b."row"
         |WHERE a.frac IS NULL OR b.frac IS NULL OR abs(a.frac - b.frac) > 0.00001
         |ORDER BY fips, "row", col""".stripMargin
  )
}
