package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TpchGeo}
import graft.fixtures.TpchGeo.{domain, grid, zres}
import graft.functions.WeightExpr
import graft.operators.{Allocate, Corridor, Filters, Knn, Reproject, SpatialJoin, Surrogate, Topology, WeightKind}
import graft.sources.GridDesc
import graft.text.Html
import graft.SparkEntry.scratch
import TextQueries.hv

/** The Spatial Allocator core: srgcreate surrogates, the five
  * allocate modes, overlay, filter, reproject, kNN, the grid and file
  * front doors (shapefile, WKT, I/O API, EGrid, variable grid). */
object SpatialQueries {

  /** eval.c operator subset exercised: * - / + ( ); all-dyadic values so
    * both engines aggregate bit-exactly. */
  private val WFUN = "(3*p_size - p_size/2) + 128"

  private[registry] def srgSelect(code: Int): String =
    s"""SELECT CAST($code AS INT) AS srg_code, fips, col, "row",
       |  numer/denom AS frac, numer, denom,
       |  sum(numer/denom) OVER (PARTITION BY fips ORDER BY "row", col) AS qasum
       |FROM num JOIN den USING (fips)
       |WHERE denom >= 0.00001 AND numer <> 0
       |ORDER BY fips, "row", col""".stripMargin

  private[registry] lazy val pagesSrgOracle: String =
    s"""WITH pg AS (${Pages.geotaggedSql}),
       |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
       |  CAST(floor(x/1000.0) AS INT)+1 AS col,
       |  CAST(floor(y/1000.0) AS INT)+1 AS "row" FROM pg),
       |num AS (SELECT fips, col, "row", CAST(count(*) AS DOUBLE) AS numer
       |        FROM tagged GROUP BY 1, 2, 3),
       |den AS (SELECT fips, CAST(count(*) AS DOUBLE) AS denom
       |        FROM tagged GROUP BY 1)
       |${srgSelect(300)}""".stripMargin

  /** (user_id, tus, x, y) — the deterministic trajectory. */
  private def traj(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("x", expr(
        "(user_id * 2654435761 + (tus div 259200000000) * 40503) % 7000" +
          " + (event_id * 48271) % 97"))
      .withColumn("y", expr(
        "(user_id * 16807 + (tus div 259200000000) * 69621) % 7000" +
          " + (event_id * 16807) % 97"))
      .drop("event_id")

  /** DuckDB twin of traj(). */
  private val trajSql: String =
    """SELECT user_id, epoch_us(ts) AS tus,
      |  (user_id * 2654435761 + (epoch_us(ts) // 259200000000) * 40503)
      |    % 7000 + (event_id * 48271) % 97 AS x,
      |  (user_id * 16807 + (epoch_us(ts) // 259200000000) * 69621)
      |    % 7000 + (event_id * 16807) % 97 AS y
      |FROM events""".stripMargin

  /** 13-bit / 12-bit morton spreads for the geohash oracle. */
  private def morton(col: String, bits: Int): String =
    (0 until bits).map { m =>
      if (m == 0) s"($col & 1)" else s"(($col & ${1L << m}) << $m)"
    }.mkString(" | ")

  // (zone id, x0, x1, y0, y1, epoch start, epoch end) — integer-corner
  // rects and half-open [start, end) day-aligned windows; event points
  // sit at .5 offsets so no point ever lies on a zone boundary
  private val Zones = Seq(
    ("Z1", 500L, 2300L, 500L, 2300L, 1704067200L, 1704499200L),
    ("Z2", 4000L, 5800L, 1000L, 2800L, 1704499200L, 1705104000L),
    ("Z3", 6000L, 7800L, 6000L, 7800L, 1704067200L, 1706659200L),
    ("Z4", 0L, 1800L, 6200L, 8000L, 1705968000L, 1706572800L))

  /** DuckDB haversine of a constant-latitude span (the exact expression
    * tree of Geo.haversine with dLat = 0). */
  private def havSql(y: String, a: String, b: String): String =
    s"2*6370997.0*asin(least(1.0, sqrt(cos(radians($y))*cos(radians($y))*pow(sin(radians(($b) - ($a))/2), 2))))"

  /** DuckDB twins of the Snyder spherical forward projections used by q41
    * (same formulas as grid.Proj; round() to meters absorbs ulp noise). */
  private def projOracleSql: String = {
    val R = "6370997.0"
    def fam(name: String, x: String, y: String): String =
      s"""SELECT k, '$name' AS family,
         |  CAST(round($x) AS BIGINT) AS x_m, CAST(round($y) AS BIGINT) AS y_m
         |FROM pts""".stripMargin
    val aea = {
      val n = "((sin(radians(29.5)) + sin(radians(45.5))) / 2)"
      val C = s"(cos(radians(29.5))*cos(radians(29.5)) + 2*$n*sin(radians(29.5)))"
      val rho0 = s"($R*sqrt($C - 2*$n*sin(radians(23)))/$n)"
      val rho = s"($R*sqrt($C - 2*$n*sin(radians(lat)))/$n)"
      val th = s"($n*(radians(lon) - radians(-96)))"
      fam("aea", s"$rho*sin($th)", s"$rho0 - $rho*cos($th)")
    }
    val laea = {
      val kp = "sqrt(2/(1 + sin(radians(45))*sin(radians(lat)) + cos(radians(45))*cos(radians(lat))*cos(radians(lon) - radians(-100))))"
      fam("laea", s"$R*$kp*cos(radians(lat))*sin(radians(lon) - radians(-100))",
        s"$R*$kp*(cos(radians(45))*sin(radians(lat)) - sin(radians(45))*cos(radians(lat))*cos(radians(lon) - radians(-100)))")
    }
    val lcc = {
      val n = "(ln(cos(radians(33))/cos(radians(45))) / ln(tan(pi()/4 + radians(45)/2)/tan(pi()/4 + radians(33)/2)))"
      val F = s"(cos(radians(33))*pow(tan(pi()/4 + radians(33)/2), $n)/$n)"
      val rho0 = s"($R*$F/pow(tan(pi()/4 + radians(40)/2), $n))"
      val rho = s"($R*$F/pow(tan(pi()/4 + radians(lat)/2), $n))"
      val th = s"($n*(radians(lon) - radians(-97)))"
      fam("lcc", s"$rho*sin($th)", s"$rho0 - $rho*cos($th)")
    }
    val merc2sp = fam("merc2sp",
      s"$R*cos(radians(30))*(radians(lon) - radians(-90))",
      s"$R*cos(radians(30))*ln(tan(pi()/4 + radians(lat)/2))")
    val polar = {
      val kp = "((1 + sin(radians(60)))/2)"
      val rho = s"(2*$R*$kp*tan(pi()/4 - radians(lat)/2))"
      fam("polar", s"$rho*sin(radians(lon) - radians(-100))",
        s"-($rho)*cos(radians(lon) - radians(-100))")
    }
    val sinu = fam("sinu",
      s"$R*(radians(lon) - radians(-90))*cos(radians(lat))", s"$R*radians(lat)")
    val stere = {
      val kk = "(2/(1 + sin(radians(40))*sin(radians(lat)) + cos(radians(40))*cos(radians(lat))*cos(radians(lon) - radians(-97))))"
      fam("stere", s"$R*$kk*cos(radians(lat))*sin(radians(lon) - radians(-97))",
        s"$R*$kk*(cos(radians(40))*sin(radians(lat)) - sin(radians(40))*cos(radians(lat))*cos(radians(lon) - radians(-97)))")
    }
    val tmerc = {
      val b = "(cos(radians(lat))*sin(radians(lon) - radians(-97)))"
      fam("tmerc", s"$R*0.9996/2*ln((1 + $b)/(1 - $b)) + 500000",
        s"$R*0.9996*(atan2(tan(radians(lat)), cos(radians(lon) - radians(-97))) - radians(40))")
    }
    val unions = Seq(aea, laea, lcc, merc2sp, polar, sinu, stere, tmerc)
      .mkString("\nUNION ALL ")
    s"""WITH pts AS (
       |  SELECT c_custkey AS k,
       |    -120.0 + ((c_custkey * 7919) % 6000) / 100.0 AS lon,
       |    25.0 + ((c_custkey * 104729) % 2400) / 100.0 AS lat
       |  FROM customer WHERE c_custkey <= 30)
       |$unions
       |ORDER BY family, k""".stripMargin
  }

  /** DuckDB twins of the Snyder ELLIPSOIDAL forward projections used by
    * q54 (GRS80; the q/t/m/χ kernels recomputed from first principles in
    * SQL; round() to meters absorbs libm-vs-JVM ulps). */
  private def projEllOracleSql: String = {
    val a = "6378137.0"
    // e² and e exactly as Ellipsoid computes them: f=(a−b)/a, e²=f(2−f)
    val b = s"($a*(1.0 - 1.0/298.257222101))"
    val f = s"(($a - $b)/$a)"
    val e2 = s"($f*(2.0 - $f))"
    val e = s"sqrt($e2)"
    def mOf(phi: String) = s"(cos($phi)/sqrt(1.0 - $e2*sin($phi)*sin($phi)))"
    def tOf(phi: String) =
      s"(tan(pi()/4 - ($phi)/2) / pow((1.0 - $e*sin($phi))/(1.0 + $e*sin($phi)), $e/2))"
    def qOf(phi: String) =
      s"((1.0 - $e2)*(sin($phi)/(1.0 - $e2*sin($phi)*sin($phi)) - (1.0/(2.0*$e))*ln((1.0 - $e*sin($phi))/(1.0 + $e*sin($phi)))))"
    def chiOf(phi: String) = s"(pi()/2 - 2*atan(${tOf(phi)}))"
    def fam(name: String, x: String, y: String): String =
      s"""SELECT k, '$name' AS family,
         |  CAST(round($x) AS BIGINT) AS x_m, CAST(round($y) AS BIGINT) AS y_m
         |FROM pts""".stripMargin
    val phi = "radians(lat)"

    val aea = {
      val m1 = mOf("radians(29.5)"); val m2 = mOf("radians(45.5)")
      val q1 = qOf("radians(29.5)"); val q2 = qOf("radians(45.5)")
      val n = s"(($m1*$m1 - $m2*$m2)/($q2 - $q1))"
      val cC = s"($m1*$m1 + $n*$q1)"
      val rho0 = s"($a*sqrt($cC - $n*${qOf("radians(23)")})/$n)"
      val rho = s"($a*sqrt($cC - $n*${qOf(phi)})/$n)"
      val th = s"($n*(radians(lon) - radians(-96)))"
      fam("aea_e", s"$rho*sin($th)", s"$rho0 - $rho*cos($th)")
    }
    val laea = {
      val qp = qOf("radians(90)")
      val beta = s"asin(${qOf(phi)}/$qp)"
      val b0 = s"asin(${qOf("radians(45)")}/$qp)"
      val rq = s"($a*sqrt($qp/2.0))"
      val dD = s"($a*${mOf("radians(45)")}/($rq*cos($b0)))"
      val dl = "(radians(lon) - radians(-100))"
      val bB = s"($rq*sqrt(2.0/(1.0 + sin($b0)*sin($beta) + cos($b0)*cos($beta)*cos($dl))))"
      fam("laea_e", s"$bB*$dD*cos($beta)*sin($dl)",
        s"($bB/$dD)*(cos($b0)*sin($beta) - sin($b0)*cos($beta)*cos($dl))")
    }
    val merc = {
      val k0 = mOf("radians(30)")
      fam("merc_e", s"$a*$k0*(radians(lon) - radians(-90))",
        s"-($a*$k0*ln(${tOf(phi)}))")
    }
    val polar = {
      val rho = s"($a*${mOf("radians(60)")}*${tOf(phi)}/${tOf("radians(60)")})"
      val dl = "(radians(lon) - radians(-100))"
      fam("polar_e", s"$rho*sin($dl)", s"-($rho)*cos($dl)")
    }
    val stere = {
      val x0 = chiOf("radians(40)"); val m0 = mOf("radians(40)")
      val x = chiOf(phi)
      val dl = "(radians(lon) - radians(-97))"
      val aA = s"(2.0*$a*$m0/(cos($x0)*(1.0 + sin($x0)*sin($x) + cos($x0)*cos($x)*cos($dl))))"
      fam("stere_e", s"$aA*cos($x)*sin($dl)",
        s"$aA*(cos($x0)*sin($x) - sin($x0)*cos($x)*cos($dl))")
    }
    val sinu = {
      // meridian arc M(φ) — the same Snyder 3-21 truncation as
      // Ellipsoidal.meridianArc, so both sides agree to ulps
      val arc =
        s"""($a*((1.0 - $e2/4 - 3*$e2*$e2/64 - 5*$e2*$e2*$e2/256)*$phi
           | - (3*$e2/8 + 3*$e2*$e2/32 + 45*$e2*$e2*$e2/1024)*sin(2*$phi)
           | + (15*$e2*$e2/256 + 45*$e2*$e2*$e2/1024)*sin(4*$phi)
           | - (35*$e2*$e2*$e2/3072)*sin(6*$phi)))""".stripMargin.replace("\n", "")
      fam("sinu_e",
        s"$a*(radians(lon) - radians(-100))*cos($phi)/sqrt(1.0 - $e2*sin($phi)*sin($phi))",
        arc)
    }
    val unions = Seq(aea, laea, merc, polar, sinu, stere).mkString("\nUNION ALL ")
    s"""WITH pts AS (
       |  SELECT c_custkey AS k,
       |    -120.0 + ((c_custkey * 7919) % 6000) / 100.0 AS lon,
       |    25.0 + ((c_custkey * 104729) % 2400) / 100.0 AS lat
       |  FROM customer WHERE c_custkey <= 30)
       |$unions
       |ORDER BY family, k""".stripMargin
  }

  /** Full q03/q04 oracle statements, reusable as parenthesized subqueries
    * by the post-op oracles (PostOpsQueries). */
  private[registry] lazy val srgPointStmt: String =
    s"""WITH pts AS (${TpchGeo.pointsSql}),
       |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
       |  CAST(floor(x/1000.0) AS INT)+1 AS col,
       |  CAST(floor(y/1000.0) AS INT)+1 AS "row" FROM pts),
       |num AS (SELECT fips, col, "row", CAST(count(*) AS DOUBLE) AS numer
       |        FROM tagged GROUP BY 1, 2, 3),
       |den AS (SELECT fips, CAST(count(*) AS DOUBLE) AS denom
       |        FROM tagged GROUP BY 1)
       |${srgSelect(100)}""".stripMargin

  private[registry] lazy val srgAreaStmt: String = srgAreaStmtFor(120, "p_size")

  /** Area-mode surrogate oracle with a pluggable weight SQL expression over
    * the tract attributes (the USE_FUNCTION path). */
  private def srgAreaStmtFor(code: Int, wexpr: String): String =
    s"""WITH tr AS (${TpchGeo.tractsSql}),
       |cn AS (${TpchGeo.countiesSql}),
       |cl AS (${TpchGeo.cellsSql}),
       |fr AS (
       |  SELECT fips, p_size, tx0, ty0, cx0, cy0,
       |    greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
       |    greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) AS fa
       |  FROM tr CROSS JOIN cn
       |  WHERE greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
       |        greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) > 0),
       |den AS (SELECT fips, sum(($wexpr) * (fa / 262144.0)) AS denom
       |        FROM fr GROUP BY 1),
       |cf AS (
       |  SELECT fips, col, "row", p_size,
       |    greatest(0, least(tx0+512, cx0+2000, gx0+1000) - greatest(tx0, cx0, gx0)) *
       |    greatest(0, least(ty0+512, cy0+2000, gy0+1000) - greatest(ty0, cy0, gy0)) AS ca
       |  FROM fr CROSS JOIN cl),
       |num AS (SELECT fips, col, "row", sum(($wexpr) * (ca / 262144.0)) AS numer
       |        FROM cf WHERE ca > 0 GROUP BY 1, 2, 3)
       |${srgSelect(code)}""".stripMargin

  def all: Seq[Q] = Seq(
    // --- batched cell-encode / geotag stage (closed-form grid math)
    Q("q02_geotag_cells", (s, dir) => {
      import graft.spark.GeoFunctions._
      TpchGeo.points(s, dir)
        .withColumn("col", gridCol(col("x"), grid))
        .withColumn("row", gridRow(col("y"), grid))
        .groupBy("col", "row").agg(count(lit(1)).as("n"))
        .orderBy("row", "col")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql})
         |SELECT CAST(floor(x/1000.0) AS INT)+1 AS col,
         |  CAST(floor(y/1000.0) AS INT)+1 AS "row", count(*) AS n
         |FROM pts GROUP BY 1, 2 ORDER BY "row", col""".stripMargin),

    // --- srgcreate: point weights, count mode (sumpoly.c:224-228)
    Q("q03_srg_point", (s, dir) =>
      Surrogate.pointSurrogate(TpchGeo.points(s, dir), TpchGeo.counties(s),
        grid, domain, zres, srgCode = 100),
      srgPointStmt),

    // --- srgcreate: polygon weights, attribute mode (population analogue)
    Q("q04_srg_area", (s, dir) =>
      Surrogate.polySurrogate(TpchGeo.tracts(s, dir), TpchGeo.counties(s),
        grid, domain, zres, srgCode = 120, weight = Some("p_size")),
      srgAreaStmt),

    // --- srgcreate: line weights, length mode (road miles analogue)
    Q("q05_srg_line", (s, dir) =>
      Surrogate.lineSurrogate(TpchGeo.roads(s, dir), TpchGeo.counties(s),
        grid, domain, zres, srgCode = 240),
      s"""WITH rd AS (${TpchGeo.roadsSql}),
         |cn AS (${TpchGeo.countiesSql}),
         |cl AS (${TpchGeo.cellsSql}),
         |fr AS (
         |  SELECT fips, s_suppkey, x1, x2, y, cx0, cy0,
         |    greatest(0, least(x2, cx0+2000) - greatest(x1, cx0)) AS flen
         |  FROM rd JOIN cn ON y > cy0 AND y < cy0+2000
         |  WHERE greatest(0, least(x2, cx0+2000) - greatest(x1, cx0)) > 0),
         |den AS (SELECT fips, sum(flen) AS denom FROM fr GROUP BY 1),
         |cf AS (
         |  SELECT fips, col, "row",
         |    greatest(0, least(x2, cx0+2000, gx0+1000) - greatest(x1, cx0, gx0)) AS clen
         |  FROM fr JOIN cl ON y > gy0 AND y < gy0+1000),
         |num AS (SELECT fips, col, "row", sum(clen) AS numer
         |        FROM cf WHERE clen > 0 GROUP BY 1, 2, 3)
         |${srgSelect(240)}""".stripMargin),

    // --- allocate: Aggregate mode (allocate.c:212, sum1Poly)
    Q("q06_allocate_agg", (s, dir) =>
      Allocate.allocate(TpchGeo.tracts(s, dir),
          TpchGeo.counties(s).withColumnRenamed("fips", "out_id"),
          Seq("p_size" -> Allocate.Aggregate), domain, zres)
        .withColumnRenamed("out_id", "fips")
        .withColumnRenamed("p_size", "p_size_alloc")
        .orderBy("fips"),
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cn AS (${TpchGeo.countiesSql}),
         |fr AS (
         |  SELECT fips, p_size,
         |    greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
         |    greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) AS fa
         |  FROM tr CROSS JOIN cn)
         |SELECT fips, sum(p_size * (fa / 262144.0)) AS p_size_alloc
         |FROM fr WHERE fa > 0 GROUP BY fips ORDER BY fips""".stripMargin),

    // --- allocate: Average mode (avg1Poly density semantics)
    Q("q07_allocate_avg", (s, dir) =>
      Allocate.allocate(TpchGeo.tracts(s, dir),
          TpchGeo.counties(s).withColumnRenamed("fips", "out_id"),
          Seq("p_size" -> Allocate.Average), domain, zres)
        .withColumnRenamed("out_id", "fips")
        .withColumnRenamed("p_size", "p_size_density")
        .orderBy("fips"),
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cn AS (${TpchGeo.countiesSql}),
         |fr AS (
         |  SELECT fips, p_size,
         |    greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
         |    greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) AS fa
         |  FROM tr CROSS JOIN cn)
         |SELECT fips, sum(p_size * (fa / 262144.0)) / 4000000.0 AS p_size_density
         |FROM fr WHERE fa > 0 GROUP BY fips ORDER BY fips""".stripMargin),

    // --- OVERLAY mode: semi-join against a 2-polygon mask (overlay.c:21)
    Q("q08_overlay", (s, dir) => {
      import s.implicits._
      val mask = Seq(
        Seq(Seq(500.0, 500, 2500, 500, 2500, 2500, 500, 2500)),
        Seq(Seq(5000.0, 1000, 7000, 1000, 7000, 3000, 5000, 3000))
      ).toDF("geom")
      SpatialJoin.overlayPoints(TpchGeo.points(s, dir), mask, domain, zres)
        .orderBy("o_orderkey")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql})
         |SELECT o_orderkey, x, y FROM pts
         |WHERE (x > 500 AND x < 2500 AND y > 500 AND y < 2500)
         |   OR (x > 5000 AND x < 7000 AND y > 1000 AND y < 3000)
         |ORDER BY o_orderkey""".stripMargin),

    // --- FILTER_SHAPE: glob include/exclude + continuous range
    Q("q09_filter", (s, dir) =>
      Filters.filterSpec(s.read.parquet(s"$dir/part.parquet"),
        Seq(
          Filters.AttrCond("p_brand", discrete = true,
            include = Seq("Brand#3*"), exclude = Seq("Brand#33")),
          Filters.AttrCond("p_size", discrete = false, include = Seq("10-40"))))
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey"),
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE p_brand LIKE 'Brand#3%' AND p_brand <> 'Brand#33'
        |  AND p_size BETWEEN 10 AND 40
        |ORDER BY p_partkey""".stripMargin),

    // --- kNN: k-ring expansion (replaces ANN kd-tree)
    Q("q10_knn", (s, dir) =>
      Knn.knnJoin(TpchGeo.knnQueries(s, dir), TpchGeo.knnSites(s, dir),
          k = 5, domain, zres)
        .orderBy("qid", "rank"),
      """WITH q AS (SELECT c_custkey AS qid,
        |    CAST((c_custkey*32717) % 8000 AS DOUBLE) AS x,
        |    CAST((c_custkey*11261) % 8000 AS DOUBLE) AS y
        |  FROM customer WHERE c_custkey <= 20),
        |s AS (SELECT s_suppkey AS sid,
        |    CAST((s_suppkey*27179) % 8000 AS DOUBLE) AS sx,
        |    CAST((s_suppkey*15101) % 8000 AS DOUBLE) AS sy
        |  FROM supplier),
        |d AS (SELECT qid, sid, (x-sx)*(x-sx)+(y-sy)*(y-sy) AS dist2
        |      FROM q CROSS JOIN s),
        |r AS (SELECT qid, sid, dist2,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist2, sid) AS INT) AS "rank"
        |  FROM d)
        |SELECT qid, sid, dist2, "rank" FROM r WHERE "rank" <= 5
        |ORDER BY qid, "rank"""".stripMargin),

    // flagship: page-count surrogate (srgcreate count mode over pages)
    Q("q21_pages_srg", (s, dir) =>
      Surrogate.pointSurrogate(Pages.geotag(Pages.pages(s, dir)),
        TpchGeo.counties(s), grid, domain, zres, srgCode = 300),
      pagesSrgOracle),

    // byte-identical text/html per url THROUGH a spatial join + forced
    // wide shuffle — the per-row invariant of the north rule, checked
    // against an engine that never shuffled (DuckDB)
    Q("q22_pages_fidelity", (s, dir) =>
      SpatialJoin.pointInPoly(Pages.geotag(Pages.pages(s, dir)),
          TpchGeo.counties(s), domain, zres)
        .repartition(16, col("fips"))   // explicit exchange on a hot key
        .select(col("url"), col("fips"),
          unix_timestamp(col("warc_ts")).as("warc_epoch"),
          md5(col("text")).as("text_md5"),
          md5(col("html")).as("html_md5"),
          length(col("html")).as("html_bytes"),
          col("lang"))
        .orderBy("url"),
      s"""WITH pg AS (${Pages.geotaggedSql})
         |SELECT url, ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  CAST(epoch(warc_ts) AS BIGINT) AS warc_epoch,
         |  md5(text) AS text_md5,
         |  md5(decode(html)) AS html_md5,
         |  CAST(octet_length(html) AS INT) AS html_bytes,
         |  lang
         |FROM pg ORDER BY url""".stripMargin),

    // DiscreteOverlap + DiscreteCentroid in one allocate pass
    Q("q30_alloc_discrete", (s, dir) =>
      Allocate.allocate(TpchGeo.tracts(s, dir),
          TpchGeo.counties(s).withColumnRenamed("fips", "out_id"),
          Seq("p_size" -> Allocate.DiscreteOverlap,
              "p_partkey" -> Allocate.DiscreteCentroid),
          domain, zres)
        .withColumnRenamed("out_id", "fips")
        .withColumnRenamed("p_size", "ov_size")
        .withColumnRenamed("p_partkey", "cent_key")
        .orderBy("fips"),
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
         |ORDER BY fips""".stripMargin),

    // typeAreaPercent: fraction of each grid cell covered per category
    Q("q31_area_percent", (s, dir) =>
      Allocate.areaPercent(
          TpchGeo.tracts(s, dir).withColumn("category",
            substring(col("p_partkey").cast("string"), -1, 1)),
          "category", grid)
        .orderBy("row", "col", "category"),
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
         |ORDER BY "row", col, category""".stripMargin),

    // srgcreate USE_FUNCTION: computed weight column through the full
    // polygon surrogate pipeline
    Q("q32_srg_weight_fun", (s, dir) =>
      Surrogate.polySurrogate(
        TpchGeo.tracts(s, dir).withColumn("__wf", WeightExpr.compile(WFUN)),
        TpchGeo.counties(s), grid, domain, zres,
        srgCode = 130, weight = Some("__wf")),
      srgAreaStmtFor(130, "(3*p_size - p_size/2) + 128")),

    // CONVERT_SHAPE: counties → lon/lat → LCC (densified at 0.1°);
    // per-county projected area rounded to 0.001 km² — the quantization
    // absorbs trig/summation-order ulps, so a closed-form DuckDB oracle
    // (same 31-vertex densification, same Snyder LCC, same shoelace)
    // hash-gates it since round 2.
    Q("q34_reproject", (s, dir) => {
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
    },
      {
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
    }),

    // PolyMShapeInOne (PolyMShapeInOne.c:30-300): multi-record features
    // sharing an id merge into one multipolygon; per-feature ring count and
    // exact area (distinct disjoint rects → closed-form oracle)
    Q("q35_multipart", (s, dir) => {
      import graft.spark.GeoFunctions.polygonArea
      TpchGeo.tracts(s, dir)
        .select(col("p_size"), col("geom").getItem(0).as("ring"))
        .groupBy("p_size")
        .agg(array_sort(collect_set(col("ring"))).as("geom"))
        .select(col("p_size"), size(col("geom")).as("n_rings"),
          polygonArea(col("geom")).as("area"))
        .orderBy("p_size")
    },
      s"""WITH tr AS (${TpchGeo.tractsSql})
         |SELECT p_size,
         |  CAST(count(DISTINCT (tx0, ty0)) AS INT) AS n_rings,
         |  count(DISTINCT (tx0, ty0)) * 262144.0 AS area
         |FROM tr GROUP BY p_size ORDER BY p_size""".stripMargin),

    // --- shapefile binary front door (PolyShapeReader.c/AttachDBFAttribute.c):
    // tracts → .shp/.dbf bytes → binary read-back → polygon surrogate.
    // Same oracle math as q04 at a distinct srg code — proves the binary
    // round trip is lossless end-to-end (IEEE doubles + integer DBF attrs).
    Q("q40_shapefile_srg", (s, dir) => {
      import graft.sources.Shapefile
      val base = scratch(s, "shp", dir) + "/tracts"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base).getParent)
      Shapefile.writePolygons(TpchGeo.tracts(s, dir), base, "geom",
        Seq(Shapefile.DbfCol("p_partkey", 'N', 12), Shapefile.DbfCol("p_size", 'N', 8)))
      Surrogate.polySurrogate(Shapefile.read(s, base), TpchGeo.counties(s),
        grid, domain, zres, srgCode = 130, weight = Some("p_size"))
    },
      srgAreaStmtFor(130, "p_size")),

    // --- all remaining projection families (GRIDDESC types 4,5,7,8,9,10,11),
    // quantized to integer meters: round() absorbs the few-ulp libm-vs-JVM
    // trig differences, so the closed-form DuckDB oracle hash-matches the
    // engine's Snyder implementations exactly on this CONUS lattice.
    Q("q41_projections", (s, dir) => {
      import graft.grid.Proj
      val fams: Seq[(String, Proj)] = Seq(
        "aea" -> Proj.Aea(29.5, 45.5, 23, -96),
        "laea" -> Proj.Laea(45, -100),
        "lcc" -> Proj.Lcc(33, 45, 40, -97),
        "merc2sp" -> Proj.Merc2SP(30, -90),
        "polar" -> Proj.PolarStere(60, -100),
        "sinu" -> Proj.Sinu(-90),
        "stere" -> Proj.Stere(40, -97),
        "tmerc" -> Proj.Tmerc(-97, 0.9996, 500000, 0, 40))
      val pts = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") <= 30)
        .select(col("c_custkey").as("k"),
          (lit(-120.0) + expr("(c_custkey * 7919) % 6000") / lit(100.0)).as("lon"),
          (lit(25.0) + expr("(c_custkey * 104729) % 2400") / lit(100.0)).as("lat"))
      fams.map { case (fam, p) =>
        val fwd = udf((lon: Double, lat: Double) => {
          val (x, y) = p.forward(lon, lat)
          Array(math.round(x), math.round(y))
        })
        pts.withColumn("__xy", fwd(col("lon"), col("lat")))
          .select(col("k"), lit(fam).as("family"),
            element_at(col("__xy"), 1).as("x_m"),
            element_at(col("__xy"), 2).as("y_m"))
      }.reduce(_ unionByName _).orderBy("family", "k")
    },
      projOracleSql),

    // --- USE_CURVED_LINES line surrogate on the lon/lat twin fixture:
    // every length (parent, county fragment, cell piece) is a great-circle
    // haversine; quantization (frac×1e8, integer meters) absorbs libm/JVM
    // trig ulps and cross-engine summation-order ulps, so the DuckDB
    // haversine oracle hash-matches. Curved≠planar is asserted in
    // CurvedLinesSpec.
    Q("q42_srg_line_curved", (s, dir) =>
      Surrogate.lineSurrogate(TpchGeo.roadsLL(s, dir), TpchGeo.countiesLL(s),
          TpchGeo.gridLL, TpchGeo.domainLL, zres, srgCode = 250, curved = true)
        .select(col("srg_code"), col("fips"), col("col"), col("row"),
          round(col("frac") * 1e8).cast("long").as("frac_q"),
          round(col("numer")).cast("long").as("numer_m"),
          round(col("denom")).cast("long").as("denom_m"))
        // sub-meter numerators are clip-endpoint ulp artifacts (a piece
        // endpoint lands ~1e-16° past a county edge) — below the quantum,
        // excluded on both sides
        .where(col("numer_m") >= 1)
        .orderBy("fips", "row", "col"),
      s"""WITH rd AS (${TpchGeo.roadsLLSql}),
         |cn AS (${TpchGeo.countiesLLSql}),
         |cl AS (${TpchGeo.cellsLLSql}),
         |fr AS (
         |  SELECT fips, y, greatest(x1, cx0) AS fa, least(x2, cx0 + 2.0) AS fb
         |  FROM rd JOIN cn ON y > cy0 AND y < cy0 + 2.0
         |  WHERE least(x2, cx0 + 2.0) > greatest(x1, cx0)),
         |den AS (SELECT fips, sum(${havSql("y", "fa", "fb")}) AS denom
         |        FROM fr GROUP BY 1),
         |cf AS (
         |  SELECT fips, col, "row", y,
         |    greatest(fa, gx0) AS ca, least(fb, gx0 + 1.0) AS cb
         |  FROM fr JOIN cl ON y > gy0 AND y < gy0 + 1.0
         |  WHERE least(fb, gx0 + 1.0) > greatest(fa, gx0)),
         |num AS (SELECT fips, col, "row", sum(${havSql("y", "ca", "cb")}) AS numer
         |        FROM cf GROUP BY 1, 2, 3)
         |SELECT CAST(250 AS INT) AS srg_code, fips, col, "row",
         |  CAST(round(numer/denom*100000000.0) AS BIGINT) AS frac_q,
         |  CAST(round(numer) AS BIGINT) AS numer_m,
         |  CAST(round(denom) AS BIGINT) AS denom_m
         |FROM num JOIN den USING (fips)
         |WHERE denom >= 0.00001 AND numer <> 0
         |  AND CAST(round(numer) AS BIGINT) >= 1
         |ORDER BY fips, "row", col""".stripMargin),

    // --- EGrid (staggered WRF-NMM diamonds, EGridReader.c:36 +
    // mims_spatial.c:282 EGrid ALLOCATE): points joined to diamond cells
    // through the REAL cell-cover + ray-cast pipeline; the oracle is the
    // closed diamond inequality |x−cx| + |y−cy| ≤ d/2 (edge points count
    // into both adjacent diamonds — EDGE-in semantics on each).
    Q("q43_egrid_overlay", (s, dir) => {
      val diamonds = graft.sources.Sources.eGrid(s, "EG", 0, 0, 1000, 1000, 9, 17)
      SpatialJoin.pointInPoly(TpchGeo.points(s, dir), diamonds, domain, zres)
        .groupBy("col", "row").agg(count(lit(1)).as("n"))
        .orderBy("row", "col")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |dm AS (SELECT CAST(id % 9 + 1 AS INT) AS col,
         |  CAST(floor(id / 9.0) + 1 AS INT) AS "row",
         |  CAST((id % 9) * 1000 +
         |    (CASE WHEN (CAST(floor(id / 9.0) AS INT) + 1) % 2 = 0
         |          THEN 500 ELSE 0 END) AS DOUBLE) AS cx,
         |  CAST(CAST(floor(id / 9.0) AS INT) * 500 AS DOUBLE) AS cy
         |FROM range(153) t(id))
         |SELECT col, "row", count(*) AS n
         |FROM dm JOIN pts ON abs(x - cx) + abs(y - cy) <= 500
         |GROUP BY 1, 2 ORDER BY "row", col""".stripMargin),

    // --- Variable grid (1-level nested refinement, variableGridReader.c:82):
    // point counts per leaf cell (coarse cells + 4-way children).
    Q("q44_vargrid_overlay", (s, dir) => {
      val vg = graft.sources.Sources.variableGrid(s,
        graft.grid.GridSpec("VG", 0, 0, 2000, 2000, 4, 4), Set(0L, 5L, 10L, 15L))
      SpatialJoin.pointInPoly(TpchGeo.points(s, dir), vg, domain, zres)
        .groupBy("cell_id", "parent_id", "depth").agg(count(lit(1)).as("n"))
        .orderBy("cell_id")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |base AS (SELECT i AS cell_id, i AS parent_id, 0 AS depth,
         |    CAST((i % 4) * 2000 AS DOUBLE) AS x0,
         |    CAST(CAST(floor(i / 4.0) AS INT) * 2000 AS DOUBLE) AS y0,
         |    2000.0 AS sz
         |  FROM range(16) t(i) WHERE i NOT IN (0, 5, 10, 15)),
         |kids AS (SELECT i * 4 + k AS cell_id, i AS parent_id, 1 AS depth,
         |    CAST((i % 4) * 2000 + (k % 2) * 1000 AS DOUBLE) AS x0,
         |    CAST(CAST(floor(i / 4.0) AS INT) * 2000
         |      + CAST(floor(k / 2.0) AS INT) * 1000 AS DOUBLE) AS y0,
         |    1000.0 AS sz
         |  FROM range(16) t(i) CROSS JOIN range(4) u(k) WHERE i IN (0, 5, 10, 15)),
         |cells AS (SELECT * FROM base UNION ALL SELECT * FROM kids)
         |SELECT cell_id, parent_id, CAST(depth AS INT) AS depth, count(*) AS n
         |FROM cells JOIN pts
         |  ON x > x0 AND x < x0 + sz AND y > y0 AND y < y0 + sz
         |GROUP BY 1, 2, 3 ORDER BY cell_id""".stripMargin),

    // --- BELD-shaped end-to-end (beld3smk.c:40-629): a WIDE multi-variable
    // landuse layer stored as TILE-PARTITIONED parquet; the query window
    // touches 4 of 16 tiles (partition pruning — plan-asserted in
    // PartitionPruningSpec) and every variable regrids onto cells in ONE
    // fragment join (allocate Aggregate over 8 columns at once).
    Q("q45_beld_allocate", (s, dir) => {
      val beldDir = scratch(s, "beld", dir)
      val primes = Seq(3, 7, 11, 13, 17, 19, 23, 29)
      val luCols = primes.zipWithIndex.map { case (p, i) =>
        expr(s"CAST((p_partkey * $p) % 100 AS DOUBLE)").as(s"lu_$i") }
      TpchGeo.tracts(s, dir)
        .withColumn("tile",
          (floor(col("geom").getItem(0).getItem(1) / 2048) * 4 +
           floor(col("geom").getItem(0).getItem(0) / 2048)).cast("int"))
        .select(Seq(col("p_partkey"), col("geom"), col("tile")) ++ luCols: _*)
        .write.mode("overwrite").partitionBy("tile").parquet(beldDir)
      val input = s.read.parquet(beldDir)
        .where(col("tile").isin(0, 1, 4, 5)) // SW-quadrant window
      val cells = graft.sources.Sources.regularGrid(s, grid)
        .withColumnRenamed("cell_id", "out_id")
      Allocate.allocate(input, cells,
          (0 until 8).map(i => s"lu_$i" -> (Allocate.Aggregate: Allocate.Mode)),
          domain, zres)
        .withColumn("col", (pmod(col("out_id"), lit(8)) + 1).cast("int"))
        .withColumn("row", (floor(col("out_id") / 8) + 1).cast("int"))
        .select(Seq(col("col"), col("row")) ++ (0 until 8).map(i => col(s"lu_$i")): _*)
        .orderBy("row", "col")
    },
      {
      val primes = Seq(3, 7, 11, 13, 17, 19, 23, 29)
      val luDefs = primes.zipWithIndex.map { case (p, i) =>
        s"CAST((p_partkey * $p) % 100 AS DOUBLE) AS lu_$i" }.mkString(",\n         |  ")
      val luSums = (0 until 8).map(i =>
        s"sum(lu_$i * (fa / 262144.0)) AS lu_$i").mkString(",\n         |  ")
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |wide AS (SELECT tx0, ty0,
         |  CAST(floor(ty0 / 2048) * 4 + floor(tx0 / 2048) AS INT) AS tile,
         |  $luDefs
         |FROM tr),
         |sel AS (SELECT * FROM wide WHERE tile IN (0, 1, 4, 5)),
         |cl AS (${TpchGeo.cellsSql}),
         |fr AS (
         |  SELECT col, "row", ${(0 until 8).map(i => s"lu_$i").mkString(", ")},
         |    greatest(0, least(tx0+512, gx0+1000) - greatest(tx0, gx0)) *
         |    greatest(0, least(ty0+512, gy0+1000) - greatest(ty0, gy0)) AS fa
         |  FROM sel CROSS JOIN cl)
         |SELECT col, "row",
         |  $luSums
         |FROM fr WHERE fa > 0 GROUP BY 1, 2 ORDER BY "row", col""".stripMargin
    }),

    // --- I/O API-shaped gridded allocate (allocateIoapi.c, raster→vector):
    // a (var, tstep, row, col, value) gridded table regrids onto the tract
    // polygons — Σ value·overlap/cellArea per (tract, var), summed across
    // timesteps. The gridded side is generated closed-form (deterministic),
    // so the DuckDB oracle reproduces every value.
    Q("q49_ioapi_alloc", (s, dir) => {
      import s.implicits._
      val cells = graft.sources.Sources.regularGrid(s, grid)
        .select(col("col"), col("row"))
      val gridded = cells
        .crossJoin(s.range(4).toDF("tstep"))
        .crossJoin(Seq(1, 2).toDF("vk"))
        .withColumn("var", concat(lit("V"), col("vk")))
        .withColumn("value",
          expr("CAST((vk * 31 + tstep * 7 + ((row - 1) * 8 + col)) % 50 AS DOUBLE)"))
        .select("var", "tstep", "row", "col", "value")
      Allocate.gridToPoly(gridded, grid,
          TpchGeo.tracts(s, dir), "p_partkey", "value", Seq("var"))
        .orderBy("p_partkey", "var")
    },
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cl AS (${TpchGeo.cellsSql}),
         |g AS (SELECT 'V' || CAST(vk AS VARCHAR) AS var, tstep, "row", col,
         |    CAST((vk * 31 + tstep * 7 + (("row" - 1) * 8 + col)) % 50 AS DOUBLE) AS value
         |  FROM cl CROSS JOIN range(4) t(tstep) CROSS JOIN (VALUES (1), (2)) v(vk)),
         |cov AS (
         |  SELECT p_partkey, col, "row",
         |    greatest(0, least(tx0+512, gx0+1000) - greatest(tx0, gx0)) *
         |    greatest(0, least(ty0+512, gy0+1000) - greatest(ty0, gy0)) AS ca
         |  FROM tr CROSS JOIN cl)
         |SELECT p_partkey, var, sum(value * ca) / 1000000.0 AS alloc
         |FROM cov JOIN g USING (col, "row")
         |WHERE ca > 0 GROUP BY 1, 2 ORDER BY p_partkey, var""".stripMargin),

    // --- OVERLAY with OVERLAY_OUT_CELLID=YES (overlay.c:155-190): q08's
    // semi-join plus the grid COL/ROW of each surviving point
    Q("q50_overlay_cellid", (s, dir) => {
      import s.implicits._
      val mask = Seq(
        Seq(Seq(500.0, 500, 2500, 500, 2500, 2500, 500, 2500)),
        Seq(Seq(5000.0, 1000, 7000, 1000, 7000, 3000, 5000, 3000))
      ).toDF("geom")
      SpatialJoin.overlayPoints(TpchGeo.points(s, dir), mask, domain, zres,
          cellIdGrid = Some(grid))
        .orderBy("o_orderkey")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql})
         |SELECT o_orderkey, x, y,
         |  CAST(floor(x/1000.0) AS INT)+1 AS col,
         |  CAST(floor(y/1000.0) AS INT)+1 AS "row"
         |FROM pts
         |WHERE (x > 500 AND x < 2500 AND y > 500 AND y < 2500)
         |   OR (x > 5000 AND x < 7000 AND y > 1000 AND y < 3000)
         |ORDER BY o_orderkey""".stripMargin),

    // --- NetCDF-3 I/O API BINARY round trip (IoapiInputReader.c:1-387 /
    // allocateIoapi.c:151-989): a deterministic gridded table is written as
    // a real .ncf (CDF classic + FDESC3 convention), read BACK through the
    // binary parser, and regridded onto tract polygons. Values are integral
    // doubles (exact in REAL storage), so the closed-form DuckDB oracle
    // hash-matches — proving the whole binary envelope is lossless.
    Q("q51_ncf_alloc", (s, dir) => {
      import s.implicits._
      import graft.sources.Ioapi
      val cells = graft.sources.Sources.regularGrid(s, grid)
        .select(col("col"), col("row"))
      val gridded = cells
        .crossJoin(s.range(3).toDF("tstep"))
        .crossJoin(Seq(1, 2).toDF("vk"))
        .withColumn("var", concat(lit("W"), col("vk")))
        .withColumn("value",
          expr("CAST((vk * 41 + tstep * 13 + ((row - 1) * 8 + col)) % 45 AS DOUBLE)"))
        .select("var", "tstep", "row", "col", "value")
      val path = scratch(s, "ncf", dir) + ".ncf"
      Ioapi.write(gridded, Ioapi.headerFor(grid,
        Seq(Ioapi.VarDef("W1", "units1"), Ioapi.VarDef("W2", "units2")),
        GridDesc.CoordSys.Default), path)
      val (_, back) = Ioapi.read(s, path, dropZeros = true)
      Allocate.gridToPoly(back, grid,
          TpchGeo.tracts(s, dir), "p_partkey", "value", Seq("var"))
        .orderBy("p_partkey", "var")
    },
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cl AS (${TpchGeo.cellsSql}),
         |g AS (SELECT 'W' || CAST(vk AS VARCHAR) AS var, tstep, "row", col,
         |    CAST((vk * 41 + tstep * 13 + (("row" - 1) * 8 + col)) % 45 AS DOUBLE) AS value
         |  FROM cl CROSS JOIN range(3) t(tstep) CROSS JOIN (VALUES (1), (2)) v(vk)),
         |cov AS (
         |  SELECT p_partkey, col, "row",
         |    greatest(0, least(tx0+512, gx0+1000) - greatest(tx0, gx0)) *
         |    greatest(0, least(ty0+512, gy0+1000) - greatest(ty0, gy0)) AS ca
         |  FROM tr CROSS JOIN cl)
         |SELECT p_partkey, var, sum(value * ca) / 1000000.0 AS alloc
         |FROM cov JOIN g USING (col, "row")
         |WHERE ca > 0 GROUP BY 1, 2 ORDER BY p_partkey, var""".stripMargin),

    // --- diffioapi (diffioapi.c:9-298): two gridded files — the second
    // with a closed-form +50% perturbation on every 5th diagonal — written
    // to .ncf, read back, and diffed per cell at the C default 0.01%
    // tolerance. orig=0 cells are never flagged (diffioapi.c:264).
    Q("q52_diffioapi", (s, dir) => {
      import graft.sources.Ioapi
      val cells = graft.sources.Sources.regularGrid(s, grid)
        .select(col("col"), col("row"))
      val base = cells
        .crossJoin(s.range(2).toDF("tstep"))
        .withColumn("var", lit("D1"))
        .withColumn("layer", lit(1))
        .withColumn("value",
          expr("CAST((tstep * 17 + (row - 1) * 8 + col) % 30 AS DOUBLE)"))
        .select("var", "tstep", "layer", "row", "col", "value")
      val perturbed = base.withColumn("value",
        when(pmod(col("row") + col("col") + col("tstep"), lit(5)) === 0,
          col("value") * 1.5).otherwise(col("value")))
      val pOrig = scratch(s, "diff_orig", dir) + ".ncf"
      val pNew = scratch(s, "diff_new", dir) + ".ncf"
      val hdr = Ioapi.headerFor(grid, Seq(Ioapi.VarDef("D1")), GridDesc.CoordSys.Default)
      Ioapi.write(base, hdr, pOrig)
      Ioapi.write(perturbed, hdr, pNew)
      val (hA, dfA) = Ioapi.read(s, pOrig)
      val (hB, dfB) = Ioapi.read(s, pNew)
      require(Ioapi.headerDiff(hA, hB, 2, 2).isEmpty, "headers must match")
      Ioapi.diffCells(dfA, dfB, tolerance = 0.01)
    },
      s"""WITH cl AS (${TpchGeo.cellsSql}),
         |base AS (SELECT 'D1' AS var, CAST(tstep AS INT) AS tstep,
         |    1 AS layer, "row", col,
         |    CAST((tstep * 17 + (("row" - 1) * 8 + col)) % 30 AS DOUBLE) AS orig_val
         |  FROM cl CROSS JOIN range(2) t(tstep)),
         |d AS (SELECT var, tstep, layer, "row", col, orig_val,
         |    CASE WHEN ("row" + col + tstep) % 5 = 0 THEN orig_val * 1.5
         |         ELSE orig_val END AS new_val
         |  FROM base)
         |SELECT var, tstep, layer, "row", col, orig_val, new_val,
         |  100.0 * (new_val - orig_val) / orig_val AS pctdiff
         |FROM d
         |WHERE orig_val <> 0 AND abs(100.0 * (new_val - orig_val) / orig_val) > 0.01
         |ORDER BY var, tstep, layer, "row", col""".stripMargin),

    // --- srg2ncf (util/srg2ncf/convert_txt2ncf.f): the q03 point surrogate
    // becomes a one-variable FRACTION gridded file (M3DBLE so the dyadic-
    // free ratios stay bit-exact through the file), read back sparse.
    // Cells nest inside counties on this lattice, so each cell carries
    // exactly one county's frac — the accumulation is trivially exact.
    Q("q53_srg2ncf", (s, dir) => {
      import graft.sources.Ioapi
      val srg = Surrogate.pointSurrogate(TpchGeo.points(s, dir),
        TpchGeo.counties(s), grid, domain, zres, srgCode = 100)
      val path = scratch(s, "srg2ncf", dir) + ".ncf"
      Ioapi.srg2ncf(srg, grid, path, GridDesc.CoordSys.Default,
        vtype = graft.sources.NetCDF.NC_DOUBLE)
      val (_, back) = Ioapi.read(s, path, dropZeros = true)
      back.select("col", "row", "value").orderBy("row", "col")
    },
      s"""SELECT col, "row", sum(frac) AS value
         |FROM ($srgPointStmt)
         |GROUP BY 1, 2 ORDER BY "row", col""".stripMargin),

    // --- ellipsoidal projection families (GRS80), quantized to integer
    // meters like q41: AEA (the NAD83 CONUS workhorse), LAEA, oblique and
    // polar stereographic, Mercator-2SP — each against a DuckDB oracle
    // that recomputes the full Snyder ellipsoidal series (q/t/m/χ kernels)
    // from first principles.
    Q("q54_proj_ellipsoidal", (s, dir) => {
      import graft.grid.{Ellipsoid, Ellipsoidal, Proj}
      val g = Ellipsoid.GRS80
      val fams: Seq[(String, Proj)] = Seq(
        "aea_e" -> Ellipsoidal.AeaE(29.5, 45.5, 23, -96, g),
        "laea_e" -> Ellipsoidal.LaeaE(45, -100, g),
        "merc_e" -> Ellipsoidal.MercE.atTs(30, -90, g),
        "polar_e" -> Ellipsoidal.PolarStereE(60, -100, g),
        "sinu_e" -> Ellipsoidal.SinuE(-100, g),
        "stere_e" -> Ellipsoidal.StereE(40, -97, g))
      val pts = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") <= 30)
        .select(col("c_custkey").as("k"),
          (lit(-120.0) + expr("(c_custkey * 7919) % 6000") / lit(100.0)).as("lon"),
          (lit(25.0) + expr("(c_custkey * 104729) % 2400") / lit(100.0)).as("lat"))
      fams.map { case (fam, p) =>
        val fwd = udf((lon: Double, lat: Double) => {
          val (x, y) = p.forward(lon, lat)
          Array(math.round(x), math.round(y))
        })
        pts.withColumn("__xy", fwd(col("lon"), col("lat")))
          .select(col("k"), lit(fam).as("family"),
            element_at(col("__xy"), 1).as("x_m"),
            element_at(col("__xy"), 2).as("y_m"))
      }.reduce(_ unionByName _).orderBy("family", "k")
    },
      projEllOracleSql),

    // --- OCEANfile AreaPercent through the BINARY envelope (allocateIoapi
    // ALL_AREAPERCENT mode, SA_ch03_vector.md:887: "the only output format
    // currently supported for this new mode is IoapiFile"): q31's per-cell
    // category fractions become one M3DBLE variable per category, written
    // as a real .ncf and read back sparse — the oracle is q31's own SQL,
    // proving the format round trip is lossless on the fractions.
    Q("q68_oceanfile", (s, dir) => {
      import graft.sources.{Ioapi, NetCDF}
      val pct = Allocate.areaPercent(
        TpchGeo.tracts(s, dir).withColumn("category",
          substring(col("p_partkey").cast("string"), -1, 1)),
        "category", grid)
      val cats = pct.select("category").distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      val long = pct
        .withColumn("var", concat(lit("CAT_"), col("category")))
        .withColumn("tstep", lit(0)).withColumn("layer", lit(1))
        .select(col("var"), col("tstep"), col("layer"), col("row"),
          col("col"), col("pct").as("value"))
      val path = scratch(s, "ocean", dir) + ".ncf"
      Ioapi.write(long, Ioapi.headerFor(grid,
        cats.map(c => Ioapi.VarDef(s"CAT_$c", "fraction",
          vtype = NetCDF.NC_DOUBLE)), GridDesc.CoordSys.Default), path, numRecs = 1)
      val (_, back) = Ioapi.read(s, path, dropZeros = true)
      back.select(col("col"), col("row"),
          substring(col("var"), 5, 1).as("category"),
          col("value").as("pct"))
        .orderBy("row", "col", "category")
    },
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
         |ORDER BY "row", col, category""".stripMargin),

    // --- OUTPUT_FILE_TYPE=Polygon surrogate (surrogate.c:455-470): county
    // tract-area fractions onto four 3000-size OUTPUT POLYGONS that align
    // with nothing (offset 1000) — a genuine second polygon clip of the
    // W∩D fragments, qasum ordered by output-polygon id. Integer lattice
    // → bit-exact vs the closed-form triple-rect-intersection oracle.
    Q("q72_srg_poly_out", (s, dir) => {
      import s.implicits._
      val outPolys = (for { qy <- 0 to 1; qx <- 0 to 1 } yield {
        val x0 = 1000.0 + qx * 3000; val y0 = 1000.0 + qy * 3000
        (1 + qx + qy * 2,
          Seq(Seq(x0, y0, x0 + 3000, y0, x0 + 3000, y0 + 3000, x0, y0 + 3000)))
      }).toDF("out_id", "geom")
      Surrogate.create(WeightKind.PolyW, TpchGeo.tracts(s, dir),
        TpchGeo.counties(s), Surrogate.Polys(outPolys), domain, zres,
        srgCode = 170)
    },
      s"""WITH tr AS (${TpchGeo.tractsSql}),
         |cn AS (${TpchGeo.countiesSql}),
         |op AS (SELECT 1 + qx + qy * 2 AS out_id,
         |         CAST(1000 + qx * 3000 AS DOUBLE) AS ox0,
         |         CAST(1000 + qy * 3000 AS DOUBLE) AS oy0
         |       FROM range(2) a(qx) CROSS JOIN range(2) b(qy)),
         |fr AS (
         |  SELECT fips, tx0, ty0, cx0, cy0,
         |    greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
         |    greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) AS fa
         |  FROM tr CROSS JOIN cn
         |  WHERE greatest(0, least(tx0+512, cx0+2000) - greatest(tx0, cx0)) *
         |        greatest(0, least(ty0+512, cy0+2000) - greatest(ty0, cy0)) > 0),
         |den AS (SELECT fips, sum(fa) AS denom FROM fr GROUP BY 1),
         |pf AS (
         |  SELECT fips, out_id,
         |    greatest(0, least(tx0+512, cx0+2000, ox0+3000) - greatest(tx0, cx0, ox0)) *
         |    greatest(0, least(ty0+512, cy0+2000, oy0+3000) - greatest(ty0, cy0, oy0)) AS pa
         |  FROM fr CROSS JOIN op),
         |num AS (SELECT fips, out_id, sum(pa) AS numer
         |        FROM pf WHERE pa > 0 GROUP BY 1, 2)
         |SELECT CAST(170 AS INT) AS srg_code, fips, out_id,
         |  numer/denom AS frac, numer, denom,
         |  sum(numer/denom) OVER (PARTITION BY fips
         |    ORDER BY CAST(out_id AS VARCHAR)) AS qasum
         |FROM num JOIN den USING (fips)
         |WHERE denom >= 0.00001 AND numer <> 0
         |ORDER BY fips, out_id""".stripMargin),

    // --- OUTPUT_FILE_TYPE=EGrid surrogate (surrogate.c:389-432 derives
    // COL/ROW from the diamond id): page-count fractions onto the q43
    // staggered diamonds. Counts are integers and the denominators county
    // point totals, so the closed diamond-inequality oracle hash-matches
    // bit-exactly. Edge points (|dx|+|dy| = 500 exactly) count into BOTH
    // adjacent diamonds in engine and oracle alike.
    Q("q73_srg_egrid", (s, dir) => {
      val eg = graft.grid.GridSpec("EG", 0, 0, 1000, 1000, 9, 17)
      Surrogate.create(WeightKind.PointW, TpchGeo.points(s, dir),
        TpchGeo.counties(s), Surrogate.EGrid(eg), domain, zres, srgCode = 180)
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips, x, y
         |           FROM pts),
         |dm AS (SELECT CAST(id % 9 + 1 AS INT) AS col,
         |  CAST(floor(id / 9.0) + 1 AS INT) AS "row",
         |  CAST((id % 9) * 1000 +
         |    (CASE WHEN (CAST(floor(id / 9.0) AS INT) + 1) % 2 = 0
         |          THEN 500 ELSE 0 END) AS DOUBLE) AS cx,
         |  CAST(CAST(floor(id / 9.0) AS INT) * 500 AS DOUBLE) AS cy
         |FROM range(153) t(id)),
         |den AS (SELECT fips, CAST(count(*) AS DOUBLE) AS denom
         |        FROM tagged GROUP BY 1),
         |num AS (SELECT fips, col, "row", CAST(count(*) AS DOUBLE) AS numer
         |        FROM tagged JOIN dm ON abs(x - cx) + abs(y - cy) <= 500
         |        GROUP BY 1, 2, 3)
         |${srgSelect(180)}""".stripMargin),

    // --- OUTPUT_FILE_TYPE=VariableGrid surrogate (variableGridReader.c:
    // 216-470): a WRF grid-dot CURVILINEAR grid — here a SHEARED lattice
    // (XDOT = c·1000 + r·20, YDOT = r·1000, READ_XYDOT mode) so every
    // cell is a genuine parallelogram, no rectilinear shortcut. Points
    // sitting exactly on the sheared column boundaries ((50x − y) ≡ 0
    // mod 50000) are filtered IDENTICALLY on both sides; the oracle
    // inverts the affine lattice in closed form. Integer counts →
    // bit-exact.
    Q("q74_srg_vargrid_dots", (s, dir) => {
      val ys = for (r <- 0 until 9; _ <- 0 until 9) yield r * 1000.0
      val xs = for (r <- 0 until 9; c <- 0 until 9) yield c * 1000.0 + r * 20.0
      val dotText = "NCOLS = 9\nNROWS = 9\nYDOT =\n" + ys.mkString(",") +
        "\nXDOT =\n" + xs.mkString(",") + "\n"
      val (_, cells) = graft.sources.Sources.variableDotGrid(s, dotText,
        (a, b) => (a, b), readXY = true)
      val pts = TpchGeo.points(s, dir)
        .where(expr("(50 * x - y) % 50000 != 0"))
      Surrogate.create(WeightKind.PointW, pts, TpchGeo.counties(s),
        Surrogate.CellPolys(cells), domain, zres, srgCode = 190)
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |p2 AS (SELECT x, y FROM pts WHERE (50 * x - y) % 50000 <> 0),
         |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips, x, y
         |           FROM p2),
         |cellv AS (SELECT fips,
         |    CAST(floor((50 * x - y) / 50000) + 1 AS INT) AS col,
         |    CAST(floor(y / 1000) + 1 AS INT) AS "row"
         |  FROM tagged),
         |den AS (SELECT fips, CAST(count(*) AS DOUBLE) AS denom
         |        FROM tagged GROUP BY 1),
         |num AS (SELECT fips, col, "row", CAST(count(*) AS DOUBLE) AS numer
         |        FROM cellv
         |        WHERE col BETWEEN 1 AND 8 AND "row" BETWEEN 1 AND 8
         |        GROUP BY 1, 2, 3)
         |${srgSelect(190)}""".stripMargin),

    // WKT source round-trip into the flagship surrogate: the tract
    // geometry is RENDERED to WKT text and PARSED back before the q04
    // pipeline runs — the oracle is the q04 area oracle at code 150, so
    // a single coordinate smeared by the text codec fails 2,000+ rows
    Q("q102_wkt_srg", (s, dir) => {
      import graft.fixtures.TpchGeo
      import graft.sources.Wkt
      val viaWkt = TpchGeo.tracts(s, dir)
        .select(col("p_partkey"), col("p_size"),
          Wkt.toWktCol(col("geom")).as("wkt"))
        .select(col("p_partkey"), col("p_size"),
          Wkt.polygonCol(col("wkt")).as("geom"))
      graft.operators.Surrogate.polySurrogate(viaWkt, TpchGeo.counties(s),
        TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, srgCode = 150,
        weight = Some("p_size"))
    },
      // the q04 area-surrogate oracle verbatim at the WKT query's code —
      // the text codec must be invisible in the output
      srgAreaStmtFor(150, "p_size")),

    // the flagship surrogate WEIGHTED by a page-quality signal (text
    // length as the stand-in score): srgcreate's weight-attribute path
    // (sumpoly.c weight mode) over web pages — numerators/denominators
    // become exact integer-valued double sums, still bit-exact vs SQL
    Q("q124_srg_quality", (s, dir) =>
      Surrogate.pointSurrogate(
        Pages.geotag(Pages.pages(s, dir))
          .withColumn("wq", length(col("text")).cast("double")),
        TpchGeo.counties(s), grid, domain, zres, srgCode = 310,
        weight = Some("wq")),
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |tagged AS (SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  CAST(floor(x/1000.0) AS INT)+1 AS col,
         |  CAST(floor(y/1000.0) AS INT)+1 AS "row", len(text) AS wq FROM pg),
         |num AS (SELECT fips, col, "row", CAST(sum(wq) AS DOUBLE) AS numer
         |        FROM tagged GROUP BY 1, 2, 3),
         |den AS (SELECT fips, CAST(sum(wq) AS DOUBLE) AS denom
         |        FROM tagged GROUP BY 1)
         |${srgSelect(310)}""".stripMargin),

    // partitioning-invariance certificate: the SAME point surrogate over
    // the points hash-repartitioned 8 ways must be row-identical to the
    // surrogate over the points as read — the in-query require proves the
    // result does not depend on how the input is partitioned, the oracle
    // re-certifies the repartitioned output end to end
    Q("q187_salted_srg_parity", (s, dir) => {
      import graft.operators.Surrogate
      // both parity sides persisted: each feeds two exceptAll branches
      // (and `shuffled` is also the output) — without this the two
      // surrogate pipelines execute ~5x per run
      val shuffled = Surrogate.pointSurrogate(
          TpchGeo.points(s, dir).repartition(8, xxhash64(col("x"), col("y"))),
          TpchGeo.counties(s), grid, domain, zres, srgCode = 100)
        .transform(graft.spark.PersistTracker.persist)
      val asRead = Surrogate.pointSurrogate(TpchGeo.points(s, dir),
          TpchGeo.counties(s), grid, domain, zres, srgCode = 100)
        .transform(graft.spark.PersistTracker.persist)
      require(shuffled.exceptAll(asRead).isEmpty &&
          asRead.exceptAll(shuffled).isEmpty,
        "repartitioning the points changed the surrogate output — the " +
          "surrogate must not depend on the input's partitioning")
      shuffled.orderBy("fips", "row", "col")
    },
      // identical math to the q03 oracle — the salted plan must land on
      // the same rows
      srgPointStmt),

    // corridor join: grid cells whose center lies within 700 units of a
    // road segment — r-expanded bbox cell-cover per segment, exact
    // integer squared-distance filter; the oracle is the naive
    // segments × cells cross join, feasible only at oracle scale
    Q("q191_corridor_cells", (s, dir) => {
      import graft.operators.Corridor
      val segs = TpchGeo.roads(s, dir).select(
        col("s_suppkey").as("id"),
        element_at(col("line"), 1).as("x1"),
        element_at(col("line"), 2).as("y"),
        element_at(col("line"), 3).as("x2"))
      Corridor.cellsNear(segs, grid, r = 700.0).orderBy("col", "row")
    },
      s"""WITH rd AS (${TpchGeo.roadsSql}),
         |cl AS (${TpchGeo.cellsSql}),
         |d AS (SELECT col, "row",
         |        greatest(0, x1 - (gx0 + 500), (gx0 + 500) - x2) AS dx,
         |        abs((gy0 + 500) - y) AS dy
         |      FROM rd CROSS JOIN cl)
         |SELECT col, "row", count(*) AS n_segs,
         |  CAST(min(dx*dx + dy*dy) AS BIGINT) AS min_d2
         |FROM d WHERE dx*dx + dy*dy <= 490000
         |GROUP BY 1, 2 ORDER BY col, "row"""".stripMargin),

    // NOT-EXISTS overlay: the points OUTSIDE every mask polygon (q08's
    // complement) through the broadcast cell-cover anti-join — no exact
    // test ever runs for points whose cell holds no mask candidate
    Q("q192_overlay_anti", (s, dir) => {
      import s.implicits._
      import graft.operators.SpatialJoin
      val mask = Seq(
        Seq(Seq(500.0, 500, 2500, 500, 2500, 2500, 500, 2500)),
        Seq(Seq(5000.0, 1000, 7000, 1000, 7000, 3000, 5000, 3000))
      ).toDF("geom")
      SpatialJoin.overlayPointsAnti(TpchGeo.points(s, dir), mask,
          domain, zres)
        .orderBy("o_orderkey")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql})
         |SELECT o_orderkey, x, y FROM pts
         |WHERE NOT ((x > 500 AND x < 2500 AND y > 500 AND y < 2500)
         |        OR (x > 5000 AND x < 7000 AND y > 1000 AND y < 3000))
         |ORDER BY o_orderkey""".stripMargin),

    // shared-edge county adjacency: rook neighbors out of the coverage
    // geometry alone (corner contact must NOT pair); the oracle knows
    // the 4×4 layout closed-form, the engine only sees rings
    Q("q193_county_adjacency", (s, dir) => {
      import graft.operators.Topology
      Topology.edgeAdjacency(TpchGeo.counties(s), "fips", "geom")
        .select(col("id_a").as("fips_a"), col("id_b").as("fips_b"),
          col("n_edges"))
        .orderBy("fips_a", "fips_b")
    },
      """WITH cn AS (SELECT i FROM range(16) t(i))
        |SELECT '47' || lpad(CAST(a.i + 1 AS VARCHAR), 3, '0') AS fips_a,
        |  '47' || lpad(CAST(b.i + 1 AS VARCHAR), 3, '0') AS fips_b,
        |  CAST(1 AS BIGINT) AS n_edges
        |FROM cn a JOIN cn b ON a.i < b.i AND
        |  ((abs(a.i % 4 - b.i % 4) = 1 AND a.i // 4 = b.i // 4) OR
        |   (a.i % 4 = b.i % 4 AND abs(a.i // 4 - b.i // 4) = 1))
        |ORDER BY fips_a, fips_b""".stripMargin),

    // end-to-end content pipeline: REAL html bytes → codegen text
    // extraction → gazetteer majority-vote geotag on the EXTRACTED text
    // → cell centers through the real point-in-polygon join → per-county
    // doc count + language spread. The oracle starts from the raw text
    // column — the byte-identity of extraction (q77's invariant) is what
    // lets the two paths agree.
    Q("q199_geotag_pipeline", (s, dir) => {
      import graft.text.{Html, Bpe}
      import graft.operators.SpatialJoin
      val pages = Pages.pages(s, dir)
      // persisted: the gazetteer build (wordDict) and the token explode
      // both consume the html-extraction output — without this the
      // extraction expressions run twice over every page
      val extracted = pages.select(
          Pages.urlId(col("url")).as("doc_id"),
          col("lang"), Html.extractText(col("html")).as("text"))
        .transform(graft.spark.PersistTracker.persist)
      val gaz = Bpe.wordDict(extracted, "text")
        .where(col("freq") >= 20)
        .select(col("w"),
          expr(s"CAST(${hv("w")} % 8 + 1 AS INT)").as("gcol"),
          expr(s"CAST((${hv("w")} div 8) % 8 + 1 AS INT)").as("grow"))
      val tagged = extracted
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .join(broadcast(gaz), "w")
        .groupBy("doc_id", "lang", "gcol", "grow").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("c")).as("nc"), col("gcol"), col("grow")))
          .as("m"))
        .select(col("doc_id"), col("lang"),
          ((col("m.gcol") - 0.5) * 1000.0).as("x"),
          ((col("m.grow") - 0.5) * 1000.0).as("y"))
      SpatialJoin.pointInPoly(tagged, TpchGeo.counties(s), domain, zres)
        .groupBy("fips")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"))
        .orderBy("fips")
    },
      s"""WITH wd AS (SELECT w, count(*) AS freq FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]{2,20}$$') GROUP BY 1),
         |gaz AS (SELECT w, CAST(${hv("w")} % 8 + 1 AS INT) AS gcol,
         |          CAST((${hv("w")} // 8) % 8 + 1 AS INT) AS grow
         |        FROM wd WHERE freq >= 20),
         |tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents),
         |h AS (SELECT doc_id, lang, gcol, grow, count(*) AS c
         |      FROM tok JOIN gaz USING (w) GROUP BY 1, 2, 3, 4),
         |r AS (SELECT doc_id, lang, gcol, grow,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY c DESC, gcol, grow) AS rn FROM h),
         |pt AS (SELECT doc_id, lang, (gcol - 0.5) * 1000.0 AS x,
         |         (grow - 0.5) * 1000.0 AS y FROM r WHERE rn = 1)
         |SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  count(*) AS n_docs, count(DISTINCT lang) AS n_langs
         |FROM pt GROUP BY 1 ORDER BY fips""".stripMargin),

    // MIXED-SIZE polygon layer (a domain-wide "state", 2 tiny "cities",
    // the 16 counties) through the ADAPTIVE cover join: the state emits
    // a few COARSE cells instead of 256 fine ones (bounded explode), the
    // cities emit fine cells, points probe their ancestor chain — one
    // equi-join either way. City bounds sit on .5 offsets so no integer
    // point lies on a boundary (vertex/edge semantics stay out of play).
    Q("q200_adaptive_pip", (s, dir) => {
      import s.implicits._
      import graft.operators.SpatialJoin
      val mixed = TpchGeo.counties(s)
        .select(col("fips").as("pid"), col("geom"))
        .unionByName(Seq(
          ("STATE", Seq(Seq(0.0, 0, 8000, 0, 8000, 8000, 0, 8000))),
          ("CITY1", Seq(Seq(1200.5, 1200.5, 1399.5, 1200.5,
            1399.5, 1399.5, 1200.5, 1399.5))),
          ("CITY2", Seq(Seq(6100.5, 5100.5, 6220.5, 5100.5,
            6220.5, 5220.5, 6100.5, 5220.5)))
        ).toDF("pid", "geom"))
      SpatialJoin.pointInPolyAdaptive(TpchGeo.points(s, dir), mixed,
          domain, maxRes = zres)
        .groupBy("pid").agg(count(lit(1)).as("n_points"))
        .orderBy("pid")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |cn AS (${TpchGeo.countiesSql}),
         |m AS (
         |  SELECT 'STATE' AS pid, 0.0 AS x0, 0.0 AS y0,
         |         8000.0 AS x1, 8000.0 AS y1
         |  UNION ALL SELECT 'CITY1', 1200.5, 1200.5, 1399.5, 1399.5
         |  UNION ALL SELECT 'CITY2', 6100.5, 5100.5, 6220.5, 5220.5
         |  UNION ALL SELECT fips, cx0, cy0, cx0 + 2000, cy0 + 2000 FROM cn)
         |SELECT pid, count(*) AS n_points
         |FROM pts JOIN m ON x > x0 AND x < x1 AND y > y0 AND y < y1
         |GROUP BY pid ORDER BY pid""".stripMargin),

    // map matching: every 23rd page point snapped to its nearest road
    // segment within 400 units (ties → smaller segment id) via the
    // bucketed candidate join — never points × segments; unmatched
    // points emit nothing
    Q("q203_point_snap", (s, dir) => {
      import graft.operators.Corridor
      val pts = TpchGeo.points(s, dir)
        .where(col("o_orderkey") % 23 === 0)
        .select(col("o_orderkey").as("pid"), col("x"), col("y"))
      val segs = TpchGeo.roads(s, dir).select(
        col("s_suppkey").as("id"),
        element_at(col("line"), 1).as("x1"),
        element_at(col("line"), 3).as("x2"),
        element_at(col("line"), 2).as("sy"))
      Corridor.snapPoints(pts, segs, bucket = 1000.0, r = 400.0)
        .orderBy("pid")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |p AS (SELECT o_orderkey AS pid, x, y FROM pts
         |      WHERE o_orderkey % 23 = 0),
         |rd AS (${TpchGeo.roadsSql}),
         |d AS (SELECT p.pid, rd.s_suppkey AS id,
         |        greatest(0, rd.x1 - p.x, p.x - rd.x2) AS dx,
         |        abs(p.y - rd.y) AS dy
         |      FROM p CROSS JOIN rd),
         |f AS (SELECT pid, id, dx*dx + dy*dy AS d2 FROM d
         |      WHERE dx*dx + dy*dy <= 160000),
         |r AS (SELECT pid, id, d2,
         |    row_number() OVER (PARTITION BY pid ORDER BY d2, id) AS rn
         |  FROM f)
         |SELECT pid, id AS seg_id, CAST(d2 AS BIGINT) AS d2
         |FROM r WHERE rn = 1 ORDER BY pid""".stripMargin),

    // spatiotemporal join: events × incident zones through ONE composite
    // (cell-x, cell-y, day-bucket) equi-join — the 3-D cell-cover trick
    // (zones explode their rect's cells × their window's days; events
    // compute theirs closed-form), exact rect+window test in the join —
    // never events × zones
    Q("q209_spacetime_join", (s, dir) => {
      import s.implicits._
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          (expr("(event_id * 48271) % 8000").cast("double") + 0.5).as("x"),
          (expr("(event_id * 16807) % 8000").cast("double") + 0.5).as("y"),
          unix_timestamp(col("ts").cast("timestamp")).as("es"))
        .withColumn("cx", floor(col("x") / 1000.0).cast("long"))
        .withColumn("cy", floor(col("y") / 1000.0).cast("long"))
        .withColumn("db", expr("es div 86400"))
      val zones = Zones.toDF("zid", "x0", "x1", "y0", "y1", "t0", "t1")
        .withColumn("cx", explode(sequence(expr("x0 div 1000"),
          expr("x1 div 1000"))))
        .withColumn("cy", explode(sequence(expr("y0 div 1000"),
          expr("y1 div 1000"))))
        .withColumn("db", explode(sequence(expr("t0 div 86400"),
          expr("(t1 - 1) div 86400"))))
      ev.join(broadcast(zones), Seq("cx", "cy", "db"))
        .where(col("x") > col("x0") && col("x") < col("x1") &&
          col("y") > col("y0") && col("y") < col("y1") &&
          col("es") >= col("t0") && col("es") < col("t1"))
        .groupBy("zid")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
        .orderBy("zid")
    },
      {
      val zs = Zones.map { case (z, x0, x1, y0, y1, t0, t1) =>
        s"SELECT '$z' AS zid, $x0 AS x0, $x1 AS x1, $y0 AS y0, $y1 AS y1, $t0 AS t0, $t1 AS t1"
      }.mkString("\nUNION ALL ")
      s"""WITH ev AS (SELECT event_id, user_id,
         |    (event_id * 48271) % 8000 + 0.5 AS x,
         |    (event_id * 16807) % 8000 + 0.5 AS y,
         |    epoch_us(ts) // 1000000 AS es FROM events),
         |z AS ($zs)
         |SELECT zid, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users
         |FROM ev JOIN z ON x > x0 AND x < x1 AND y > y0 AND y < y1
         |  AND es >= t0 AND es < t1
         |GROUP BY zid ORDER BY zid""".stripMargin
    }),

    Q("q247_stay_points", (s, dir) =>
      graft.operators.Trajectory.stayPoints(traj(s, dir), "user_id",
        "x", "y", "tus", distSqMax = 40000L,
        gapMax = 345600000000L, minDur = 86400000000L),
      s"""WITH d AS ($trajSql),
         |l AS (SELECT *, lag(x) OVER w AS px, lag(y) OVER w AS py,
         |        lag(tus) OVER w AS pt
         |      FROM d
         |      WINDOW w AS (PARTITION BY user_id ORDER BY tus, x, y)),
         |f AS (SELECT *, CASE WHEN pt IS NULL
         |        OR (x - px) * (x - px) + (y - py) * (y - py) > 40000
         |        OR tus - pt > 345600000000 THEN 1 ELSE 0 END AS nw
         |      FROM l),
         |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
         |        ORDER BY tus, x, y
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |      FROM f)
         |SELECT user_id, CAST(min(tus) AS BIGINT) AS start_t,
         |  CAST(max(tus) AS BIGINT) AS end_t,
         |  CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(x) // count(*) AS BIGINT) AS cx_mean,
         |  CAST(sum(y) // count(*) AS BIGINT) AS cy_mean
         |FROM s GROUP BY user_id, sid
         |HAVING max(tus) - min(tus) >= 86400000000 AND count(*) >= 2""".stripMargin),

    // user-subset gate (%7) bounds the DEMO pair count; the operator's
    // own scale control is the co-location candidate join
    Q("q248_traj_hausdorff", (s, dir) => {
      val cells = traj(s, dir).where(expr("user_id % 7 = 0"))
        .select(col("user_id").as("uid"), expr("x div 500").as("cx"),
          expr("y div 500").as("cy"))
      graft.operators.Trajectory.hausdorffCells(cells)
    },
      s"""WITH d AS ($trajSql),
         |cl AS (SELECT DISTINCT user_id AS uid, x // 500 AS cx,
         |         y // 500 AS cy FROM d WHERE user_id % 7 = 0),
         |pairs AS (SELECT DISTINCT a.uid AS ua, b.uid AS ub
         |          FROM cl a JOIN cl b
         |            ON a.cx = b.cx AND a.cy = b.cy AND a.uid < b.uid),
         |prod AS (SELECT p.ua, p.ub, a.cx AS ax, a.cy AS ay,
         |           b.cx AS bx, b.cy AS bcy,
         |           greatest(abs(a.cx - b.cx), abs(a.cy - b.cy)) AS dd
         |         FROM pairs p JOIN cl a ON a.uid = p.ua
         |                      JOIN cl b ON b.uid = p.ub),
         |hab AS (SELECT ua, ub, max(m) AS h FROM
         |          (SELECT ua, ub, ax, ay, min(dd) AS m FROM prod
         |           GROUP BY 1, 2, 3, 4) GROUP BY 1, 2),
         |hba AS (SELECT ua, ub, max(m) AS h FROM
         |          (SELECT ua, ub, bx, bcy, min(dd) AS m FROM prod
         |           GROUP BY 1, 2, 3, 4) GROUP BY 1, 2)
         |SELECT hab.ua, hab.ub,
         |  CAST(greatest(hab.h, hba.h) AS BIGINT) AS h_cheb
         |FROM hab JOIN hba ON hab.ua = hba.ua AND hab.ub = hba.ub""".stripMargin),

    // the SQL surface: the SAME codegen'd Catalyst kernels the DataFrame
    // API plans (CellEncodeExpr, PointInPolygonStatus) invoked through
    // the session function registry from a plain spark.sql string — the
    // notebook/thrift path a reference user would migrate their
    // srgcreate argv scripts to; oracle re-derives the morton bits and
    // the diamond point-in-polygon test in closed form
    Q("q249_sql_surface", (s, dir) => {
      graft.spark.SqlFunctions.register(s)
      Pages.geotag(Pages.pages(s, dir))
        .createOrReplaceTempView("q249_geo_pages")
      s.sql("""
        SELECT graft_cell_encode(x, y, 0.0D, 0.0D, 8000.0D, 8000.0D, 4)
                 AS cell,
               graft_pip_status(x, y, array(array(
                 2000.0D, 4000.0D, 4000.0D, 2000.0D,
                 6000.0D, 4000.0D, 4000.0D, 6000.0D))) AS pip,
               count(*) AS n
        FROM q249_geo_pages GROUP BY 1, 2""")
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |c AS (SELECT CAST(floor(x / 500) AS BIGINT) AS ix,
         |        CAST(floor(y / 500) AS BIGINT) AS iy,
         |        CASE WHEN abs(x - 4000) + abs(y - 4000) <= 2000
         |             THEN 1 ELSE 0 END AS pip
         |      FROM pg),
         |m AS (SELECT
         |    ((ix & 1) | ((ix & 2) << 1) | ((ix & 4) << 2)
         |      | ((ix & 8) << 3)) AS mx,
         |    ((iy & 1) | ((iy & 2) << 1) | ((iy & 4) << 2)
         |      | ((iy & 8) << 3)) AS my,
         |    pip FROM c)
         |SELECT CAST((CAST(4 AS BIGINT) << 58) | mx | (my << 1) AS BIGINT)
         |    AS cell,
         |  CAST(pip AS INT) AS pip, CAST(count(*) AS BIGINT) AS n
         |FROM m GROUP BY 1, 2""".stripMargin),

    // the q03 semantics authored as SQL: a user migrating srgcreate
    // scripts writes THIS — explode(graft_cover_cells(geom)) builds the
    // equi-join prefilter, graft_cell_encode keys the point side,
    // graft_pip_status(…) = 1 is the exact verify; Catalyst plans the
    // same hash join + codegen kernels as the DataFrame path
    Q("q252_sql_spatial_join", (s, dir) => {
      graft.spark.SqlFunctions.register(s)
      TpchGeo.points(s, dir).createOrReplaceTempView("q252_pts")
      TpchGeo.counties(s).createOrReplaceTempView("q252_cty")
      s.sql("""
        SELECT c.fips, count(*) AS n_points
        FROM q252_pts p
        JOIN (SELECT fips, geom, explode(graft_cover_cells(
                geom, 0.0D, 0.0D, 8192.0D, 8192.0D, 4)) AS cell
              FROM q252_cty) c
          ON graft_cell_encode(p.x, p.y, 0.0D, 0.0D, 8192.0D, 8192.0D, 4)
               = c.cell
         AND graft_pip_status(p.x, p.y, c.geom) = 1
        GROUP BY c.fips""")
    },
      s"""WITH pts AS (${TpchGeo.pointsSql})
         |SELECT ${TpchGeo.fipsOfSql("x", "y")} AS fips,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM pts GROUP BY 1""".stripMargin),

    // lon-lat shard keys: geotag coords mapped onto exact dyadic lon/lat
    // (360/2^13 and 180/2^13 per lattice unit — no float ambiguity), then
    // the codegen geohash at precision 5; the oracle re-derives all 25
    // bits with integer morton arithmetic and the base-32 alphabet
    Q("q253_geohash_keys", (s, dir) => {
      val geo = Pages.geotag(Pages.pages(s, dir))
        .withColumn("lon", (col("x") - 4000d) * lit(0.0439453125))
        .withColumn("lat", (col("y") - 4000d) * lit(0.02197265625))
      geo.select(
          graft.spark.GeoFunctions.geohash(col("lon"), col("lat"), 5)
            .as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("n_pages"))
    },
      s"""WITH pg AS (${Pages.geotaggedSql}),
         |i AS (SELECT CAST(floor(x) AS BIGINT) + 96 AS ix,
         |        (CAST(floor(y) AS BIGINT) + 96) // 2 AS iy
         |      FROM pg),
         |m AS (SELECT (${morton("ix", 13)}) AS mx,
         |             (${morton("iy", 12)}) AS my
         |      FROM i),
         |v AS (SELECT mx | (my << 1) AS v FROM m),
         |g AS (SELECT
         |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST(((v >> 20) & 31) + 1 AS INT), 1) ||
         |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST(((v >> 15) & 31) + 1 AS INT), 1) ||
         |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST(((v >> 10) & 31) + 1 AS INT), 1) ||
         |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST(((v >> 5) & 31) + 1 AS INT), 1) ||
         |    substr('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST((v & 31) + 1 AS INT), 1) AS gh
         |  FROM v)
         |SELECT gh, CAST(count(*) AS BIGINT) AS n_pages
         |FROM g GROUP BY gh""".stripMargin),

    // STR bulk-load layout: orders-derived points into 8 x 8 leaves via
    // exact integer rank arithmetic; emits per-leaf counts and bboxes —
    // the leaf extents a file-skipping scan would prune against. Both
    // rank phases are distributed (range repartition + offset join),
    // never a single-partition sort
    Q("q262_str_packing", (s, dir) => {
      val pts = TpchGeo.points(s, dir)
      graft.operators.StrPack.pack(pts, "x", "y", "o_orderkey", 8, 8)
        .groupBy("leaf")
        .agg(count(lit(1)).as("n_pts"),
          min(col("x").cast("long")).as("xmin"),
          max(col("x").cast("long")).as("xmax"),
          min(col("y").cast("long")).as("ymin"),
          max(col("y").cast("long")).as("ymax"))
    },
      s"""WITH pts AS (${TpchGeo.pointsSql}),
         |rx AS (SELECT *, row_number() OVER (ORDER BY x, o_orderkey)
         |         AS r, count(*) OVER () AS n
         |       FROM pts),
         |sl AS (SELECT *, ((r - 1) * 8) // n AS slice FROM rx),
         |ry AS (SELECT *, row_number() OVER (PARTITION BY slice
         |         ORDER BY y, o_orderkey) AS r2,
         |         count(*) OVER (PARTITION BY slice) AS m
         |       FROM sl),
         |lf AS (SELECT *, slice * 8 + ((r2 - 1) * 8) // m AS leaf FROM ry)
         |SELECT CAST(leaf AS BIGINT) AS leaf,
         |  CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(min(x) AS BIGINT) AS xmin, CAST(max(x) AS BIGINT) AS xmax,
         |  CAST(min(y) AS BIGINT) AS ymin, CAST(max(y) AS BIGINT) AS ymax
         |FROM lf GROUP BY leaf""".stripMargin)
  )
}
