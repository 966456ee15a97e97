package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.CellDomain
import graft.grid.{GridSpec, GridCatalog}

/** Deterministic geospatial layers derived arithmetically from the driver's
  * TPC-H-ish parquet tables — the SAME closed-form derivations are written
  * as DuckDB SQL in SparkEntry.oracleSql, so engine results are verifiable
  * row-for-row.
  *
  * EXACTNESS DESIGN (this is what makes hash-equality across engines work):
  * all coordinates live on an integer lattice, parent weight-polygon areas
  * and road lengths are powers of two (512² tracts; 512/1024/2048 segments),
  * so every per-fragment contribution val·area/2^18 is an exact dyadic
  * double and every aggregate is order-independent bit-exact. Divisions
  * (frac = numer/denom) happen once, post-aggregation. Points/roads that
  * would land exactly on county/cell boundaries are filtered out up front
  * (boundary semantics: EDGE counts into BOTH adjacent counties, per the
  * reference — a double-count a closed-form SQL oracle can't express).
  *
  * Layout: counties = 4×4 tiling of [0,8000)² (2000² each, fips 47001..016);
  * grid = TEST8 (8×8 × 1000²); tracts = 512² rects at 256-offset (crossing
  * both county and cell boundaries, never coinciding with either); roads =
  * horizontal integer segments.
  */
object TpchGeo {

  val grid: GridSpec = GridCatalog.TEST8
  val domain: CellDomain = CellDomain(0, 0, 8192, 8192)
  val zres = 4 // 16×16 Z-cells of 512 units

  val COUNTY = 2000 // county tile edge
  val TRACT = 512   // tract edge (power of two → exact area ratios)

  // ----------------------------------------------------------- Spark side

  /** 4×4 county polygons; two could extend past the grid in the ScalaTest
    * fixture — here they exactly tile the grid (interior Σfrac = 1). */
  def counties(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for { cy <- 0 until 4; cx <- 0 until 4 } yield {
      val fips = f"47${cy * 4 + cx + 1}%03d"
      val x0 = cx * COUNTY.toDouble; val y0 = cy * COUNTY.toDouble
      (fips, Seq(Seq(x0, y0, x0 + COUNTY, y0, x0 + COUNTY, y0 + COUNTY, x0, y0 + COUNTY)))
    }
    rows.toDF("fips", "geom")
  }

  /** Pages/points proxy: one point per order, coordinates from key hashing.
    * Points on any 500-lattice line (county/cell/mask boundaries) excluded. */
  def points(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"),
        expr("(o_orderkey * 48271) % 8000").as("xi"),
        expr("(o_orderkey * 16807) % 8000").as("yi"))
      .where(expr("xi % 500 != 0 AND yi % 500 != 0"))
      .select(col("o_orderkey"),
        col("xi").cast("double").as("x"), col("yi").cast("double").as("y"))

  /** SQL twin of points() for the DuckDB oracle. */
  val pointsSql: String =
    """SELECT o_orderkey, CAST(xi AS DOUBLE) AS x, CAST(yi AS DOUBLE) AS y
      |FROM (SELECT o_orderkey, (o_orderkey * 48271) % 8000 AS xi,
      |             (o_orderkey * 16807) % 8000 AS yi FROM orders)
      |WHERE xi % 500 <> 0 AND yi % 500 <> 0""".stripMargin

  /** Census-tract-like weight polygons from `part`: 512² rects at 256
    * offset, weight = p_size. */
  def tracts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
      .withColumn("ti", expr("CAST(p_partkey % 256 AS INT)"))
      .withColumn("tx0", expr("CAST((ti % 16) * 512 + 256 AS DOUBLE)"))
      .withColumn("ty0", expr("CAST((ti DIV 16) * 512 + 256 AS DOUBLE)"))
      .select(col("p_partkey"), col("p_size"),
        array(array(col("tx0"), col("ty0"),
                    col("tx0") + TRACT, col("ty0"),
                    col("tx0") + TRACT, col("ty0") + TRACT,
                    col("tx0"), col("ty0") + TRACT)).as("geom"))

  /** SQL twin: tract rect corners per part row. */
  val tractsSql: String =
    """SELECT p_partkey, p_size,
      |  CAST((p_partkey % 256) % 16 * 512 + 256 AS DOUBLE) AS tx0,
      |  CAST(CAST(floor((p_partkey % 256) / 16.0) AS INT) * 512 + 256 AS DOUBLE) AS ty0
      |FROM part""".stripMargin

  /** Road-like horizontal segments from `supplier`: integer y (never on a
    * 1000-lattice line), power-of-two lengths. */
  def roads(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
      .withColumn("yi", expr("(s_suppkey * 9973) % 8000"))
      .where(expr("yi % 1000 != 0"))
      .withColumn("x1", expr("CAST((s_suppkey * 48271) % 7000 AS DOUBLE)"))
      .withColumn("len", expr(
        "CAST(CASE s_suppkey % 3 WHEN 0 THEN 512 WHEN 1 THEN 1024 ELSE 2048 END AS DOUBLE)"))
      .select(col("s_suppkey"),
        array(col("x1"), col("yi").cast("double"),
              col("x1") + col("len"), col("yi").cast("double")).as("line"))

  val roadsSql: String =
    """SELECT s_suppkey, CAST(yi AS DOUBLE) AS y,
      |  CAST((s_suppkey * 48271) % 7000 AS DOUBLE) AS x1,
      |  CAST((s_suppkey * 48271) % 7000 +
      |    (CASE s_suppkey % 3 WHEN 0 THEN 512 WHEN 1 THEN 1024 ELSE 2048 END) AS DOUBLE) AS x2
      |FROM (SELECT s_suppkey, (s_suppkey * 9973) % 8000 AS yi FROM supplier)
      |WHERE yi % 1000 <> 0""".stripMargin

  // ------------------------------------------- lon/lat twin (curved mode)

  /** The same layout scaled 1/1000 into DEGREES ([0,8]²: counties 2° tiles,
    * grid 1° cells) — the USE_CURVED_LINES fixture, where great-circle and
    * planar length measures genuinely diverge (cos(lat) varies 1.0→0.99). */
  val gridLL: GridSpec = GridSpec("TESTLL", 0, 0, 1.0, 1.0, 8, 8)
  val domainLL: CellDomain = CellDomain(0, 0, 8.192, 8.192)

  def countiesLL(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for { cy <- 0 until 4; cx <- 0 until 4 } yield {
      val fips = f"47${cy * 4 + cx + 1}%03d"
      val x0 = cx * 2.0; val y0 = cy * 2.0
      (fips, Seq(Seq(x0, y0, x0 + 2.0, y0, x0 + 2.0, y0 + 2.0, x0, y0 + 2.0)))
    }
    rows.toDF("fips", "geom")
  }

  /** roads() divided by 1000 — horizontal fractional-degree segments that
    * never sit on a county (2°) or cell (1°) line. Both engines compute the
    * SAME doubles (integer lattice / 1000.0). */
  def roadsLL(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
      .withColumn("yi", expr("(s_suppkey * 9973) % 8000"))
      .where(expr("yi % 1000 != 0"))
      .withColumn("xi", expr("(s_suppkey * 48271) % 7000"))
      .withColumn("leni", expr(
        "CASE s_suppkey % 3 WHEN 0 THEN 512 WHEN 1 THEN 1024 ELSE 2048 END"))
      .select(col("s_suppkey"),
        array(col("xi").cast("double") / 1000.0,
              col("yi").cast("double") / 1000.0,
              (col("xi") + col("leni")).cast("double") / 1000.0,
              col("yi").cast("double") / 1000.0).as("line"))

  val roadsLLSql: String =
    """SELECT s_suppkey, CAST(yi AS DOUBLE)/1000.0 AS y,
      |  CAST(xi AS DOUBLE)/1000.0 AS x1,
      |  CAST(xi + leni AS DOUBLE)/1000.0 AS x2
      |FROM (SELECT s_suppkey, (s_suppkey * 9973) % 8000 AS yi,
      |        (s_suppkey * 48271) % 7000 AS xi,
      |        (CASE s_suppkey % 3 WHEN 0 THEN 512 WHEN 1 THEN 1024 ELSE 2048 END) AS leni
      |      FROM supplier)
      |WHERE yi % 1000 <> 0""".stripMargin

  val countiesLLSql: String =
    """SELECT '47' || lpad(CAST(i + 1 AS VARCHAR), 3, '0') AS fips,
      |  CAST((i % 4) * 2 AS DOUBLE) AS cx0,
      |  CAST(CAST(floor(i / 4.0) AS INT) * 2 AS DOUBLE) AS cy0
      |FROM range(16) t(i)""".stripMargin

  val cellsLLSql: String =
    """SELECT CAST(id % 8 + 1 AS INT) AS col, CAST(floor(id / 8.0) + 1 AS INT) AS "row",
      |  CAST(id % 8 AS DOUBLE) AS gx0,
      |  CAST(CAST(floor(id / 8.0) AS INT) AS DOUBLE) AS gy0
      |FROM range(64) t(id)""".stripMargin

  /** kNN queries from `customer` (20 rows), sites = suppliers. */
  def knnQueries(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
      .where(col("c_custkey") <= 20)
      .select(col("c_custkey").as("qid"),
        expr("CAST((c_custkey * 32717) % 8000 AS DOUBLE)").as("x"),
        expr("CAST((c_custkey * 11261) % 8000 AS DOUBLE)").as("y"))

  def knnSites(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").as("sid"),
        expr("CAST((s_suppkey * 27179) % 8000 AS DOUBLE)").as("sx"),
        expr("CAST((s_suppkey * 15101) % 8000 AS DOUBLE)").as("sy"))

  // ---------------------------------------------------------- SQL helpers

  /** counties as a DuckDB inline relation. */
  val countiesSql: String =
    """SELECT '47' || lpad(CAST(i + 1 AS VARCHAR), 3, '0') AS fips,
      |  CAST((i % 4) * 2000 AS DOUBLE) AS cx0,
      |  CAST(CAST(floor(i / 4.0) AS INT) * 2000 AS DOUBLE) AS cy0
      |FROM range(16) t(i)""".stripMargin

  /** fips of the county containing integer point (x,y) — closed form. */
  def fipsOfSql(x: String, y: String): String =
    s"'47' || lpad(CAST(CAST(floor($y/2000.0) AS INT)*4 + CAST(floor($x/2000.0) AS INT) + 1 AS VARCHAR), 3, '0')"

  /** DuckDB inline 8×8 grid cells. */
  val cellsSql: String =
    """SELECT CAST(id % 8 + 1 AS INT) AS col, CAST(floor(id / 8.0) + 1 AS INT) AS "row",
      |  CAST((id % 8) * 1000 AS DOUBLE) AS gx0,
      |  CAST(CAST(floor(id / 8.0) AS INT) * 1000 AS DOUBLE) AS gy0
      |FROM range(64) t(id)""".stripMargin
}
