package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo
import graft.spark.GeoFunctions._

/** Semantics of the grid surrogates' one-pass tail (denominator and qasum
  * as windows over each county's rows): off-grid W∩D pieces count in the
  * denominator, the result equals the numerator ⋈ denominator join tail it
  * replaced, the threshold skips or keeps counties, qasum sums the kept
  * rows only, and each call runs in a few Spark jobs. */
class SurrogateTailSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("surrogate-tail-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    graft.spark.PersistTracker.drain()
    if (spark != null) spark.stop()
  }

  private val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)
  private def sfDir = SurrogatePlanSpec.SfDir

  private def square(x0: Double, y0: Double, e: Double): Seq[Seq[Double]] =
    Seq(Seq(x0, y0, x0 + e, y0, x0 + e, y0 + e, x0, y0 + e))

  /** Two counties; 01002 runs past TEST8's right edge (x = 8000) to the
    * cell domain's (x = 8192). */
  private def straddling: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("01001", Seq(Seq(0.0, 0.0, 4000.0, 0.0, 4000.0, 4000.0, 0.0, 4000.0))),
      ("01002", Seq(Seq(4000.0, 0.0, 8192.0, 0.0, 8192.0, 4000.0, 4000.0, 4000.0))))
      .toDF("fips", "geom")
  }

  private def points(pts: (Double, Double, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    pts.toDF("x", "y", "w")
  }

  private type Cells = Map[(String, Int, Int), Seq[Double]]

  /** (fips, col, row) → (frac, numer, denom, qasum). */
  private def cells(df: DataFrame): Cells = {
    val rows = df.select("fips", "col", "row", "frac", "numer", "denom", "qasum")
      .collect()
    val out = rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
      Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out.size == rows.length, "duplicate (fips, col, row) rows")
    out
  }

  test("a fragment outside TEST8 counts in denom and emits no cell") {
    val s = spark
    import s.implicits._
    // 500×500 on the grid and 100×100 past its edge, one county
    val polys = Seq(square(4500, 500, 500), square(8050, 500, 100)).toDF("geom")
    assert(cells(Surrogate.polySurrogate(polys, straddling, g, d, z, 1)) ==
      Map(("01002", 5, 1) -> Seq(250000.0 / 260000, 250000.0, 260000.0,
        250000.0 / 260000)))
    // 500 of a 600-long road on the grid, and a 100-long road off it
    val roads = Seq(Seq(7500.0, 2500.0, 8100.0, 2500.0),
      Seq(8050.0, 3500.0, 8150.0, 3500.0)).toDF("line")
    assert(cells(Surrogate.lineSurrogate(roads, straddling, g, d, z, 2)) ==
      Map(("01002", 8, 3) -> Seq(500.0 / 700, 500.0, 700.0, 500.0 / 700)))
  }

  // ---------------------------------------- the join tail it replaced

  /** numer ⋈ broadcast(denom) → threshold and zero skip → frac → qasum. */
  private def joinTail(numer: DataFrame, denom: DataFrame): DataFrame =
    numer.join(broadcast(denom), "fips")
      .where(col("denom") >= 1e-5 && col("numer") =!= 0.0)
      .withColumn("frac", col("numer") / col("denom"))
      .withColumn("qasum", sum("frac").over(Window.partitionBy("fips")
        .orderBy(col("row"), col("col"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Per-cell point matrix; its denominator re-aggregates it. */
  private def joinPoints(pts: DataFrame, weight: Option[String]): DataFrame = {
    val w = weight.map(col(_).cast("double")).getOrElse(lit(1.0))
    val onGrid = inGrid(gridCol(col("x"), g), gridRow(col("y"), g), g)
    val perCell = SpatialJoin.pointInPoly(pts, TpchGeo.counties(spark), d, z)
      .where(w =!= 0.0)
      .withColumn("col", when(onGrid, gridCol(col("x"), g)))
      .withColumn("row", when(onGrid, gridRow(col("y"), g)))
      .groupBy("fips", "col", "row").agg(sum(w).as("numer"))
    joinTail(perCell.where(col("col").isNotNull),
      perCell.groupBy("fips").agg(sum("numer").as("denom")))
  }

  /** Fragments → (Σ contribution per cell, Σ contribution per county). */
  private def joinFrags(features: DataFrame, feature: String,
                        size: Column => Column, weight: Option[String])
                       (clip: DataFrame => DataFrame, fragMeasure: String)
                       (cellsOf: DataFrame => DataFrame, cellMeasure: String)
      : DataFrame = {
    val wts = features
      .where(weight.map(col(_).cast("double") =!= 0.0).getOrElse(lit(true)))
      .withColumn("__base", size(col(feature)))
      .where(col("__base") > 0)
      .withColumn("__wval", weight.map(col(_).cast("double")).getOrElse(lit(0.0)))
    def contrib(m: String) =
      weight.map(_ => col("__wval") * (col(m) / col("__base"))).getOrElse(col(m))
    val frags = clip(wts)
    joinTail(
      cellsOf(frags).groupBy("fips", "col", "row").agg(sum(contrib(cellMeasure)).as("numer")),
      frags.groupBy("fips").agg(sum(contrib(fragMeasure)).as("denom")))
  }

  private def joinPolys(polys: DataFrame, weight: Option[String]): DataFrame =
    joinFrags(polys, "geom", polygonArea, weight)(
      SpatialJoin.polyPolyFragments(_,
        TpchGeo.counties(spark).withColumnRenamed("geom", "bgeom"), d, z),
      "frag_area")(
      Surrogate.polyCellClip(_, "frag_geom", g), "__carea")

  private def joinLines(lines: DataFrame, weight: Option[String]): DataFrame =
    joinFrags(lines, "line", lineLength(_, curved = false), weight)(
      SpatialJoin.linePolyFragments(_, TpchGeo.counties(spark), d, z),
      "frag_len")(
      f => Surrogate.cellClip(f.withColumn("__piece", explode(col("frag_line"))),
        lineGridCoverCells(col("__piece"), g),
        lineCellClipLength(col("__piece"), _, g, curved = false), "__clen", g),
      "__clen")

  /** The three grid surrogates next to their join-tail twins, on the
    * sf0.001 fixtures; `frac` turns each weight fractional. */
  private def pairs(frac: Boolean): Seq[(String, DataFrame, DataFrame)] = {
    def w(df: DataFrame, c: String) =
      if (frac) df.withColumn("__fw", col(c) / 3.0) else df.withColumn("__fw", col(c))
    val pts = w(TpchGeo.points(spark, sfDir), "o_orderkey")
    val tracts = w(TpchGeo.tracts(spark, sfDir), "p_size")
    val roads = w(TpchGeo.roads(spark, sfDir), "s_suppkey")
    val counties = TpchGeo.counties(spark)
    Seq(
      ("points, count mode", Surrogate.pointSurrogate(pts, counties, g, d, z, 1),
        joinPoints(pts, None)),
      ("points, weighted", Surrogate.pointSurrogate(pts, counties, g, d, z, 1,
        Some("__fw")), joinPoints(pts, Some("__fw"))),
      ("tracts, area mode", Surrogate.polySurrogate(tracts, counties, g, d, z, 2),
        joinPolys(tracts, None)),
      ("tracts, weighted", Surrogate.polySurrogate(tracts, counties, g, d, z, 2,
        Some("__fw")), joinPolys(tracts, Some("__fw"))),
      ("roads, length mode", Surrogate.lineSurrogate(roads, counties, g, d, z, 3),
        joinLines(roads, None)),
      ("roads, weighted", Surrogate.lineSurrogate(roads, counties, g, d, z, 3,
        Some("__fw")), joinLines(roads, Some("__fw"))))
  }

  test("fractional weights: equal to the join tail within 1e-12 relative") {
    def close(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    pairs(frac = true).foreach { case (name, got, want) =>
      val (a, b) = (cells(got), cells(want))
      assert(a.nonEmpty, name)
      assert(a.keySet == b.keySet, name)
      val off = a.keys.filterNot(k => a(k).zip(b(k)).forall { case (x, y) => close(x, y) })
      assert(off.isEmpty, s"$name: ${off.take(5).map(k => s"$k ${a(k)} ${b(k)}")}")
    }
  }

  test("lattice fixtures: bitwise equal to the join tail") {
    pairs(frac = false).foreach { case (name, got, want) =>
      val a = cells(got)
      assert(a.nonEmpty, name)
      assert(a == cells(want), name)
    }
  }

  test("below-threshold counties are dropped, or kept under keepSkipped") {
    // 01001 weighs 2e-6 in all, under the 1e-5 threshold
    val pts = points((1500.5, 1500.5, 1e-6), (2500.5, 2500.5, 1e-6),
      (4500.5, 500.5, 1.0))
    def run(keep: Boolean) = cells(Surrogate.pointSurrogate(pts, straddling,
      g, d, z, 1, Some("w"), keepSkipped = keep))
    assert(run(keep = false).keySet == Set(("01002", 5, 1)))
    val kept = run(keep = true)
    assert(kept.keySet == Set(("01001", 2, 2), ("01001", 3, 3), ("01002", 5, 1)))
    Seq(("01001", 2, 2), ("01001", 3, 3)).foreach(k =>
      assert(kept(k).take(3) == Seq(0.5, 1e-6, 2e-6), s"$k ${kept(k)}"))
  }

  test("qasum sums only the kept rows") {
    // cells (5,1) and (6,1) kept; (5,2) nets to a zero numerator and the
    // point at x = 8100.5 is off the grid: both reach denom = 11 only
    val pts = points((4500.5, 500.5, 1.0), (5500.5, 500.5, 2.0),
      (4500.5, 1500.5, 4.0), (4600.5, 1500.5, -4.0), (8100.5, 500.5, 8.0))
    val got = cells(Surrogate.pointSurrogate(pts, straddling, g, d, z, 1, Some("w")))
    assert(got == Map(
      ("01002", 5, 1) -> Seq(1.0 / 11, 1.0, 11.0, 1.0 / 11),
      ("01002", 6, 1) -> Seq(2.0 / 11, 2.0, 11.0, 1.0 / 11 + 2.0 / 11)))
  }

  test("each call runs in a bounded number of Spark jobs") {
    // jobs of one noop write of the result; the numer ⋈ broadcast(denom)
    // tail with its persisted W∩D rows or per-cell matrix took 8 for each
    def jobs(build: => DataFrame): Int = {
      graft.spark.PersistTracker.drain()
      spark.catalog.clearCache()
      val out = build
      graft.Jobs.of(spark)(out.write.format("noop").mode("overwrite").save())._2
    }
    val counties = TpchGeo.counties(spark)
    val poly = jobs(Surrogate.polySurrogate(TpchGeo.tracts(spark, sfDir),
      counties, g, d, z, 2, Some("p_size")))
    assert(poly <= 3, s"polySurrogate started $poly jobs")
    val point = jobs(Surrogate.pointSurrogate(TpchGeo.points(spark, sfDir),
      counties, g, d, z, 1))
    assert(point <= 4, s"pointSurrogate started $point jobs")
  }
}
