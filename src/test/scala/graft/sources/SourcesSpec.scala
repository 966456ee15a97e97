package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.grid.GridCatalog
import graft.geom.Geo

class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").appName("sources-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("GRIDDESC parses the reference sample layout") {
    val cat = GridDesc.parse(
      """!  coords --line:  name; type, P-alpha, P-beta, P-gamma, xcent, ycent
        |'NA_LAT_LONG'
        |1, 0, 0, 0, 0, 0
        |'LAM_40N_100W'
        |2, 30, 60, -100, -100, 40
        |' '  !  end coords.  grids:
        |'M_08_99NASH'
        |'LAM_40N_100W', 1.000E+06, -5.360E+05, 8000, 8000, 46, 42, 1
        |' '""".stripMargin)
    assert(cat.coords("LAM_40N_100W").ctype == 2)
    val e = cat.grids("M_08_99NASH")
    assert(e.grid.xorig == 1e6 && e.grid.ncols == 46 && e.grid.nrows == 42)
    assert(e.coord.name == "LAM_40N_100W" && e.nthik == 1)
  }

  test("PointFile source reads delimited X/Y columns") {
    val p = graft.Scratch.dir("pts").resolve("pts.csv")
    java.nio.file.Files.write(p,
      "site|lon|lat\nA|100.5|200.25\nB|300.0|400.75\n".getBytes)
    val df = Sources.pointFile(spark, p.toString, "lon", "lat", "PIPE")
    val rows = df.orderBy("site").collect()
    assert(rows.map(_.getAs[Double]("x")).toSeq == Seq(100.5, 300.0))
    assert(rows.map(_.getAs[Double]("y")).toSeq == Seq(200.25, 400.75))
  }

  test("BoundingBox and PolygonFile literals") {
    val bb = Sources.boundingBox(spark, "10, 20, 30, 5")
      .collect().head.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq
    assert(bb.head == Seq(10.0, 5, 30, 5, 30, 20, 10, 20))
    val pf = Sources.polygonFile(spark,
      "0 0\n0 10\n10 10\n10 0\n\n2 2\n6 2\n6 6\n2 6")
      .collect().head.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq
    assert(pf.size == 2 && pf(0).size == 8 && pf(1) == Seq(2.0, 2, 6, 2, 6, 6, 2, 6))
  }

  test("regular grid generates cells matching closed-form ids") {
    val g = GridCatalog.TEST8
    val df = Sources.regularGrid(spark, g)
    assert(df.count() == 64)
    val c = df.where("cell_id = 9").collect().head
    assert(c.getAs[Int]("col") == 2 && c.getAs[Int]("row") == 2)
    val rings = c.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq
    assert(rings.head == Seq(1000.0, 1000, 2000, 1000, 2000, 2000, 1000, 2000))
  }

  test("e-grid cells are staggered diamonds of area dx*dy/2") {
    val df = Sources.eGrid(spark, "E1", 0, 0, 1000, 1000, 4, 5)
    assert(df.count() == 20)
    val areas = df.collect().map { r =>
      val rings = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq.map(_.toArray).toArray
      math.abs(Geo.polygonArea(rings))
    }
    assert(areas.forall(a => math.abs(a - 500000.0) < 1e-6))
    // stagger: even rows shifted by dx/2
    val r1 = df.where("row = 1 AND col = 1").collect().head.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq
    val r2 = df.where("row = 2 AND col = 1").collect().head.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq
    assert(r2.head.head - r1.head.head == 500.0)
  }

  test("variable grid refines listed cells into 4 children") {
    val g = GridCatalog.TEST8
    val df = Sources.variableGrid(spark, g, refined = Set(0L, 63L))
    assert(df.count() == 62 + 8)
    assert(df.where("depth = 1").count() == 8)
    val totalArea = df.collect().map { r =>
      val rings = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom").map(_.toSeq).toSeq.map(_.toArray).toArray
      math.abs(Geo.polygonArea(rings))
    }.sum
    assert(math.abs(totalArea - 64e6) < 1e-3) // children tile their parents
  }

  test("grid-dot variable grid: LAT/LON dots project, XY dots offset") {
    // 3×3 dots → 2×2 quad cells; values row-major
    val lats = for (r <- 0 until 3; _ <- 0 until 3) yield r * 1.0
    val lons = for (_ <- 0 until 3; c <- 0 until 3) yield c * 1.0
    val text = "NCOLS = 3\nNROWS = 3\nLAT =\n" + lats.mkString(",") +
      "\nLON =\n" + lons.mkString(",") + "\n"
    // a deliberately asymmetric projection proves lon/lat each route
    val (spec, cellsDf) = Sources.variableDotGrid(spark, text,
      (lon, lat) => (lon * 2.0, lat * 3.0))
    // the derived spec matches the projected dot lattice exactly
    assert(spec.ncols == 2 && spec.nrows == 2 &&
      spec.xorig == 0.0 && spec.yorig == 0.0 &&
      spec.xcell == 2.0 && spec.ycell == 3.0)
    val cells = cellsDf.orderBy("cell_id").collect()
    assert(cells.length == 4)
    val c0 = cells.head
    assert((c0.getAs[Int]("col"), c0.getAs[Int]("row")) == ((1, 1)))
    // cell (1,1) corners: (0,0) (1,0) (1,1) (0,1) in degrees → scaled
    assert(c0.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom")
      .map(_.toSeq).toSeq.head == Seq(0.0, 0.0, 2.0, 0.0, 2.0, 3.0, 0.0, 3.0))

    // XY mode (YDOT/XDOT) shifts by the origin instead of projecting
    val xys = "NCOLS = 3\nNROWS = 3\nYDOT =\n" + lats.map(_ * 100).mkString(",") +
      "\nXDOT =\n" + lons.map(_ * 100).mkString(",") + "\n"
    val xyCells = Sources.variableDotGrid(spark, xys,
      (a, b) => (a, b), readXY = true, xorig = 10.0, yorig = 20.0)
      ._2.orderBy("cell_id").collect()
    assert(xyCells.head
      .getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom")
      .map(_.toSeq).toSeq.head ==
      Seq(10.0, 20.0, 110.0, 20.0, 110.0, 120.0, 10.0, 120.0))

    // values beginning ON the key line parse too (common Fortran layout)
    val sameLine = "NCOLS = 3\nNROWS = 3\nLAT = " + lats.mkString(",") +
      "\nLON = " + lons.mkString(",") + "\n"
    val slCells = Sources.variableDotGrid(spark, sameLine,
      (lon, lat) => (lon * 2.0, lat * 3.0))._2.orderBy("cell_id").collect()
    assert(slCells.length == 4)

    // truncated stream fails loudly, never silently under-builds
    val bad = "NCOLS = 3\nNROWS = 3\nLAT =\n1,2,3\nLON =\n" + lons.mkString(",")
    val e = intercept[IllegalArgumentException](
      Sources.variableDotGrid(spark, bad, (a, b) => (a, b)))
    assert(e.getMessage.contains("3 values, need 9"))
  }
}
