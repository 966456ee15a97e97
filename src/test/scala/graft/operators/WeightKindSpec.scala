package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import WeightKind.{LineW, PointW, PolyW}

/** A layer's kind has two parsers: the env contract's file type and the
  * layer's schema. Both are pinned here, including the schema order for a
  * table that carries both a `line` and a `geom` column. */
class WeightKindSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]").config("spark.ui.enabled", "false")
    .appName("weight-kind-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("fromFileType: Point and PointFile are points, Line lines, the rest polygons") {
    Seq("Point" -> PointW, "PointFile" -> PointW, "Line" -> LineW,
        "Polygon" -> PolyW, "ShapeFile" -> PolyW, "RegularGrid" -> PolyW)
      .foreach { case (ftype, kind) =>
        assert(WeightKind.fromFileType(ftype) == kind, ftype)
      }
  }

  test("of: x/y is points, line lines, geom polygons, line before geom") {
    import spark.implicits._
    val ring = Seq(Seq(0.0, 0, 1, 0, 1, 1, 0, 1))
    val seg = Seq(0.0, 0, 1, 1)
    Seq(
      "points" -> (Seq((1.0, 2.0)).toDF("x", "y"), PointW),
      "lines" -> (Seq((1, seg)).toDF("id", "line"), LineW),
      "polygons" -> (Seq((1, ring)).toDF("id", "geom"), PolyW),
      "line + geom" -> (Seq((seg, ring)).toDF("line", "geom"), LineW)
    ).foreach { case (name, (df, kind)) =>
      assert(WeightKind.of(df) == kind, name)
    }
  }

  test("a table with both line and geom reprojects its lines") {
    import spark.implicits._
    val both = Seq((Seq(-97.0, 40.0, -96.0, 41.0),
      Seq(Seq(-97.0, 40.0, -96.0, 40.0, -96.0, 41.0)))).toDF("line", "geom")
    val from = graft.grid.Proj.LatLon
    val to = graft.grid.Proj.Lcc(33, 45, 40, -97)
    val out = Reproject.layer(WeightKind.of(both), both, from, to, 0.0).head()
    val (x0, y0) = to.forward(-97.0, 40.0)
    assert(out.getSeq[Double](0).take(2) == Seq(x0, y0))
    assert(out.getSeq[Seq[Double]](1) == both.head().getSeq[Seq[Double]](1))
  }
}
