package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** Join invariants: the point join keys on the cell id alone, the
  * multi-resolution point join must give the fixed-resolution results
  * (only the physical plan moves), and the overlays keep exactly the
  * inputs that meet the mask. */
class SpatialJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("sjoin-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("pointInPoly's broadcast hash join has one LongType key") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.LongType
    val df = SpatialJoin.pointInPoly(TpchGeo.points(spark, sfDir),
      TpchGeo.counties(spark), TpchGeo.domain, TpchGeo.zres)
    df.write.format("noop").mode("overwrite").save()
    val joins = SurrogatePlanSpec.nodes(df.queryExecution.executedPlan)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, joins.mkString("\n"))
    assert(joins.head.leftKeys.map(_.dataType) == Seq(LongType) &&
      joins.head.rightKeys.map(_.dataType) == Seq(LongType),
      joins.head.toString)
  }

  test("adaptive multi-resolution join matches fixed-res and bounds explode") {
    import spark.implicits._
    val pts = TpchGeo.points(spark, sfDir)
    // mixed-size layer: one huge polygon + the 16 counties
    val mixed = TpchGeo.counties(spark).unionByName(
      Seq(("BIG", Seq(Seq(0.0, 0, 8000, 0, 8000, 8000, 0, 8000))))
        .toDF("fips", "geom"))
    val fixed = SpatialJoin.pointInPoly(pts, mixed, TpchGeo.domain, TpchGeo.zres)
      .select("o_orderkey", "fips").collect().map(_.toString).sorted.toSeq
    val adaptive = SpatialJoin.pointInPolyAdaptive(pts, mixed,
        TpchGeo.domain, TpchGeo.zres)
      .select("o_orderkey", "fips").collect().map(_.toString).sorted.toSeq
    assert(adaptive == fixed && adaptive.nonEmpty)

    // the huge polygon's adaptive cover is tiny; its fixed cover is 256 cells
    import graft.spark.GeoFunctions._
    val big = mixed.where($"fips" === "BIG")
    val nFixed = big.select(explode(polyCoverCells($"geom", TpchGeo.domain,
      TpchGeo.zres))).count()
    val nAdaptive = big.select(explode(polyAdaptiveCoverCells($"geom",
      TpchGeo.domain, TpchGeo.zres))).count()
    assert(nFixed >= 256 && nAdaptive <= 4,
      s"fixed=$nFixed adaptive=$nAdaptive")
  }

  test("overlayPolys / overlayLines semi-join semantics") {
    import spark.implicits._
    val mask = Seq(Tuple1(Seq(Seq(500.0, 500, 2500, 500, 2500, 2500, 500, 2500))))
      .toDF("geom")
    // polygons: one inside, one overlapping, one disjoint
    val polys = Seq(
      ("in",      Seq(Seq(1000.0, 1000, 1200, 1000, 1200, 1200, 1000, 1200))),
      ("overlap", Seq(Seq(2400.0, 2400, 2600, 2400, 2600, 2600, 2400, 2600))),
      ("out",     Seq(Seq(4000.0, 4000, 4200, 4000, 4200, 4200, 4000, 4200)))
    ).toDF("pid", "geom")
    val hits = SpatialJoin.overlayPolys(polys, mask)
      .select("pid").collect().map(_.getString(0)).sorted.toSeq
    assert(hits == Seq("in", "overlap"))

    val lines = Seq(
      ("cross", Seq(0.0, 1000, 3000, 1000)),
      ("miss",  Seq(0.0, 4000, 3000, 4000))
    ).toDF("lid", "line")
    val lhits = SpatialJoin.overlayLines(lines, mask)
      .select("lid").collect().map(_.getString(0)).toSeq
    assert(lhits == Seq("cross"))
  }

  test("overlay mask scan: past a bbox miss, and bbox hits the kernel rejects") {
    import spark.implicits._
    // mask 0: a square far from every input below; mask 1: an L whose
    // bbox (4000..6000)² holds a notch (x > 4500 and y > 4500) outside it
    val mask = Seq(
      Tuple1(Seq(Seq(500.0, 500, 1500, 500, 1500, 1500, 500, 1500))),
      Tuple1(Seq(Seq(4000.0, 4000, 6000, 4000, 6000, 4500, 4500, 4500,
        4500, 6000, 4000, 6000)))
    ).toDF("geom")
    val polys = Seq(
      ("arm",   Seq(Seq(4100.0, 4100, 4300, 4100, 4300, 4300, 4100, 4300))),
      ("notch", Seq(Seq(5000.0, 5000, 5500, 5000, 5500, 5500, 5000, 5500)))
    ).toDF("pid", "geom")
    assert(SpatialJoin.overlayPolys(polys, mask)
      .select("pid").collect().map(_.getString(0)).toSeq == Seq("arm"))
    val lines = Seq(
      ("arm",   Seq(3800.0, 4200, 4400, 4200)),
      ("notch", Seq(5000.0, 5000, 5800, 5800))
    ).toDF("lid", "line")
    assert(SpatialJoin.overlayLines(lines, mask)
      .select("lid").collect().map(_.getString(0)).toSeq == Seq("arm"))
  }

  test("overlay mask guard rejects fact-table-sized masks") {
    import spark.implicits._
    // 100001 tiny rects exceed the dimension contract; the limit bounds the
    // collect itself, so this fails fast rather than OOMing the driver
    val huge = spark.range(100001)
      .select(org.apache.spark.sql.functions.expr(
        "array(array(CAST(id AS DOUBLE), 0.0D, CAST(id+1 AS DOUBLE), 0.0D," +
        " CAST(id+1 AS DOUBLE), 1.0D, CAST(id AS DOUBLE), 1.0D))").as("geom"))
    val polys = Seq(Seq(Seq(0.0, 0, 4, 0, 4, 4, 0, 4))).toDF("geom")
    val ex = intercept[IllegalArgumentException] {
      SpatialJoin.overlayPolys(polys, huge)
    }
    assert(ex.getMessage.contains("cell-join"))
  }
}
