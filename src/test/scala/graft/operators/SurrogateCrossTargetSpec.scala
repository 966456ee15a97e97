package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo
import graft.sources.Sources

/** The polygon county stage feeds every target, so the grid target and
  * the cell-polygon target over the same grid's materialized cells must
  * give the same surrogate: same (fips, col, row) cells, and frac, numer
  * and denom equal within 1e-9 relative.
  *
  * `create` is the one entry onto every target. Onto the grid it must
  * equal the three grid entry points row for row; onto the other targets
  * it must reproduce the rows the target-specific entry points it replaced
  * gave (pointSurrogateToPolys, surrogateToCellPolys, surrogateToEGrid),
  * recorded under test resources `graft/operators/targets/`. */
class SurrogateCrossTargetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("surrogate-cross-target-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    graft.spark.PersistTracker.drain()
    if (spark != null) spark.stop()
  }

  private type Cells = Map[(String, Int, Int), Seq[Double]]

  private def cells(df: DataFrame): Cells =
    df.select("fips", "col", "row", "frac", "numer", "denom").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  for ((mode, weight) <- Seq("area mode" -> None, "p_size weight" -> Some("p_size")))
    test(s"polySurrogate on TEST8 equals surrogateToCellPolys on its cells ($mode)") {
      val tracts = TpchGeo.tracts(spark, SurrogatePlanSpec.SfDir)
      val counties = TpchGeo.counties(spark)
      val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)
      val onGrid = cells(Surrogate.polySurrogate(tracts, counties, g, d, z,
        srgCode = 1, weight = weight))
      val onCells = cells(Surrogate.create(WeightKind.PolyW, tracts, counties,
        Surrogate.CellPolys(Sources.regularGrid(spark, g)), d, z, srgCode = 1,
        weight = weight))
      assert(onGrid.nonEmpty)
      assert(onGrid.keySet == onCells.keySet,
        s"grid only: ${onGrid.keySet -- onCells.keySet}; " +
          s"cells only: ${onCells.keySet -- onGrid.keySet}")
      val off = onGrid.keys.toSeq.sorted.filterNot(k =>
        onGrid(k).zip(onCells(k)).forall { case (a, b) => close(a, b) })
      assert(off.isEmpty, off.take(10).map(k =>
        s"$k grid ${onGrid(k)} cells ${onCells(k)}").mkString("; "))
    }

  private def sf = SurrogatePlanSpec.SfDir
  private val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  test("create onto Grid equals pointSurrogate, lineSurrogate and polySurrogate row for row") {
    val counties = TpchGeo.counties(spark)
    val points = TpchGeo.points(spark, sf)
    val roads = TpchGeo.roads(spark, sf)
    val tracts = TpchGeo.tracts(spark, sf)
    Seq(
      (WeightKind.PointW, points, None,
        Surrogate.pointSurrogate(points, counties, g, d, z, 1)),
      (WeightKind.LineW, roads, None,
        Surrogate.lineSurrogate(roads, counties, g, d, z, 1)),
      (WeightKind.PolyW, tracts, Some("p_size"),
        Surrogate.polySurrogate(tracts, counties, g, d, z, 1,
          weight = Some("p_size")))
    ).foreach { case (kind, layer, weight, direct) =>
      val got = rows(Surrogate.create(kind, layer, counties, Surrogate.Grid(g),
        d, z, 1, weight))
      assert(got.nonEmpty && got == rows(direct), kind)
    }
  }

  /** `df`'s rows against a recorded file: the same key columns (every
    * column but the last four) and frac, numer, denom and qasum within
    * 1e-12 relative. */
  private def assertRecorded(df: DataFrame, file: String): Unit = {
    val lines = scala.io.Source.fromResource(s"graft/operators/targets/$file")
      .getLines().toSeq
    assert(df.columns.mkString(",") == lines.head)
    def split(rs: Seq[String]): Map[String, Seq[Double]] = rs.map { r =>
      val f = r.split(",").toSeq
      f.dropRight(4).mkString(",") -> f.takeRight(4).map(_.toDouble)
    }.toMap
    val (got, want) = (split(rows(df)), split(lines.tail))
    assert(want.nonEmpty && got.keySet == want.keySet,
      s"new: ${got.keySet -- want.keySet}; missing: ${want.keySet -- got.keySet}")
    val off = want.keys.toSeq.sorted.filterNot(k => got(k).zip(want(k)).forall {
      case (a, b) => math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    })
    assert(off.isEmpty, off.map(k => s"$k: ${got(k)} vs ${want(k)}").mkString("; "))
  }

  test("create onto Polys reproduces pointSurrogateToPolys row for row") {
    val s = spark
    import s.implicits._
    val quads = (for { qy <- 0 to 1; qx <- 0 to 1 } yield {
      val x0 = 1000.0 + qx * 3000; val y0 = 1000.0 + qy * 3000
      (1 + qx + qy * 2,
        Seq(Seq(x0, y0, x0 + 3000, y0, x0 + 3000, y0 + 3000, x0, y0 + 3000)))
    }).toDF("out_id", "geom")
    assertRecorded(Surrogate.create(WeightKind.PointW, TpchGeo.points(spark, sf),
      TpchGeo.counties(spark), Surrogate.Polys(quads), d, z, 11),
      "polys_point.csv")
  }

  test("create onto CellPolys reproduces surrogateToCellPolys row for row") {
    assertRecorded(Surrogate.create(WeightKind.PolyW, TpchGeo.tracts(spark, sf),
      TpchGeo.counties(spark), Surrogate.CellPolys(Sources.regularGrid(spark, g)),
      d, z, 12, Some("p_size")), "cellpolys_poly.csv")
  }

  test("create onto EGrid reproduces surrogateToEGrid row for row") {
    val eg = graft.grid.GridSpec("EG", 0, 0, 1000, 1000, 9, 17)
    assertRecorded(Surrogate.create(WeightKind.LineW, TpchGeo.roads(spark, sf),
      TpchGeo.counties(spark), Surrogate.EGrid(eg), d, z, 13),
      "egrid_line.csv")
  }
}
