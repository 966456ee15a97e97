package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cells.CellDomain
import graft.grid.GridSpec

/** The closed-form point→diamond assignment of the EGrid target must be
  * exactly the ray-cast pointInPoly result over the materialized diamonds —
  * including points ON diamond edges (both adjacent diamonds), odd grid
  * origins, dx ≠ dy, and points outside the grid. */
class EGridSurrogateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("egrid-srg-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("closed-form diamond assignment matches the ray-cast join exactly") {
    import spark.implicits._
    val domain = CellDomain(0, 0, 65536, 65536)
    // non-zero origin, rectangular cells
    val g = GridSpec("EGF", 300.0, 700.0, 800.0, 600.0, 7, 11)
    val rnd = new scala.util.Random(73L)
    // random points in and around the grid, plus deliberate EDGE points
    // (midpoints of diamond edges) and far-outside points
    val randomPts = (1 to 400).map { i =>
      (i.toLong, 300.0 - 1000 + rnd.nextInt(7 * 800 + 2000).toDouble + 0.5,
        700.0 - 1000 + rnd.nextInt(11 * 300 + 2000).toDouble + 0.5)
    }
    val edgePts = (1 to 50).map { i =>
      val r = 1 + rnd.nextInt(11); val c = 1 + rnd.nextInt(7)
      val off = if (r % 2 == 0) 400.0 else 0.0
      val cx = 300.0 + (c - 1) * 800 + off
      val cy = 700.0 + (r - 1) * 300.0
      // midpoint of the NE edge: (cx + dx/4, cy + dy/4)
      (400L + i, cx + 200.0, cy + 150.0)
    }
    val pts = (randomPts ++ edgePts).toDF("pid", "x", "y")
    val counties = Seq(("X", Seq(Seq(-2000.0, -2000, 90000, -2000,
      90000, 90000, -2000, 90000)))).toDF("fips", "geom")

    // closed-form path (the EGrid target's point branch)
    val cf = Surrogate.create(WeightKind.PointW, pts, counties,
        Surrogate.EGrid(g), domain, 4, srgCode = 1)
      .select("col", "row", "numer").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap

    // ray-cast reference over materialized diamonds
    val diamonds = graft.sources.Sources.eGrid(spark, g.name, g.xorig,
      g.yorig, g.xcell, g.ycell, g.ncols, g.nrows)
    val rc = SpatialJoin.pointInPoly(pts, diamonds, domain, 4)
      .groupBy("col", "row").agg(count(lit(1)).cast("double").as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap

    assert(cf == rc, {
      val only1 = cf.keySet -- rc.keySet; val only2 = rc.keySet -- cf.keySet
      val diff = (cf.keySet & rc.keySet).filter(k => cf(k) != rc(k))
      s"closed-form-only: $only1, raycast-only: $only2, count-diffs: $diff"
    })
    assert(cf.nonEmpty)
    // edge points land in TWO diamonds: total assignments strictly exceed
    // the number of DISTINCT points assigned anywhere — a symmetric
    // EDGE-out regression on both paths would keep cf == rc but fail here
    val distinctAssigned = SpatialJoin.pointInPoly(pts, diamonds, domain, 4)
      .select("pid").distinct().count()
    assert(cf.values.sum > distinctAssigned,
      s"sum=${cf.values.sum} distinct=$distinctAssigned")
  }
}
