package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** A polygon with no rings (`geom = []`) covers no cell, has an empty grid
  * cover and joins nothing, on either side of a spatial join: every
  * operator's output is the output without that row, as for a zero-area
  * weight polygon. */
class EmptyPolygonSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").appName("empty-polygon-spec").getOrCreate()

  override def afterAll(): Unit = {
    graft.spark.PersistTracker.drain()
    spark.stop()
  }

  private val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)
  private val noRings = Seq.empty[Seq[Double]]

  private def square(x0: Double, y0: Double, e: Double): Seq[Seq[Double]] =
    Seq(Seq(x0, y0, x0 + e, y0, x0 + e, y0 + e, x0, y0 + e))

  private def counties = TpchGeo.counties(spark)
  private def countiesWithEmpty = {
    val s = spark
    import s.implicits._
    counties.union(Seq(("47999", noRings)).toDF("fips", "geom"))
  }

  /** Weight polygons straddling county edges, each with an integer weight. */
  private def weights(withEmpty: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val polys = Seq((square(1500, 1500, 1000), 3), (square(3700, 300, 600), 5),
      (square(5000, 5000, 2500), 7))
    (if (withEmpty) polys :+ (noRings -> 11) else polys).toDF("geom", "w")
  }

  private def rows(df: DataFrame): Set[String] = {
    val out = df.collect().map(_.toString)
    graft.spark.PersistTracker.drain()
    out.toSet
  }

  test("pointInPoly: a county with no rings joins no point") {
    val s = spark
    import s.implicits._
    val pts = (for { i <- 0 until 16; j <- 0 until 16 } yield
      (i * 500.0 + 137, j * 500.0 + 261)).toDF("x", "y")
    val want = rows(SpatialJoin.pointInPoly(pts, counties, d, z))
    assert(want.size == 256)
    assert(rows(SpatialJoin.pointInPoly(pts, countiesWithEmpty, d, z)) == want)
  }

  test("polyPolyFragments: no fragment from a polygon with no rings on either side") {
    val b = (c: DataFrame) => c.withColumnRenamed("geom", "bgeom")
    val want = rows(SpatialJoin.polyPolyFragments(weights(withEmpty = false), b(counties), d, z))
    assert(want.nonEmpty)
    assert(rows(SpatialJoin.polyPolyFragments(
      weights(withEmpty = true), b(countiesWithEmpty), d, z)) == want)
  }

  test("Allocate.allocate: an input polygon with no rings allocates nothing") {
    val s = spark
    import s.implicits._
    val out = Seq((1, square(0, 0, 4000)), (2, square(4000, 0, 4000)),
      (3, square(0, 4000, 8000))).toDF("out_id", "geom")
    val alloc = (w: DataFrame) =>
      Allocate.allocate(w, out, Seq("w" -> Allocate.Aggregate), d, z)
    val want = rows(alloc(weights(withEmpty = false)))
    assert(want.size == 3)
    assert(rows(alloc(weights(withEmpty = true))) == want)
  }

  test("Allocate.allocate: an output polygon with no rings has no centroid and allocates nothing") {
    val s = spark
    import s.implicits._
    val out = Seq((1, square(0, 0, 4000)), (2, square(4000, 0, 4000)),
      (3, square(0, 4000, 8000))).toDF("out_id", "geom")
    val outWithEmpty = out.union(Seq((4, noRings)).toDF("out_id", "geom"))
    val input = weights(withEmpty = false).withColumn("c", $"w" * 2)
    Seq(Seq("w" -> Allocate.DiscreteCentroid),
        Seq("c" -> Allocate.Aggregate, "w" -> Allocate.DiscreteCentroid)).foreach { modes =>
      val alloc = (o: DataFrame) => Allocate.allocate(input, o, modes, d, z)
      val want = rows(alloc(out))
      assert(want.nonEmpty)
      assert(rows(alloc(outWithEmpty)) == want, modes)
    }
  }

  test("polySurrogate: weight polygons and counties with no rings drop out") {
    val srg = (w: DataFrame, c: DataFrame) =>
      Surrogate.polySurrogate(w, c, g, d, z, srgCode = 7, weight = Some("w"))
    val want = rows(srg(weights(withEmpty = false), counties))
    assert(want.nonEmpty)
    assert(rows(srg(weights(withEmpty = true), countiesWithEmpty)) == want)
  }
}
