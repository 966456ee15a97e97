package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cells.CellDomain
import graft.spark.GeoFunctions._

/** Native codegen expressions must agree exactly with their UDF twins (which
  * wrap the property-tested pure-Scala kernels) on randomized inputs, and
  * must run inside WholeStageCodegen. */
class GeoExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("geoexpr-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val domain = CellDomain(0, 0, 8192, 8192)

  test("native cell_encode equals the UDF on 10k random points") {
    val pts = spark.range(10000).toDF("i")
      .withColumn("x", expr("CAST((i * 48271) % 8192 AS DOUBLE) + 0.25"))
      .withColumn("y", expr("CAST((i * 16807) % 8192 AS DOUBLE) + 0.75"))
    val diff = pts
      .withColumn("a", cellEncode(col("x"), col("y"), domain, 7))
      .withColumn("b", cellEncodeUdf(col("x"), col("y"), domain, 7))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native pip_status equals the UDF on random points vs a holed polygon") {
    import spark.implicits._
    // square with a square hole; points on a lattice hit IN/OUT/EDGE/VTX
    val poly = Seq(Seq(0.0, 0, 100, 0, 100, 100, 0, 100),
                   Seq(40.0, 40, 60, 40, 60, 60, 40, 60))
    val pts = spark.range(20000).toDF("i")
      .withColumn("x", expr("CAST((i * 131) % 2200 AS DOUBLE) / 20 - 5"))
      .withColumn("y", expr("CAST((i * 137) % 2200 AS DOUBLE) / 20 - 5"))
      .withColumn("geom", typedLit(poly))
    val diff = pts
      .withColumn("a", pipStatus(col("x"), col("y"), col("geom")))
      .withColumn("b", pipStatusUdf(col("x"), col("y"), col("geom")))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
    // sanity: all four classes appear in this lattice
    val classes = pts
      .withColumn("a", pipStatus(col("x"), col("y"), col("geom")))
      .select("a").distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(classes.contains(0) && classes.contains(1))
  }

  test("pip_status runs inside WholeStageCodegen") {
    import spark.implicits._
    val poly = Seq(Seq(0.0, 0, 10, 0, 10, 10, 0, 10))
    val df = spark.range(10).toDF("i")
      .withColumn("x", col("i").cast("double"))
      .withColumn("geom", typedLit(poly))
      .withColumn("s", pipStatus(col("x"), col("x"), col("geom")))
      .where(col("s") === 1)
    // "*(n)" node prefixes mark WholeStageCodegen membership
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter (pip_status("), s"pip not in codegen span:\n$plan")
    assert(df.count() > 0)
  }

  test("vertexMeanCentroid equals Geo.vertexMeanCentroid bit for bit; no ring is NULL") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(16)
    def ring(n: Int, closed: Boolean): Seq[Double] = {
      val pts = Seq.fill(n)(Seq(rnd.nextDouble() * 1e4 - 5e3, rnd.nextDouble() * 1e4))
      (if (closed) pts :+ pts.head else pts).flatten
    }
    // outer rings of 1-12 vertices, closed or not, with 0-2 holes
    val polys = (0 until 400).map { i =>
      ring(1 + rnd.nextInt(12), closed = i % 2 == 0) +:
        Seq.fill(i % 3)(ring(3 + rnd.nextInt(4), closed = i % 4 < 2))
    }
    val (x, y) = vertexMeanCentroid(col("geom"))
    val got = polys.zipWithIndex.toDF("geom", "i").select(col("i"), x, y).collect()
    def raw(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    got.foreach { r =>
      val poly = polys(r.getInt(0))
      val (cx, cy) = graft.geom.Geo.vertexMeanCentroid(poly.map(_.toArray).toArray)
      assert((raw(r.getDouble(1)), raw(r.getDouble(2))) == ((raw(cx), raw(cy))), poly)
    }
    assert(got.length == 400)
    // a polygon with no rings, an empty outer ring or no geometry at all
    val none = Seq(Some(Seq.empty[Seq[Double]]), Some(Seq(Seq.empty[Double])), None)
      .toDF("geom").select(x.as("x"), y.as("y")).collect()
    assert(none.forall(r => r.isNullAt(0) && r.isNullAt(1)), none.toSeq)
  }
}
