package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** USE_CURVED_LINES must change the numbers: great-circle fragment ratios
  * diverge from planar ones (asin nonlinearity + cos(lat) weighting), and
  * the curved pipeline must stay internally consistent. */
class CurvedLinesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("curved-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fracs(curved: Boolean): Map[(String, Int, Int), Double] =
    Surrogate.lineSurrogate(TpchGeo.roadsLL(spark, sfDir),
        TpchGeo.countiesLL(spark), TpchGeo.gridLL, TpchGeo.domainLL,
        TpchGeo.zres, 250, curved = curved)
      .collect()
      .map(r => (r.getAs[String]("fips"), r.getAs[Int]("col"),
                 r.getAs[Int]("row")) -> r.getAs[Double]("frac")).toMap

  test("curved and planar line surrogates share keys but differ in fracs") {
    val planar = fracs(curved = false)
    val curved = fracs(curved = true)
    assert(planar.keySet == curved.keySet, "same fragments either way")
    assert(planar.nonEmpty)
    // only split segments diverge; whole-segment-in-one-cell rows have
    // frac = len/len in both modes. The asin nonlinearity on a θ ≤ 2.048°
    // span is O(θ²/6) ≈ 1e-7 relative — require a divergence of that order
    // (double noise is ~1e-16, so 5e-8 cleanly separates signal from noise).
    val maxDiff = planar.keys.map(k => math.abs(planar(k) - curved(k))).max
    assert(maxDiff > 5e-8, s"curved mode did not change any frac (max diff $maxDiff)")
  }

  test("curved great-circle lengths are plausible meters (0.512 deg ~ 50km)") {
    import spark.implicits._
    val one = Seq(Seq(1.0, 4.5005, 1.512, 4.5005)).toDF("l")
    val m = one.select(graft.spark.GeoFunctions.lineLength(col("l"), curved = true))
      .collect().head.getDouble(0)
    // R*radians(0.512)*cos(4.5deg) within 0.1%
    val expect = 6370997.0 * math.toRadians(0.512) * math.cos(math.toRadians(4.5005))
    assert(math.abs(m / expect - 1.0) < 1e-3, s"$m vs $expect")
  }
}
