package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo
import graft.sources.Sources

/** The polygon county stage feeds every target, so the grid target and
  * the cell-polygon target over the same grid's materialized cells must
  * give the same surrogate: same (fips, col, row) cells, and frac, numer
  * and denom equal within 1e-9 relative. */
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
      val onCells = cells(Surrogate.surrogateToCellPolys(tracts, counties,
        Sources.regularGrid(spark, g), d, z, srgCode = 1, kind = "Polygon",
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
}
