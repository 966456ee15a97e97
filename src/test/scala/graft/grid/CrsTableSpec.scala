package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GridDesc.CoordSys

/** Bit identity of the CRS family table: the raw bits of `forward` and of
  * `inverse ∘ forward` at 16 seeded lon/lat points, for every PROJ-string
  * family and every GRIDDESC ctype, against rows recorded from the two
  * dispatch sites the table replaced (test resource
  * `graft/grid/crs_bits.tsv`). The recording leaves out the inputs those
  * sites projected wrongly — a sphere other than 6370997 m, a false origin
  * on a spherical lcc or aea, an ellipsoidal sinu — which EllipsoidalSpec
  * covers case by case. */
class CrsTableSpec extends AnyFunSuite {

  private val lines = scala.io.Source.fromResource("graft/grid/crs_bits.tsv")
    .getLines().filterNot(_.startsWith("#")).map(_.split("\t").toSeq).toSeq
  private def hex(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
  private def fromHex(h: String): Double =
    java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))
  private val points = lines.filter(_.head == "p").map(f => (fromHex(f(2)), fromHex(f(3))))
  private val keys = lines.filter(_.head == "k").map(f => f(1).toInt -> f(2))
  private val rows = lines.filter(_.head == "r").groupBy(_(1).toInt)

  /** "griddesc:<ctype>,<alpha>,<beta>,<gamma>,<xcent>,<ycent>:<Sphere|GRS80>" */
  private def griddesc(key: String): Proj = {
    val Array(_, c, e) = key.split(":")
    val v = c.split(",").map(_.toDouble)
    Proj.fromGriddesc(CoordSys("T", v(0).toInt, v(1), v(2), v(3), v(4), v(5)),
      if (e == "Sphere") Ellipsoid.Sphere else Ellipsoid.GRS80)
  }

  private def assertRecorded(ks: Seq[(Int, String)], build: String => Proj): Unit = {
    assert(points.size == 16 && ks.nonEmpty)
    val off = for ((j, key) <- ks; r <- rows(j)) yield {
      val p = build(key)
      val (lon, lat) = points(r(2).toInt)
      val (x, y) = p.forward(lon, lat)
      val (ilon, ilat) = p.inverse(x, y)
      val got = Seq(x, y, ilon, ilat).map(hex)
      if (got == r.drop(3)) None
      else Some(s"$key at point ${r(2)}: ${got.mkString(" ")} vs ${r.drop(3).mkString(" ")}")
    }
    assert(off.size == ks.size * 16)
    assert(off.flatten.isEmpty, off.flatten.take(5).mkString("; "))
  }

  test("every PROJ-string family on no ellipsoid, +a=+b=6370997, GRS80 and NAD27 keeps its bits") {
    val ks = keys.filterNot(_._2.startsWith("griddesc:"))
    // 11 families × 4 ellipsoids, less ellipsoidal sinu (GRS80, NAD27)
    assert(ks.size == 42)
    assertRecorded(ks, Proj.parse)
  }

  test("every GRIDDESC ctype 1-11 on the sphere and GRS80 keeps its bits") {
    val ks = keys.filter(_._2.startsWith("griddesc:"))
    assert(ks.map(_._2.split("[:,]")(1).toInt).distinct.sorted == (1 to 11))
    assert(ks.size == 22)
    assertRecorded(ks, griddesc)
  }
}
