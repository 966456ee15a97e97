package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GridDesc

/** Forward/inverse roundtrips at 1e-9° for every GRIDDESC family (types
  * 1-11), known-value sanity anchors, and the ctype dispatch. */
class ProjectionSpec extends AnyFunSuite {

  private val lons = (-170 to 170 by 17).map(_.toDouble) ++ Seq(-97.5, -63.25, 12.125)
  private val lats = (-80 to 80 by 13).map(_.toDouble) ++ Seq(33.5, 45.125, -41.75)

  private def roundtrip(p: Proj, tol: Double = 1e-9,
                        lonFilter: Double => Boolean = _ => true,
                        latFilter: Double => Boolean = _ => true): Unit = {
    for (lon <- lons if lonFilter(lon); lat <- lats if latFilter(lat)) {
      val (x, y) = p.forward(lon, lat)
      val (lon2, lat2) = p.inverse(x, y)
      assert(math.abs(lon2 - lon) < tol && math.abs(lat2 - lat) < tol,
        s"${p.name}: ($lon,$lat) -> ($x,$y) -> ($lon2,$lat2)")
    }
  }

  test("lcc roundtrip")   { roundtrip(Proj.Lcc(33, 45, 40, -97)) }
  test("merc 1SP roundtrip (k0 + false origin)") {
    roundtrip(Proj.Mercator(-90, 0.94, 250000, -100000))
  }
  test("merc 2SP roundtrip") { roundtrip(Proj.Merc2SP(30, -90, 1000, 2000)) }
  test("oblique stereographic roundtrip") {
    // exclude the antipode of the projection center (undefined there)
    roundtrip(Proj.Stere(40, -97, 1.0, 10000, -5000), lonFilter = l => math.abs(l - 83) > 20)
  }
  test("polar stereographic roundtrip, north and south aspects") {
    roundtrip(Proj.PolarStere(60, -100, 1.0, 3000, 4000), latFilter = _ > -85)
    roundtrip(Proj.PolarStere(-71, 15), latFilter = _ < 85)
  }
  test("tmerc with lat_0 roundtrip") {
    roundtrip(Proj.Tmerc(-97, 0.9996, 500000, 0, 40),
      lonFilter = l => math.abs(l - -97) < 40)
  }
  test("laea roundtrip") {
    roundtrip(Proj.Laea(52, 10, 4321000, 3210000), lonFilter = l => math.abs(l - -170) > 15)
  }
  test("aea roundtrip") { roundtrip(Proj.Aea(29.5, 45.5, 23, -96)) }
  test("sinu roundtrip") { roundtrip(Proj.Sinu(-90, 100, 200)) }

  test("known-value anchors (Snyder closed forms)") {
    val R = Proj.R
    // sinusoidal at the equator: x = R * delta-lambda in radians
    val (sx, sy) = Proj.Sinu(0).forward(90, 0)
    assert(math.abs(sx - R * math.Pi / 2) < 1e-6 && math.abs(sy) < 1e-12)
    // polar stereographic: true scale at lat_ts (ratio of projected to
    // great-circle distance along the standard parallel ~ 1)
    val ps = Proj.PolarStere(60, 0)
    val (x1, y1) = ps.forward(0, 60)
    val rho = math.sqrt(x1 * x1 + y1 * y1)
    assert(math.abs(rho - R * math.cos(math.toRadians(60)) *
      (1 + math.sin(math.toRadians(60))) / (1 + math.sin(math.toRadians(60)))) < 1e-6 ||
      rho > 0) // rho = R cos(60) exactly on the sphere with kPole=(1+sin ts)/2
    assert(math.abs(rho - R * math.cos(math.toRadians(60))) < 1e-6)
    // aea is equal-area: the projected area scale at (lon0, lat1) is 1 —
    // check via a tiny quad around the standard parallel
    val aea = Proj.Aea(29.5, 45.5, 23, -96)
    val d = 1e-4
    val pts = Seq((-96 - d, 29.5 - d), (-96 + d, 29.5 - d), (-96 + d, 29.5 + d), (-96 - d, 29.5 + d))
      .map { case (lo, la) => aea.forward(lo, la) }
    val projArea = math.abs(graft.geom.Geo.signedArea(pts.flatMap(p => Seq(p._1, p._2)).toArray))
    val trueArea = (2 * d * math.Pi / 180) * (2 * d * math.Pi / 180) *
      R * R * math.cos(math.toRadians(29.5))
    assert(math.abs(projArea / trueArea - 1.0) < 1e-6, s"$projArea vs $trueArea")
    // laea preserves area too
    val laea = Proj.Laea(52, 10)
    val pts2 = Seq((10 - d, 52 - d), (10 + d, 52 - d), (10 + d, 52 + d), (10 - d, 52 + d))
      .map { case (lo, la) => laea.forward(lo, la) }
    val projArea2 = math.abs(graft.geom.Geo.signedArea(pts2.flatMap(p => Seq(p._1, p._2)).toArray))
    val trueArea2 = (2 * d * math.Pi / 180) * (2 * d * math.Pi / 180) *
      R * R * math.cos(math.toRadians(52))
    assert(math.abs(projArea2 / trueArea2 - 1.0) < 1e-6)
  }

  test("GRIDDESC ctype dispatch covers all 11 families") {
    val gd =
      """! coords
        |'LL'
        |1, 0, 0, 0, 0, 0
        |'LAM'
        |2, 33, 45, -97, -97, 40
        |'MER1'
        |3, -90, 1, 0, 0, 0
        |'MER2'
        |4, 30, -90, 0, 0, 0
        |'STE'
        |5, 40, -97, 0, 0, 0
        |'UTM16'
        |6, 16, 500000, 0, 0, 0
        |'POL'
        |7, 60, -100, 1, 0, 0
        |'TRM'
        |8, 40, -97, 0.9996, 500000, 0
        |'LAE'
        |9, 52, 10, 0, 0, 0
        |'ALB'
        |10, 29.5, 45.5, -96, -96, 23
        |'SIN'
        |11, -90, 0, 0, 0, 0
        |' '
        |'G1'
        |'LAM', 0, 0, 1000, 1000, 8, 8, 1
        |' '""".stripMargin
    val cat = GridDesc.parse(gd)
    val expect = Map("LL" -> "latlon", "LAM" -> "lcc", "MER1" -> "merc",
      "MER2" -> "merc2sp", "STE" -> "stere", "UTM16" -> "tmerc",
      "POL" -> "polar_stere", "TRM" -> "tmerc", "LAE" -> "laea",
      "ALB" -> "aea", "SIN" -> "sinu")
    expect.foreach { case (n, fam) =>
      val p = Proj.fromGriddesc(cat.coords(n), Ellipsoid.Sphere)
      assert(p.name == fam, s"$n -> ${p.name}")
      if (n != "LL") {
        val (x, y) = p.forward(-96.5, 38.25)
        val (lo, la) = p.inverse(x, y)
        assert(math.abs(lo - -96.5) < 1e-9 && math.abs(la - 38.25) < 1e-9, n)
      }
    }
    // UTM zone 16 central meridian is -87
    val utm = Proj.fromGriddesc(cat.coords("UTM16"), Ellipsoid.Sphere).asInstanceOf[Proj.Tmerc]
    assert(utm.lon0 == -87.0)
  }
}
