package graft.grid

import org.scalatest.funsuite.AnyFunSuite

/** Ellipsoidal LCC/TMerc gates (no PROJ ships here to diff against):
  * roundtrips at 1e-9°, sphere-limit equivalence with the exact spherical
  * forms, LCC conformality, meridian arc vs numerical integration, and
  * "ellipsoid actually changes the answer" sanity. */
class EllipsoidalSpec extends AnyFunSuite {

  private val lccN = Ellipsoidal.LccE(33, 45, 40, -97, Ellipsoid.GRS80)
  private val utm16 = Proj.utm(16, 500000, 0, Ellipsoid.WGS84)

  test("ellipsoidal LCC roundtrip at 1e-9 deg (CONUS window)") {
    for (lon <- -125 to -66 by 7; lat <- 24 to 50 by 5) {
      val (x, y) = lccN.forward(lon, lat)
      val (lo, la) = lccN.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"($lon,$lat)")
    }
  }

  test("ellipsoidal TMerc roundtrip (UTM zone width at 1e-8 deg; 2x width at 1e-5)") {
    // the Snyder series is UTM's own: ~1 mm inside the +-3 deg zone
    // (1e-8 deg), truncation grows past it (both directions truncate, so
    // the roundtrip bound loosens to ~1e-5 deg at double width)
    for (dl <- -3 to 3; lat <- -72 to 72 by 9) {
      val lon = -87.0 + dl // zone 16 central meridian -87
      val (x, y) = utm16.forward(lon, lat)
      val (lo, la) = utm16.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-8 && math.abs(la - lat) < 1e-8, s"($lon,$lat)")
    }
    for (dl <- Seq(-6, 6); lat <- -72 to 72 by 18) {
      val lon = -87.0 + dl
      val (x, y) = utm16.forward(lon, lat)
      val (lo, la) = utm16.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-5 && math.abs(la - lat) < 1e-5, s"($lon,$lat)")
    }
  }

  test("sphere-limit: a=b ellipsoidal forms match the spherical closed forms") {
    val eSphere = Ellipsoid.Sphere
    val lccEll = Ellipsoidal.LccE(33, 45, 40, -97, eSphere)
    val lccSph = Proj.Lcc(33, 45, 40, -97)
    val tmEll = Ellipsoidal.TmercE(-87, eSphere)
    val tmSph = Proj.Tmerc(-87)
    for (lon <- Seq(-104.0, -97.0, -88.5); lat <- Seq(28.0, 37.25, 44.0)) {
      val (xe, ye) = lccEll.forward(lon, lat)
      val (xs, ys) = lccSph.forward(lon, lat)
      assert(math.abs(xe - xs) < 1e-5 && math.abs(ye - ys) < 1e-5,
        s"lcc sphere limit ($lon,$lat): ($xe,$ye) vs ($xs,$ys)")
    }
    // tmerc series vs exact spherical: series truncation grows with
    // distance from the central meridian — ~mm at 2 deg
    for (lon <- Seq(-88.5, -87.0, -85.5); lat <- Seq(20.0, 40.0, 60.0)) {
      val (xe, ye) = tmEll.forward(lon, lat)
      val (xs, ys) = tmSph.forward(lon, lat)
      assert(math.abs(xe - xs) < 0.01 && math.abs(ye - ys) < 0.01,
        s"tmerc sphere limit ($lon,$lat): ($xe,$ye) vs ($xs,$ys)")
    }
  }

  test("LCC is conformal: meridian scale == parallel scale, == 1 at standard parallels") {
    val d = 1e-7 // degrees
    def scales(lon: Double, lat: Double): (Double, Double) = {
      val e = Ellipsoid.GRS80
      val phi = math.toRadians(lat)
      val sin2 = math.sin(phi) * math.sin(phi)
      val rM = e.a * (1 - e.e2) / math.pow(1 - e.e2 * sin2, 1.5) // meridian radius
      val rN = e.a / math.sqrt(1 - e.e2 * sin2)                  // prime vertical
      val (x0, y0) = lccN.forward(lon, lat)
      val (x1, y1) = lccN.forward(lon, lat + d)
      val (x2, y2) = lccN.forward(lon + d, lat)
      val ds = math.toRadians(d)
      val kMer = math.hypot(x1 - x0, y1 - y0) / (rM * ds)
      val kPar = math.hypot(x2 - x0, y2 - y0) / (rN * math.cos(phi) * ds)
      (kMer, kPar)
    }
    for (lon <- Seq(-110.0, -97.0, -80.0); lat <- Seq(30.0, 39.5, 47.0)) {
      val (km, kp) = scales(lon, lat)
      assert(math.abs(km / kp - 1.0) < 1e-6, s"not conformal at ($lon,$lat): $km vs $kp")
    }
    val (k1, _) = scales(-97, 33)
    val (k2, _) = scales(-97, 45)
    assert(math.abs(k1 - 1.0) < 1e-6 && math.abs(k2 - 1.0) < 1e-6,
      s"scale at standard parallels: $k1, $k2")
  }

  test("meridian-arc series matches numerical integration to 1e-3 m") {
    val e = Ellipsoid.WGS84
    def integrand(phi: Double): Double =
      e.a * (1 - e.e2) / math.pow(1 - e.e2 * math.sin(phi) * math.sin(phi), 1.5)
    def simpson(hi: Double, n: Int): Double = {
      val h = hi / n
      var s = integrand(0) + integrand(hi)
      for (i <- 1 until n)
        s += (if (i % 2 == 1) 4 else 2) * integrand(i * h)
      s * h / 3
    }
    for (latDeg <- Seq(15.0, 40.0, 75.0)) {
      val phi = math.toRadians(latDeg)
      val series = Ellipsoidal.meridianArc(phi, e)
      val num = simpson(phi, 20000)
      // Snyder 3-21 truncates at e^6: inherent error ~1e-4 m on WGS84
      assert(math.abs(series - num) < 1e-3, s"lat $latDeg: $series vs $num")
    }
  }

  test("projOf dispatches to ellipsoidal forms on +ellps / non-spherical +a,+b") {
    assert(Proj.parse("+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97,+ellps=GRS80")
      .isInstanceOf[Ellipsoidal.LccE])
    assert(Proj.parse("+proj=utm,+zone=16,+ellps=WGS84")
      .isInstanceOf[Ellipsoidal.TmercE])
    assert(Proj.parse("+proj=tmerc,+lon_0=-87,+a=6378206.4,+b=6356583.8")
      .isInstanceOf[Ellipsoidal.TmercE])
    // spherical +a=+b (the reference catalogs' "+a=6370997.0,+b=6370997.0")
    // stays on the exact spherical closed forms
    assert(Proj.parse("+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97,+a=6370997.0,+b=6370997.0")
      .isInstanceOf[Proj.Lcc])
  }

  test("the ellipsoid genuinely changes projected coordinates (not a no-op)") {
    val sph = Ellipsoidal.LccE(33, 45, 40, -97, Ellipsoid.Sphere)
    val (xg, yg) = lccN.forward(-90, 37)
    val (xs, ys) = sph.forward(-90, 37)
    assert(math.hypot(xg - xs, yg - ys) > 1000.0, "GRS80 vs sphere differ by km-scale")
  }

  // ------------------------------------------- round-3 ellipsoidal families

  private def roundTrip(p: Proj, lons: Range, lats: Range, tol: Double): Unit =
    for (lon <- lons; lat <- lats) {
      val (x, y) = p.forward(lon, lat)
      val (lo, la) = p.inverse(x, y)
      assert(math.abs(lo - lon) < tol && math.abs(la - lat) < tol,
        s"${p.name} ($lon,$lat) -> ($lo,$la)")
    }

  test("AEA/LAEA/Stere/PolarStere/Merc ellipsoidal roundtrips at 1e-9 deg") {
    for (ell <- Seq(Ellipsoid.GRS80, Ellipsoid.Clarke1866)) {
      roundTrip(Ellipsoidal.AeaE(29.5, 45.5, 23, -96, ell),
        -125 to -66 by 7, 24 to 50 by 5, 1e-9)
      roundTrip(Ellipsoidal.LaeaE(45, -100, ell),
        -130 to -60 by 10, 20 to 60 by 8, 1e-9)
      roundTrip(Ellipsoidal.StereE(40, -97, ell),
        -120 to -70 by 10, 25 to 55 by 6, 1e-9)
      roundTrip(Ellipsoidal.PolarStereE(60, -100, ell),
        -170 to 170 by 40, 40 to 88 by 8, 1e-9)
      roundTrip(Ellipsoidal.PolarStereE(-60, 0, ell),
        -170 to 170 by 40, -88 to -40 by 8, 1e-9)
      roundTrip(Ellipsoidal.MercE.atTs(30, -90, ell),
        -150 to -30 by 15, -70 to 70 by 10, 1e-9)
    }
  }

  test("sphere-limit: new ellipsoidal forms match spherical closed forms") {
    val e = Ellipsoid.Sphere
    val pairs: Seq[(Proj, Proj)] = Seq(
      Ellipsoidal.AeaE(29.5, 45.5, 23, -96, e) -> Proj.Aea(29.5, 45.5, 23, -96),
      Ellipsoidal.LaeaE(45, -100, e) -> Proj.Laea(45, -100),
      Ellipsoidal.StereE(40, -97, e) -> Proj.Stere(40, -97),
      Ellipsoidal.PolarStereE(60, -100, e) -> Proj.PolarStere(60, -100),
      Ellipsoidal.MercE.atTs(30, -90, e) -> Proj.Merc2SP(30, -90))
    for ((pe, ps) <- pairs; lon <- Seq(-110.0, -97.0, -80.0);
         lat <- Seq(30.0, 39.5, 47.0)) {
      val (xe, ye) = pe.forward(lon, lat)
      val (xs, ys) = ps.forward(lon, lat)
      assert(math.abs(xe - xs) < 1e-4 && math.abs(ye - ys) < 1e-4,
        s"${pe.name} sphere limit ($lon,$lat): ($xe,$ye) vs ($xs,$ys)")
    }
  }

  test("AEA and LAEA are equal-area: projected quad area == ellipsoidal zone area") {
    // area on the ellipsoid between lats and lons is a²·Δλ·(q2−q1)/2 — the
    // defining property of q (Snyder 3-12)
    val ell = Ellipsoid.GRS80
    for (p <- Seq[Proj](Ellipsoidal.AeaE(29.5, 45.5, 23, -96, ell),
                        Ellipsoidal.LaeaE(45, -100, ell))) {
      val (lon0, lon1, lat0, lat1) = (-98.0, -97.0, 37.0, 38.0)
      val nSeg = 200
      // densified quad boundary, CCW
      val pts = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      for (i <- 0 until nSeg) pts += ((lon0 + (lon1 - lon0) * i / nSeg, lat0))
      for (i <- 0 until nSeg) pts += ((lon1, lat0 + (lat1 - lat0) * i / nSeg))
      for (i <- 0 until nSeg) pts += ((lon1 - (lon1 - lon0) * i / nSeg, lat1))
      for (i <- 0 until nSeg) pts += ((lon0, lat1 - (lat1 - lat0) * i / nSeg))
      val proj = pts.map { case (lo, la) => p.forward(lo, la) }
      var area = 0.0
      for (i <- proj.indices) {
        val (x1, y1) = proj(i)
        val (x2, y2) = proj((i + 1) % proj.length)
        area += x1 * y2 - x2 * y1
      }
      area = math.abs(area) / 2
      val dLam = math.toRadians(lon1 - lon0)
      val want = ell.a * ell.a * dLam *
        (Ellipsoidal.qFun(math.toRadians(lat1), ell) -
         Ellipsoidal.qFun(math.toRadians(lat0), ell)) / 2
      assert(math.abs(area / want - 1.0) < 1e-6,
        s"${p.name}: projected $area vs ellipsoidal $want")
    }
  }

  test("SinuE: roundtrip, sphere limit, and the equal-area property") {
    for (ell <- Seq(Ellipsoid.GRS80, Ellipsoid.Clarke1866))
      roundTrip(Ellipsoidal.SinuE(-100, ell),
        -150 to -50 by 10, -70 to 70 by 10, 1e-9)
    // sphere limit: a=b matches the spherical closed form (Snyder 30-1/30-2)
    val s = Ellipsoid.Sphere
    for (lon <- Seq(-110.0, -97.0, -80.0); lat <- Seq(-30.0, 10.0, 47.0)) {
      val (xe, ye) = Ellipsoidal.SinuE(-100, s).forward(lon, lat)
      val (xs, ys) = Proj.Sinu(-100).forward(lon, lat)
      assert(math.abs(xe - xs) < 1e-4 && math.abs(ye - ys) < 1e-4,
        s"sinu sphere limit ($lon,$lat): ($xe,$ye) vs ($xs,$ys)")
    }
    // equal-area: projected quad area equals the ellipsoidal zone area
    // a²·Δλ·(q2−q1)/2 (Snyder 3-12) — same gate as AEA/LAEA
    val ell = Ellipsoid.GRS80
    val p = Ellipsoidal.SinuE(-100, ell)
    val (lon0, lon1, lat0, lat1) = (-98.0, -97.0, 37.0, 38.0)
    val nSeg = 200
    val pts = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (i <- 0 until nSeg) pts += ((lon0 + (lon1 - lon0) * i / nSeg, lat0))
    for (i <- 0 until nSeg) pts += ((lon1, lat0 + (lat1 - lat0) * i / nSeg))
    for (i <- 0 until nSeg) pts += ((lon1 - (lon1 - lon0) * i / nSeg, lat1))
    for (i <- 0 until nSeg) pts += ((lon0, lat1 - (lat1 - lat0) * i / nSeg))
    val proj = pts.map { case (lo, la) => p.forward(lo, la) }
    var area = 0.0
    for (i <- proj.indices) {
      val (x1, y1) = proj(i)
      val (x2, y2) = proj((i + 1) % proj.length)
      area += x1 * y2 - x2 * y1
    }
    area = math.abs(area) / 2
    val want = ell.a * ell.a * math.toRadians(lon1 - lon0) *
      (Ellipsoidal.qFun(math.toRadians(lat1), ell) -
       Ellipsoidal.qFun(math.toRadians(lat0), ell)) / 2
    assert(math.abs(area / want - 1.0) < 1e-6,
      s"sinu_e: projected $area vs ellipsoidal $want")
  }

  test("StereE and MercE are conformal on the ellipsoid") {
    val ell = Ellipsoid.GRS80
    val d = 1e-7
    def scales(p: Proj, lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val sin2 = math.sin(phi) * math.sin(phi)
      val rM = ell.a * (1 - ell.e2) / math.pow(1 - ell.e2 * sin2, 1.5)
      val rN = ell.a / math.sqrt(1 - ell.e2 * sin2)
      val (x0, y0) = p.forward(lon, lat)
      val (x1, y1) = p.forward(lon, lat + d)
      val (x2, y2) = p.forward(lon + d, lat)
      val ds = math.toRadians(d)
      (math.hypot(x1 - x0, y1 - y0) / (rM * ds),
       math.hypot(x2 - x0, y2 - y0) / (rN * math.cos(phi) * ds))
    }
    for (p <- Seq[Proj](Ellipsoidal.StereE(40, -97, ell),
                        Ellipsoidal.PolarStereE(60, -100, ell),
                        Ellipsoidal.MercE.atTs(30, -90, ell));
         lon <- Seq(-110.0, -90.0); lat <- Seq(35.0, 50.0, 65.0)) {
      val (km, kp) = scales(p, lon, lat)
      assert(math.abs(km / kp - 1.0) < 1e-6,
        s"${p.name} not conformal at ($lon,$lat): $km vs $kp")
    }
    // true scale at the standard parallels
    val (kM, _) = scales(Ellipsoidal.MercE.atTs(30, -90, ell), -90, 30)
    assert(math.abs(kM - 1.0) < 1e-6)
    val (kP, _) = scales(Ellipsoidal.PolarStereE(60, -100, ell), -100, 60)
    assert(math.abs(kP - 1.0) < 1e-6)
  }

  test("ellipsoid catalog: all Table 3 names resolve with sane flattening") {
    assert(Ellipsoid.byName.size == 42) // 41 PROJ entries + the default sphere
    Ellipsoid.byName.foreach { case (n, e) =>
      assert(e.a >= e.b && e.a > 6e6 && e.a < 6.5e6, s"$n: a=${e.a}")
      assert(e.f >= 0 && e.f < 1.0 / 190.0, s"$n: f=${e.f}")
    }
    assert(Ellipsoid.byName("intl").a == 6378388.0)
    assert(Ellipsoid.byName("krass").a == 6378245.0)
  }

  test("ellipsoid spec parse: +ellps, +datum, +a/+b, +a/+rf") {
    assert(Ellipsoid.parse("+ellps=GRS80") == Ellipsoid.GRS80)
    assert(Ellipsoid.parse("+datum=NAD27") == Ellipsoid.Clarke1866)
    assert(Ellipsoid.parse("+datum=NAD83") == Ellipsoid.GRS80)
    assert(Ellipsoid.parse("+a=6378206.4,+b=6356583.8") == Ellipsoid.Clarke1866)
    assert(Ellipsoid.parse("+a=6378137.0,+rf=298.257222101") == Ellipsoid.GRS80)
    assert(Ellipsoid.parse("+a=6370000.0,+b=6370000.0").isSphere) // WRF sphere
    intercept[IllegalArgumentException](Ellipsoid.parse("+ellps=NOPE"))
    intercept[IllegalArgumentException](Ellipsoid.parse("nothing=here"))
  }

  test("projOf dispatches the new ellipsoidal families") {
    assert(Proj.parse("+proj=aea,+lat_1=29.5,+lat_2=45.5,+lat_0=23,+lon_0=-96,+ellps=GRS80")
      .isInstanceOf[Ellipsoidal.AeaE])
    assert(Proj.parse("+proj=laea,+lat_0=45,+lon_0=-100,+datum=NAD83")
      .isInstanceOf[Ellipsoidal.LaeaE])
    assert(Proj.parse("+proj=stere,+lat_0=40,+lon_0=-97,+ellps=WGS84")
      .isInstanceOf[Ellipsoidal.StereE])
    assert(Proj.parse("+proj=stere,+lat_ts=60,+lon_0=-100,+ellps=WGS84")
      .isInstanceOf[Ellipsoidal.PolarStereE])
    assert(Proj.parse("+proj=merc,+lat_ts=30,+lon_0=-90,+ellps=intl")
      .isInstanceOf[Ellipsoidal.MercE])
    // spherical +a=+b stays on exact spherical forms
    assert(Proj.parse("+proj=aea,+lat_1=29.5,+lat_2=45.5,+lat_0=23,+lon_0=-96,+a=6370000.0,+b=6370000.0")
      .isInstanceOf[Proj.Aea])
  }

  test("a sphere other than 6370997 m projects at its own radius (+a=+b, +a alone, OUTPUT_FILE_ELLIPSOID)") {
    // on a sphere every projected coordinate scales with the radius; the
    // WRF sphere (6370000 m) is 1.6e-4 smaller, ~250 m at these points
    val lcc = "+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97"
    val aea = "+proj=aea,+lat_1=29.5,+lat_2=45.5,+lat_0=23,+lon_0=-96"
    val k = 6370000.0 / Proj.R
    val wrf = Ellipsoid.parse("+a=6370000.0,+b=6370000.0")
    val cases = Seq(
      Proj.parse(lcc) -> Proj.parse(lcc + ",+a=6370000,+b=6370000"),
      Proj.parse(lcc) -> Proj.parse(lcc + ",+a=6370000"),
      Proj.parse(aea) -> Proj.parse(aea + ",+a=6370000.0,+b=6370000.0"),
      // SrgToolCsv's OUTPUT_FILE_ELLIPSOID reaches the GRIDDESC forms
      Proj.parse(lcc) -> Proj.fromGriddesc(
        graft.sources.GridDesc.CoordSys("LAM", 2, 33, 45, -97, -97, 40), wrf))
    for ((ref, p) <- cases; (lon, lat) <- Seq((-80.0, 30.0), (-120.0, 48.0))) {
      val (xr, yr) = ref.forward(lon, lat)
      val (x, y) = p.forward(lon, lat)
      assert(math.abs(x - k * xr) < 1e-6 && math.abs(y - k * yr) < 1e-6,
        s"${p.name} ($lon,$lat): ($x,$y) vs ${(k * xr, k * yr)}")
      val (lo, la) = p.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9)
    }
  }

  test("+x_0/+y_0 shift lcc and aea on a sphere as on an ellipsoid") {
    for (base <- Seq("+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97",
                     "+proj=aea,+lat_1=29.5,+lat_2=45.5,+lat_0=23,+lon_0=-96");
         ell <- Seq("", ",+ellps=GRS80")) {
      val p = Proj.parse(base + ell)
      val shifted = Proj.parse(base + ",+x_0=1500000,+y_0=-250000" + ell)
      val (x, y) = p.forward(-90, 37)
      val (xs, ys) = shifted.forward(-90, 37)
      assert(math.abs(xs - x - 1500000) < 1e-6 && math.abs(ys - y + 250000) < 1e-6,
        s"$base$ell: ($xs,$ys) vs ($x,$y)")
      val (lo, la) = shifted.inverse(xs, ys)
      assert(math.abs(lo + 90) < 1e-9 && math.abs(la - 37) < 1e-9, s"$base$ell")
    }
  }

  test("+proj=sinu with an ellipsoid selects the ellipsoidal sinusoidal") {
    val p = Proj.parse("+proj=sinu,+lon_0=-100,+x_0=70,+y_0=80,+ellps=WGS84")
    assert(p == Ellipsoidal.SinuE(-100, Ellipsoid.WGS84, 70, 80))
    // the same CRS as GRIDDESC ctype 11 on that ellipsoid
    assert(p == Proj.fromGriddesc(
      graft.sources.GridDesc.CoordSys("SIN", 11, -100, 70, 80, 0, 0), Ellipsoid.WGS84))
  }
}
