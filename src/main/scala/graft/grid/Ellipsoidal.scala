package graft.grid

/** Ellipsoidal projection support — the reference reprojects real-world
  * shapefiles through PROJ with per-layer ellipsoids (catalog column
  * `"+a=…,+b=…"`, mims_spatl_proj.c:109-360; the docs list ~40 ellipsoids,
  * SA_ch03_vector.md:466-582). GRIDDESC grids stay spherical (the I/O API
  * assumes a sphere), so the ellipsoidal forms matter on the INPUT side:
  * NAD83/GRS80 state-plane LCC and WGS84/Clarke-1866 UTM layers.
  *
  * Forms are Snyder 1987 closed series: LCC eq. 15-1..15-11, Transverse
  * Mercator eq. 8-9..8-25 (the standard UTM series). Correctness gates
  * (no PROJ exists in this environment to diff against): forward∘inverse
  * roundtrips at 1e-9°, sphere-limit equivalence with the exact spherical
  * forms, conformality of LCC (equal meridian/parallel scale), and the
  * meridian-arc series checked against direct numerical integration.
  */
final case class Ellipsoid(a: Double, b: Double) {
  val f: Double = (a - b) / a
  val e2: Double = f * (2.0 - f)
  val e: Double = math.sqrt(e2)
  def isSphere: Boolean = a == b
}

object Ellipsoid {
  private def rf(a: Double, invF: Double) = Ellipsoid(a, a * (1.0 - 1.0 / invF))

  val Sphere = Ellipsoid(Proj.R, Proj.R) // the reference default
  val GRS80 = rf(6378137.0, 298.257222101)
  val WGS84 = rf(6378137.0, 298.257223563)
  val Clarke1866 = Ellipsoid(6378206.4, 6356583.8)

  /** The reference's full named-ellipse table (the standard PROJ list,
    * SA_ch03_vector.md:528-571 "Table 3. Valid projection ellipse
    * specifications") — each entry is just (a, b) or (a, 1/f). */
  val byName: Map[String, Ellipsoid] = Map(
    "sphere" -> Sphere,
    "MERIT" -> rf(6378137.0, 298.257),
    "SGS85" -> rf(6378136.0, 298.257),
    "GRS80" -> GRS80,
    "IAU76" -> rf(6378140.0, 298.257),
    "airy" -> Ellipsoid(6377563.396, 6356256.910),
    "APL4.9" -> rf(6378137.0, 298.25),
    "NWL9D" -> rf(6378145.0, 298.25),
    "mod_airy" -> Ellipsoid(6377340.189, 6356034.446),
    "andrae" -> rf(6377104.43, 300.0),
    "aust_SA" -> rf(6378160.0, 298.25),
    "GRS67" -> rf(6378160.0, 298.2471674270),
    "bessel" -> rf(6377397.155, 299.1528128),
    "bess_nam" -> rf(6377483.865, 299.1528128),
    "clrk66" -> Clarke1866,
    "clrk80" -> rf(6378249.145, 293.4663),
    "CPM" -> rf(6375738.7, 334.29),
    "delmbr" -> rf(6376428.0, 311.5),
    "engelis" -> rf(6378136.05, 298.2566),
    "evrst30" -> rf(6377276.345, 300.8017),
    "evrst48" -> rf(6377304.063, 300.8017),
    "evrst56" -> rf(6377301.243, 300.8017),
    "evrst69" -> rf(6377295.664, 300.8017),
    "evrstSS" -> rf(6377298.556, 300.8017),
    "fschr60" -> rf(6378166.0, 298.3),
    "fschr60m" -> rf(6378155.0, 298.3),
    "fschr68" -> rf(6378150.0, 298.3),
    "helmert" -> rf(6378200.0, 298.3),
    "hough" -> rf(6378270.0, 297.0),
    "intl" -> rf(6378388.0, 297.0),
    "krass" -> rf(6378245.0, 298.3),
    "kaula" -> rf(6378163.0, 298.24),
    "lerch" -> rf(6378139.0, 298.257),
    "mprts" -> rf(6397300.0, 191.0),
    "new_intl" -> Ellipsoid(6378157.5, 6356772.2),
    "plessis" -> Ellipsoid(6376523.0, 6355863.0),
    "SEasia" -> Ellipsoid(6378155.0, 6356773.3205),
    "walbeck" -> Ellipsoid(6376896.0, 6355834.8467),
    "WGS60" -> rf(6378165.0, 298.3),
    "WGS66" -> rf(6378145.0, 298.25),
    "WGS72" -> rf(6378135.0, 298.26),
    "WGS84" -> WGS84)

  /** Datum name → underlying ellipse (SA_ch03_vector.md Table 2). The
    * towgs84/nadgrids SHIFT step is the declared non-goal (SURVEY §7.6) —
    * per the docs, no transformation happens between a sphere and
    * NAD83/WGS84 anyway, and NAD27 gridshift files are out of scope. */
  val byDatum: Map[String, Ellipsoid] = Map(
    "WGS84" -> WGS84, "GGRS87" -> GRS80, "NAD83" -> GRS80,
    "NAD27" -> Clarke1866, "potsdam" -> byName("bessel"),
    "carthage" -> byName("clrk80"), "hermannskogel" -> byName("bessel"),
    "ire65" -> byName("mod_airy"), "nzgd49" -> byName("intl"),
    "OSGB36" -> byName("airy"))

  /** Catalog-column ellipsoid spec (mims_spatl_proj.c:109-360 hands these
    * tokens to PROJ): "+ellps=NAME", "+datum=NAME", or explicit
    * "+a=…,+b=…" / "+a=…,+rf=…", comma-separated, '+' optional. */
  def parse(spec: String): Ellipsoid = {
    val kv = spec.split(",").iterator.map(_.trim.stripPrefix("+"))
      .filter(_.nonEmpty).map { tok =>
        tok.split("=", 2) match {
          case Array(k, v) => k -> v
          case Array(k)    => k -> ""
        }
      }.toMap
    (kv.get("ellps"), kv.get("datum"), kv.get("a")) match {
      case (Some(n), _, _) => byName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown ellipse '$n' (Table 3 names)"))
      case (_, Some(d), _) => byDatum.getOrElse(d,
        throw new IllegalArgumentException(s"unknown datum '$d' (Table 2 names)"))
      case (_, _, Some(a)) =>
        val av = a.toDouble
        kv.get("b").map(b => Ellipsoid(av, b.toDouble))
          .orElse(kv.get("rf").map(r => rf(av, r.toDouble)))
          .getOrElse(Ellipsoid(av, av)) // +a alone = sphere of radius a
      case _ => throw new IllegalArgumentException(
        s"ellipsoid spec '$spec' needs +ellps=, +datum=, or +a=")
    }
  }
}

object Ellipsoidal {

  /** Lambert conformal conic, 2SP, ellipsoidal (Snyder 15-1..15-11). */
  final case class LccE(lat1: Double, lat2: Double, lat0: Double, lon0: Double,
                        ell: Ellipsoid, x0: Double = 0.0, y0: Double = 0.0)
      extends Proj {
    private def m(phi: Double): Double = Ellipsoidal.mFun(phi, ell)
    private def tOf(phi: Double): Double = Ellipsoidal.tFun(phi, ell)
    private val p1 = math.toRadians(lat1)
    private val p2 = math.toRadians(lat2)
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val n =
      if (lat1 == lat2) math.sin(p1)
      else math.log(m(p1) / m(p2)) / math.log(tOf(p1) / tOf(p2))
    private val F = m(p1) / (n * math.pow(tOf(p1), n))
    private def rho(phi: Double): Double = ell.a * F * math.pow(tOf(phi), n)
    private val rho0 = rho(p0)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val r = rho(math.toRadians(lat))
      val th = n * (math.toRadians(lon) - l0)
      (r * math.sin(th) + x0, rho0 - r * math.cos(th) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0; val yn = y - y0
      val r = math.signum(n) * math.sqrt(xn * xn + (rho0 - yn) * (rho0 - yn))
      val th = math.atan2(xn * math.signum(n), (rho0 - yn) * math.signum(n))
      val t = math.pow(r / (ell.a * F), 1.0 / n)
      val phi = Ellipsoidal.phiFromT(t, ell)
      (Proj.normLon(math.toDegrees(l0 + th / n)), math.toDegrees(phi))
    }
    val name = "lcc_e"
  }

  /** Meridian arc length from the equator (Snyder 3-21). */
  def meridianArc(phi: Double, ell: Ellipsoid): Double = {
    val e2 = ell.e2; val e4 = e2 * e2; val e6 = e4 * e2
    ell.a * ((1.0 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi -
      (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi) +
      (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi) -
      (35 * e6 / 3072) * math.sin(6 * phi))
  }

  /** Transverse Mercator, ellipsoidal (Snyder 8-9..8-25 — the UTM series;
    * valid within ~±10° of the central meridian like UTM itself). */
  final case class TmercE(lon0: Double, ell: Ellipsoid, k0: Double = 0.9996,
                          x0: Double = 500000.0, y0: Double = 0.0,
                          lat0: Double = 0.0) extends Proj {
    private val l0 = math.toRadians(lon0)
    private val ep2 = ell.e2 / (1.0 - ell.e2)
    private val m0 = meridianArc(math.toRadians(lat0), ell)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val sinP = math.sin(phi); val cosP = math.cos(phi); val tanP = math.tan(phi)
      val nN = ell.a / math.sqrt(1.0 - ell.e2 * sinP * sinP)
      val tT = tanP * tanP
      val cC = ep2 * cosP * cosP
      val aA = (math.toRadians(lon) - l0) * cosP
      val a2 = aA * aA; val a3 = a2 * aA; val a4 = a2 * a2
      val a5 = a4 * aA; val a6 = a4 * a2
      val x = k0 * nN * (aA + (1 - tT + cC) * a3 / 6 +
        (5 - 18 * tT + tT * tT + 72 * cC - 58 * ep2) * a5 / 120) + x0
      val y = k0 * (meridianArc(phi, ell) - m0 + nN * tanP * (a2 / 2 +
        (5 - tT + 9 * cC + 4 * cC * cC) * a4 / 24 +
        (61 - 58 * tT + tT * tT + 600 * cC - 330 * ep2) * a6 / 720)) + y0
      (x, y)
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val mM = m0 + (y - y0) / k0
      val e2 = ell.e2
      val phi1 = footpointLat(mM, ell)
      val sin1 = math.sin(phi1); val cos1 = math.cos(phi1); val tan1 = math.tan(phi1)
      val c1 = ep2 * cos1 * cos1
      val t1 = tan1 * tan1
      val n1 = ell.a / math.sqrt(1 - e2 * sin1 * sin1)
      val r1 = ell.a * (1 - e2) / math.pow(1 - e2 * sin1 * sin1, 1.5)
      val d = (x - x0) / (n1 * k0)
      val d2 = d * d; val d3 = d2 * d; val d4 = d2 * d2
      val d5 = d4 * d; val d6 = d4 * d2
      val phi = phi1 - (n1 * tan1 / r1) * (d2 / 2 -
        (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * d4 / 24 +
        (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ep2 - 3 * c1 * c1) * d6 / 720)
      val lam = l0 + (d - (1 + 2 * t1 + c1) * d3 / 6 +
        (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ep2 + 24 * t1 * t1) * d5 / 120) / cos1
      (Proj.normLon(math.toDegrees(lam)), math.toDegrees(phi))
    }
    val name = "tmerc_e"
  }

  /** Sinusoidal, ellipsoidal (Snyder eq. 30-8/30-9 forward, 30-10..30-21
    * inverse): x = a·Δλ·cosφ/√(1−e²sin²φ), y = M(φ); the inverse recovers
    * φ from the meridian distance via the footpoint series. Equal-area
    * like its spherical twin (property-tested in EllipsoidalSpec). */
  final case class SinuE(lon0: Double, ell: Ellipsoid,
                         x0: Double = 0.0, y0: Double = 0.0) extends Proj {
    private val l0 = math.toRadians(lon0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val sinP = math.sin(phi)
      val x = ell.a * (math.toRadians(lon) - l0) * math.cos(phi) /
        math.sqrt(1.0 - ell.e2 * sinP * sinP) + x0
      (x, meridianArc(phi, ell) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val phi = footpointLat(y - y0, ell)
      val sinP = math.sin(phi)
      val lam = l0 + (x - x0) * math.sqrt(1.0 - ell.e2 * sinP * sinP) /
        (ell.a * math.cos(phi))
      (Proj.normLon(math.toDegrees(lam)), math.toDegrees(phi))
    }
    val name = "sinu_e"
  }

  /** φ from meridian distance M — the rectifying-latitude (footpoint)
    * series, Snyder eq. 7-19 with 3-26, polished with Newton steps on
    * M(φ) − mM (dM/dφ = a(1−e²)/(1−e²sin²φ)^{3/2}, the meridian radius)
    * so the inverse is self-consistent with meridianArc to machine
    * precision rather than series truncation. Shared by the TM and
    * sinusoidal inverses. */
  def footpointLat(mM: Double, ell: Ellipsoid): Double = {
    val e2 = ell.e2
    val mu = mM / (ell.a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256))
    val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val e12 = e1 * e1; val e13 = e12 * e1; val e14 = e12 * e12
    var phi = mu + (3 * e1 / 2 - 27 * e13 / 32) * math.sin(2 * mu) +
      (21 * e12 / 16 - 55 * e14 / 32) * math.sin(4 * mu) +
      (151 * e13 / 96) * math.sin(6 * mu) +
      (1097 * e14 / 512) * math.sin(8 * mu)
    var it = 0
    while (it < 3) {
      val s = math.sin(phi)
      val w = 1.0 - e2 * s * s
      val dM = ell.a * (1.0 - e2) / (w * math.sqrt(w))
      val d = (meridianArc(phi, ell) - mM) / dM
      phi -= d
      it = if (math.abs(d) < 1e-14) 3 else it + 1
    }
    phi
  }

  // ------------------------------------------------- shared Snyder helpers

  /** m(φ) = cosφ/√(1−e²sin²φ) (Snyder 14-15). */
  def mFun(phi: Double, ell: Ellipsoid): Double =
    math.cos(phi) / math.sqrt(1.0 - ell.e2 * math.sin(phi) * math.sin(phi))

  /** t(φ) (Snyder 15-9) — the conformal-colatitude kernel. */
  def tFun(phi: Double, ell: Ellipsoid): Double = {
    val es = ell.e * math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1.0 - es) / (1.0 + es), ell.e / 2)
  }

  /** q(φ) (Snyder 3-12) — the equal-area kernel; e→0 limit is 2 sinφ. */
  def qFun(phi: Double, ell: Ellipsoid): Double = {
    if (ell.e < 1e-12) 2.0 * math.sin(phi)
    else {
      val s = math.sin(phi)
      (1.0 - ell.e2) * (s / (1.0 - ell.e2 * s * s) -
        (1.0 / (2.0 * ell.e)) * math.log((1.0 - ell.e * s) / (1.0 + ell.e * s)))
    }
  }

  /** φ from t by fixed-point iteration (Snyder 7-9). */
  def phiFromT(t: Double, ell: Ellipsoid): Double = {
    var phi = math.Pi / 2 - 2.0 * math.atan(t)
    var i = 0
    while (i < 15) {
      val es = ell.e * math.sin(phi)
      phi = math.Pi / 2 - 2.0 * math.atan(
        t * math.pow((1.0 - es) / (1.0 + es), ell.e / 2))
      i += 1
    }
    phi
  }

  /** φ from q by Newton iteration (Snyder 3-16); e→0 limit is asin(q/2). */
  def phiFromQ(q: Double, ell: Ellipsoid): Double = {
    if (ell.e < 1e-12) return math.asin(math.max(-1.0, math.min(1.0, q / 2.0)))
    val qp = qFun(math.Pi / 2, ell)
    if (math.abs(math.abs(q) - math.abs(qp)) < 1e-14)
      return if (q < 0) -math.Pi / 2 else math.Pi / 2
    var phi = math.asin(math.max(-1.0, math.min(1.0, q / 2.0)))
    var i = 0
    while (i < 15) {
      val s = math.sin(phi)
      val es = ell.e * s
      val d = (1.0 - ell.e2 * s * s)
      phi += d * d / (2.0 * math.cos(phi)) * (q / (1.0 - ell.e2) -
        s / d + (1.0 / (2.0 * ell.e)) * math.log((1.0 - es) / (1.0 + es)))
      i += 1
    }
    phi
  }

  /** Conformal latitude χ(φ) (Snyder 3-1): χ = π/2 − 2 atan t(φ). */
  def chi(phi: Double, ell: Ellipsoid): Double =
    math.Pi / 2 - 2.0 * math.atan(tFun(phi, ell))

  // ----------------------------------------------------- ellipsoidal forms

  /** Albers equal-area conic, ellipsoidal (Snyder 14-3..14-12 forward,
    * 14-19..14-21 + 3-16 inverse) — the CONUS workhorse (NAD83/GRS80
    * Albers is the standard national-atlas CRS). */
  final case class AeaE(lat1: Double, lat2: Double, lat0: Double, lon0: Double,
                        ell: Ellipsoid, x0: Double = 0.0, y0: Double = 0.0)
      extends Proj {
    private val p1 = math.toRadians(lat1)
    private val p2 = math.toRadians(lat2)
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val m1 = mFun(p1, ell)
    private val m2 = mFun(p2, ell)
    private val q1 = qFun(p1, ell)
    private val q2 = qFun(p2, ell)
    private val n = if (lat1 == lat2) math.sin(p1) else (m1 * m1 - m2 * m2) / (q2 - q1)
    private val C = m1 * m1 + n * q1
    private def rho(q: Double): Double = ell.a * math.sqrt(C - n * q) / n
    private val rho0 = rho(qFun(p0, ell))

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val r = rho(qFun(math.toRadians(lat), ell))
      val th = n * (math.toRadians(lon) - l0)
      (r * math.sin(th) + x0, rho0 - r * math.cos(th) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0; val yn = y - y0
      val r = math.signum(n) * math.sqrt(xn * xn + (rho0 - yn) * (rho0 - yn))
      val th = math.atan2(xn * math.signum(n), (rho0 - yn) * math.signum(n))
      val q = (C - (r * n / ell.a) * (r * n / ell.a)) / n
      (Proj.normLon(math.toDegrees(l0 + th / n)),
        math.toDegrees(phiFromQ(q, ell)))
    }
    val name = "aea_e"
  }

  /** Lambert azimuthal equal-area, oblique ellipsoidal (Snyder
    * 24-2..24-16 with authalic latitudes, inverse 24-16..24-19 + 3-16). */
  final case class LaeaE(lat0: Double, lon0: Double, ell: Ellipsoid,
                         x0: Double = 0.0, y0: Double = 0.0) extends Proj {
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val qp = qFun(math.Pi / 2, ell)
    private val beta0 = math.asin(math.max(-1.0, math.min(1.0, qFun(p0, ell) / qp)))
    private val rq = ell.a * math.sqrt(qp / 2.0)
    private val dD = ell.a * mFun(p0, ell) / (rq * math.cos(beta0))
    private val sinB0 = math.sin(beta0)
    private val cosB0 = math.cos(beta0)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val beta = math.asin(math.max(-1.0, math.min(1.0,
        qFun(math.toRadians(lat), ell) / qp)))
      val dl = math.toRadians(lon) - l0
      val b = rq * math.sqrt(2.0 /
        (1.0 + sinB0 * math.sin(beta) + cosB0 * math.cos(beta) * math.cos(dl)))
      (b * dD * math.cos(beta) * math.sin(dl) + x0,
       (b / dD) * (cosB0 * math.sin(beta) - sinB0 * math.cos(beta) * math.cos(dl)) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = (x - x0) / dD; val yn = (y - y0) * dD
      val rho = math.sqrt(xn * xn + yn * yn)
      if (rho == 0.0) return (math.toDegrees(l0), math.toDegrees(p0))
      val ce = 2.0 * math.asin(math.max(-1.0, math.min(1.0, rho / (2.0 * rq))))
      val q = qp * (math.cos(ce) * sinB0 + yn * math.sin(ce) * cosB0 / rho)
      val lam = l0 + math.atan2(xn * math.sin(ce),
        rho * cosB0 * math.cos(ce) - yn * sinB0 * math.sin(ce))
      (Proj.normLon(math.toDegrees(lam)), math.toDegrees(phiFromQ(q, ell)))
    }
    val name = "laea_e"
  }

  /** Oblique/equatorial stereographic, ellipsoidal via conformal latitude
    * (Snyder 21-27..21-39, inverse with series 3-5). */
  final case class StereE(lat0: Double, lon0: Double, ell: Ellipsoid,
                          k0: Double = 1.0, x0: Double = 0.0, y0: Double = 0.0)
      extends Proj {
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val chi0 = chi(p0, ell)
    private val m0 = mFun(p0, ell)
    private val sinX0 = math.sin(chi0)
    private val cosX0 = math.cos(chi0)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val x = chi(math.toRadians(lat), ell)
      val dl = math.toRadians(lon) - l0
      val aA = 2.0 * ell.a * k0 * m0 /
        (cosX0 * (1.0 + sinX0 * math.sin(x) + cosX0 * math.cos(x) * math.cos(dl)))
      (aA * math.cos(x) * math.sin(dl) + x0,
       aA * (cosX0 * math.sin(x) - sinX0 * math.cos(x) * math.cos(dl)) + y0)
    }
    def inverse(px: Double, py: Double): (Double, Double) = {
      val xn = px - x0; val yn = py - y0
      val rho = math.sqrt(xn * xn + yn * yn)
      if (rho == 0.0) return (math.toDegrees(l0), math.toDegrees(p0))
      val ce = 2.0 * math.atan(rho * cosX0 / (2.0 * ell.a * k0 * m0))
      val x = math.asin(math.cos(ce) * sinX0 + yn * math.sin(ce) * cosX0 / rho)
      val lam = l0 + math.atan2(xn * math.sin(ce),
        rho * cosX0 * math.cos(ce) - yn * sinX0 * math.sin(ce))
      // χ → φ series (Snyder 3-5)
      val e2 = ell.e2; val e4 = e2 * e2; val e6 = e4 * e2; val e8 = e4 * e4
      val phi = x +
        (e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360) * math.sin(2 * x) +
        (7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520) * math.sin(4 * x) +
        (7 * e6 / 120 + 81 * e8 / 1120) * math.sin(6 * x) +
        (4279 * e8 / 161280) * math.sin(8 * x)
      (Proj.normLon(math.toDegrees(lam)), math.toDegrees(phi))
    }
    val name = "stere_e"
  }

  /** Polar stereographic with standard parallel lat_ts, ellipsoidal
    * (Snyder 21-33..21-35; inverse via the t iteration 7-9). lat_ts < 0
    * selects the south-polar aspect, like the spherical twin. */
  final case class PolarStereE(latTs: Double, lon0: Double, ell: Ellipsoid,
                               k0: Double = 1.0, x0: Double = 0.0,
                               y0: Double = 0.0) extends Proj {
    private val south = latTs < 0
    private val l0 = math.toRadians(lon0)
    private val pts = math.toRadians(math.abs(latTs))
    private val tc = tFun(pts, ell)
    private val mc = mFun(pts, ell)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(if (south) -lat else lat)
      val dl = math.toRadians(lon) - l0
      val rho = ell.a * k0 * mc * tFun(phi, ell) / tc
      val xs = rho * math.sin(dl)
      val ys = -rho * math.cos(dl)
      (xs + x0, (if (south) -ys else ys) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0
      val yn = { val v = y - y0; if (south) -v else v }
      val rho = math.sqrt(xn * xn + yn * yn)
      val t = rho * tc / (ell.a * k0 * mc)
      val phi = phiFromT(t, ell)
      val lam = l0 + math.atan2(xn, -yn)
      (Proj.normLon(math.toDegrees(lam)),
        math.toDegrees(if (south) -phi else phi))
    }
    val name = "polar_stere_e"
  }

  /** Mercator, ellipsoidal (Snyder 7-7/7-8; inverse 7-9). `latTs` gives the
    * 2SP form — true scale at lat_ts means k0 = m(lat_ts) (Snyder 7-12). */
  final case class MercE(lon0: Double, ell: Ellipsoid, k0: Double = 1.0,
                         x0: Double = 0.0, y0: Double = 0.0) extends Proj {
    private val l0 = math.toRadians(lon0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      (ell.a * k0 * (math.toRadians(lon) - l0) + x0,
       -ell.a * k0 * math.log(tFun(phi, ell)) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val t = math.exp(-(y - y0) / (ell.a * k0))
      (Proj.normLon(math.toDegrees(l0 + (x - x0) / (ell.a * k0))),
        math.toDegrees(phiFromT(t, ell)))
    }
    val name = "merc_e"
  }

  object MercE {
    /** 2SP: true scale at lat_ts. */
    def atTs(latTs: Double, lon0: Double, ell: Ellipsoid,
             x0: Double = 0.0, y0: Double = 0.0): MercE =
      MercE(lon0, ell, mFun(math.toRadians(latTs), ell), x0, y0)
  }
}
