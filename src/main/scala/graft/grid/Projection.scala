package graft.grid

/** Map projections — pure closed-form math covering ALL 11 of the
  * reference's GRIDDESC families (mims_spatl_proj.c:109-570; family table
  * SA_ch03_vector.md:406-582): geographic (1), Lambert conformal conic (2),
  * Mercator 1SP (3) and 2SP (4), oblique stereographic (5), UTM (6), polar
  * stereographic (7), transverse Mercator (8), Lambert azimuthal equal-area
  * (9), Albers equal-area conic (10), sinusoidal (11).
  *
  * Each family has two forms, Snyder 1987 closed forms both: the exact
  * spherical one here, at a sphere's radius R (default 6370997 m, the I/O
  * API sphere — "the I/O API assumes that the earth's ellipsoid is a
  * sphere", SA_ch03_vector.md:384), and the ellipsoidal series in
  * `Ellipsoidal`. The family table below (`lcc` … `sinu`) picks one of
  * the two from the layer's `Ellipsoid`, as PROJ does inside each family;
  * `parse` and `fromGriddesc` read a CRS through that table only.
  */
trait Proj { // extended by grid.Ellipsoidal's forms too
  /** lon/lat degrees → projected x/y meters */
  def forward(lon: Double, lat: Double): (Double, Double)
  /** projected x/y meters → lon/lat degrees */
  def inverse(x: Double, y: Double): (Double, Double)
  def name: String
}

object Proj {
  val R = 6370997.0 // reference default sphere

  /** Normalize a longitude into the reference's (-180, 180] convention
    * (SA_ch03_vector.md Table 1: "-180.0 < X,Y <= 180.0"). */
  def normLon(deg: Double): Double = {
    var x = deg % 360.0
    if (x <= -180.0) x += 360.0
    if (x > 180.0) x -= 360.0
    x
  }

  case object LatLon extends Proj {
    def forward(lon: Double, lat: Double): (Double, Double) = (lon, lat)
    def inverse(x: Double, y: Double): (Double, Double) = (x, y)
    val name = "latlon"
  }

  /** Lambert conformal conic, 2 standard parallels, spherical
    * (Snyder 1987 eq. 15-1..15-5; matches PROJ +proj=lcc +R=6370997). */
  final case class Lcc(lat1: Double, lat2: Double, lat0: Double, lon0: Double,
                       x0: Double = 0.0, y0: Double = 0.0, R: Double = Proj.R)
      extends Proj {
    private val p1 = math.toRadians(lat1)
    private val p2 = math.toRadians(lat2)
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val n =
      if (lat1 == lat2) math.sin(p1)
      else math.log(math.cos(p1) / math.cos(p2)) /
           math.log(math.tan(math.Pi / 4 + p2 / 2) / math.tan(math.Pi / 4 + p1 / 2))
    private val F = math.cos(p1) * math.pow(math.tan(math.Pi / 4 + p1 / 2), n) / n
    private val rho0 = R * F / math.pow(math.tan(math.Pi / 4 + p0 / 2), n)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val rho = R * F / math.pow(math.tan(math.Pi / 4 + phi / 2), n)
      val th = n * (math.toRadians(lon) - l0)
      (rho * math.sin(th) + x0, rho0 - rho * math.cos(th) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0; val yn = y - y0
      val rho = math.signum(n) * math.sqrt(xn * xn + (rho0 - yn) * (rho0 - yn))
      val th = math.atan2(xn, rho0 - yn)
      val phi = 2 * math.atan(math.pow(R * F / rho, 1 / n)) - math.Pi / 2
      (math.toDegrees(l0 + th / n), math.toDegrees(phi))
    }
    val name = "lcc"
  }

  /** Spherical Mercator 1SP about lon0 (GRIDDESC type 3: lon_0, k_0, false
    * origin). */
  final case class Mercator(lon0: Double, k0: Double = 1.0,
                            x0: Double = 0.0, y0: Double = 0.0,
                            R: Double = Proj.R) extends Proj {
    private val l0 = math.toRadians(lon0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val x = R * k0 * (math.toRadians(lon) - l0) + x0
      val y = R * k0 * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)) + y0
      (x, y)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val lon = math.toDegrees(l0 + (x - x0) / (R * k0))
      val lat = math.toDegrees(2 * math.atan(math.exp((y - y0) / (R * k0))) - math.Pi / 2)
      (lon, lat)
    }
    val name = "merc"
  }

  /** Spherical Mercator 2SP (GRIDDESC type 4): true scale at lat_ts —
    * equivalent to 1SP with k0 = cos(lat_ts) on a sphere (Snyder eq. 7-1). */
  final case class Merc2SP(latTs: Double, lon0: Double,
                           x0: Double = 0.0, y0: Double = 0.0,
                           R: Double = Proj.R) extends Proj {
    private val inner = Mercator(lon0, math.cos(math.toRadians(latTs)), x0, y0, R)
    def forward(lon: Double, lat: Double): (Double, Double) = inner.forward(lon, lat)
    def inverse(x: Double, y: Double): (Double, Double) = inner.inverse(x, y)
    val name = "merc2sp"
  }

  /** Oblique/equatorial stereographic, spherical (Snyder eq. 21-2..21-4,
    * inverse 20-14..20-15; GRIDDESC type 5: lat_0, lon_0, false origin). */
  final case class Stere(lat0: Double, lon0: Double, k0: Double = 1.0,
                         x0: Double = 0.0, y0: Double = 0.0,
                         R: Double = Proj.R) extends Proj {
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val sinP0 = math.sin(p0)
    private val cosP0 = math.cos(p0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val dl = math.toRadians(lon) - l0
      val k = 2.0 * k0 / (1.0 + sinP0 * math.sin(phi) + cosP0 * math.cos(phi) * math.cos(dl))
      (R * k * math.cos(phi) * math.sin(dl) + x0,
       R * k * (cosP0 * math.sin(phi) - sinP0 * math.cos(phi) * math.cos(dl)) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0; val yn = y - y0
      val rho = math.sqrt(xn * xn + yn * yn)
      if (rho == 0.0) return (math.toDegrees(l0), math.toDegrees(p0))
      val c = 2.0 * math.atan(rho / (2.0 * R * k0))
      val phi = math.asin(math.cos(c) * sinP0 + yn * math.sin(c) * cosP0 / rho)
      val lam = l0 + math.atan2(xn * math.sin(c),
        rho * cosP0 * math.cos(c) - yn * sinP0 * math.sin(c))
      (normLon(math.toDegrees(lam)), math.toDegrees(phi))
    }
    val name = "stere"
  }

  /** Polar stereographic with standard parallel lat_ts, spherical (Snyder
    * eq. 21-7/21-8 with 21-33; GRIDDESC type 7: lat_ts, lon_0, k_0, false
    * origin). lat_ts < 0 selects the south-polar aspect. */
  final case class PolarStere(latTs: Double, lon0: Double, k0: Double = 1.0,
                              x0: Double = 0.0, y0: Double = 0.0,
                              R: Double = Proj.R) extends Proj {
    private val south = latTs < 0
    private val l0 = math.toRadians(lon0)
    private val pts = math.toRadians(math.abs(latTs))
    // scale at the pole implied by true scale at lat_ts (Snyder 21-33)
    private val kPole = k0 * (1.0 + math.sin(pts)) / 2.0
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(if (south) -lat else lat)
      val dl = math.toRadians(lon) - l0
      val rho = 2.0 * R * kPole * math.tan(math.Pi / 4 - phi / 2)
      val xs = rho * math.sin(dl)
      val ys = -rho * math.cos(dl)
      (xs + x0, (if (south) -ys else ys) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0
      val yn = { val v = y - y0; if (south) -v else v }
      val rho = math.sqrt(xn * xn + yn * yn)
      val phi = math.Pi / 2 - 2.0 * math.atan(rho / (2.0 * R * kPole))
      val lam = l0 + math.atan2(xn, -yn)
      (normLon(math.toDegrees(lam)), math.toDegrees(if (south) -phi else phi))
    }
    val name = "polar_stere"
  }

  /** Lambert azimuthal equal-area, oblique spherical (Snyder eq. 24-2..24-4,
    * inverse 20-14..20-15 with 24-16; GRIDDESC type 9: lat_0, lon_0, false
    * origin). */
  final case class Laea(lat0: Double, lon0: Double,
                        x0: Double = 0.0, y0: Double = 0.0,
                        R: Double = Proj.R) extends Proj {
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val sinP0 = math.sin(p0)
    private val cosP0 = math.cos(p0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val dl = math.toRadians(lon) - l0
      val kp = math.sqrt(2.0 / (1.0 + sinP0 * math.sin(phi) + cosP0 * math.cos(phi) * math.cos(dl)))
      (R * kp * math.cos(phi) * math.sin(dl) + x0,
       R * kp * (cosP0 * math.sin(phi) - sinP0 * math.cos(phi) * math.cos(dl)) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0; val yn = y - y0
      val rho = math.sqrt(xn * xn + yn * yn)
      if (rho == 0.0) return (math.toDegrees(l0), math.toDegrees(p0))
      val c = 2.0 * math.asin(rho / (2.0 * R))
      val phi = math.asin(math.cos(c) * sinP0 + yn * math.sin(c) * cosP0 / rho)
      val lam = l0 + math.atan2(xn * math.sin(c),
        rho * cosP0 * math.cos(c) - yn * sinP0 * math.sin(c))
      (normLon(math.toDegrees(lam)), math.toDegrees(phi))
    }
    val name = "laea"
  }

  /** Albers equal-area conic, 2 standard parallels, spherical (Snyder
    * eq. 14-1..14-11; GRIDDESC type 10: lat_1, lat_2, lon_0, lat_0). */
  final case class Aea(lat1: Double, lat2: Double, lat0: Double, lon0: Double,
                       x0: Double = 0.0, y0: Double = 0.0, R: Double = Proj.R)
      extends Proj {
    private val p1 = math.toRadians(lat1)
    private val p2 = math.toRadians(lat2)
    private val p0 = math.toRadians(lat0)
    private val l0 = math.toRadians(lon0)
    private val n = (math.sin(p1) + math.sin(p2)) / 2.0
    private val C = math.cos(p1) * math.cos(p1) + 2.0 * n * math.sin(p1)
    private val rho0 = R * math.sqrt(C - 2.0 * n * math.sin(p0)) / n
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val rho = R * math.sqrt(C - 2.0 * n * math.sin(phi)) / n
      val th = n * (math.toRadians(lon) - l0)
      (rho * math.sin(th) + x0, rho0 - rho * math.cos(th) + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = x - x0; val yn = y - y0
      val rho = math.sqrt(xn * xn + (rho0 - yn) * (rho0 - yn)) * math.signum(n)
      val th = math.atan2(xn * math.signum(n), (rho0 - yn) * math.signum(n))
      val phi = math.asin((C - (rho * n / R) * (rho * n / R)) / (2.0 * n))
      (normLon(math.toDegrees(l0 + th / n)), math.toDegrees(phi))
    }
    val name = "aea"
  }

  /** Sinusoidal, spherical (Snyder eq. 30-1/30-2; GRIDDESC type 11: lon_0,
    * false origin). */
  final case class Sinu(lon0: Double, x0: Double = 0.0, y0: Double = 0.0,
                        R: Double = Proj.R) extends Proj {
    private val l0 = math.toRadians(lon0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      (R * (math.toRadians(lon) - l0) * math.cos(phi) + x0, R * phi + y0)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val phi = (y - y0) / R
      (math.toDegrees(l0 + (x - x0) / (R * math.cos(phi))), math.toDegrees(phi))
    }
    val name = "sinu"
  }

  /** Spherical transverse Mercator (UTM when lon0 = zone central meridian,
    * k0=0.9996, x offset 500000; GRIDDESC type 8 adds lat_0, the latitude
    * of natural origin). */
  final case class Tmerc(lon0: Double, k0: Double = 0.9996,
                         x0: Double = 500000.0, y0: Double = 0.0,
                         lat0: Double = 0.0, R: Double = Proj.R) extends Proj {
    private val l0 = math.toRadians(lon0)
    private val m0 = math.toRadians(lat0) // spherical meridian distance = R·phi
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val dl = math.toRadians(lon) - l0
      val b = math.cos(phi) * math.sin(dl)
      val x = R * k0 / 2 * math.log((1 + b) / (1 - b)) + x0
      val y = R * k0 * (math.atan2(math.tan(phi), math.cos(dl)) - m0) + y0
      (x, y)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val xn = (x - x0) / (R * k0)
      val yn = (y - y0) / (R * k0) + m0
      val lat = math.asin(math.sin(yn) / math.cosh(xn))
      val lon = l0 + math.atan2(math.sinh(xn), math.cos(yn))
      (math.toDegrees(lon), math.toDegrees(lat))
    }
    val name = "tmerc"
  }

  // ------------------------------------------------------------ family table
  // One function per GRIDDESC family (types 2-11; type 1 is LatLon): on a
  // sphere the exact spherical form at that sphere's radius, else the
  // Snyder ellipsoidal series. The spherical forms stay because the series
  // drift from them (the TM series by centimetres 2° off its central
  // meridian, and it diverges far from it), and they are what PROJ uses on
  // a sphere.

  def lcc(lat1: Double, lat2: Double, lat0: Double, lon0: Double,
          x0: Double, y0: Double, ell: Ellipsoid): Proj =
    if (ell.isSphere) Lcc(lat1, lat2, lat0, lon0, x0, y0, ell.a)
    else Ellipsoidal.LccE(lat1, lat2, lat0, lon0, ell, x0, y0)

  def merc(lon0: Double, k0: Double, x0: Double, y0: Double, ell: Ellipsoid): Proj =
    if (ell.isSphere) Mercator(lon0, k0, x0, y0, ell.a)
    else Ellipsoidal.MercE(lon0, ell, k0, x0, y0)

  def merc2sp(latTs: Double, lon0: Double, x0: Double, y0: Double,
              ell: Ellipsoid): Proj =
    if (ell.isSphere) Merc2SP(latTs, lon0, x0, y0, ell.a)
    else Ellipsoidal.MercE.atTs(latTs, lon0, ell, x0, y0)

  def stere(lat0: Double, lon0: Double, k0: Double, x0: Double, y0: Double,
            ell: Ellipsoid): Proj =
    if (ell.isSphere) Stere(lat0, lon0, k0, x0, y0, ell.a)
    else Ellipsoidal.StereE(lat0, lon0, ell, k0, x0, y0)

  /** UTM: transverse Mercator on the zone's central meridian, k0 0.9996. */
  def utm(zone: Double, x0: Double, y0: Double, ell: Ellipsoid): Proj =
    tmerc(-183.0 + 6.0 * zone, 0.9996, x0, y0, 0.0, ell)

  def polarStere(latTs: Double, lon0: Double, k0: Double, x0: Double,
                 y0: Double, ell: Ellipsoid): Proj =
    if (ell.isSphere) PolarStere(latTs, lon0, k0, x0, y0, ell.a)
    else Ellipsoidal.PolarStereE(latTs, lon0, ell, k0, x0, y0)

  def tmerc(lon0: Double, k0: Double, x0: Double, y0: Double, lat0: Double,
            ell: Ellipsoid): Proj =
    if (ell.isSphere) Tmerc(lon0, k0, x0, y0, lat0, ell.a)
    else Ellipsoidal.TmercE(lon0, ell, k0, x0, y0, lat0)

  def laea(lat0: Double, lon0: Double, x0: Double, y0: Double,
           ell: Ellipsoid): Proj =
    if (ell.isSphere) Laea(lat0, lon0, x0, y0, ell.a)
    else Ellipsoidal.LaeaE(lat0, lon0, ell, x0, y0)

  def aea(lat1: Double, lat2: Double, lat0: Double, lon0: Double,
          x0: Double, y0: Double, ell: Ellipsoid): Proj =
    if (ell.isSphere) Aea(lat1, lat2, lat0, lon0, x0, y0, ell.a)
    else Ellipsoidal.AeaE(lat1, lat2, lat0, lon0, ell, x0, y0)

  def sinu(lon0: Double, x0: Double, y0: Double, ell: Ellipsoid): Proj =
    if (ell.isSphere) Sinu(lon0, x0, y0, ell.a)
    else Ellipsoidal.SinuE(lon0, ell, x0, y0)

  /** A PROJ-style spec, comma-separated, '+' optional:
    * "+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97[,+x_0=…,+y_0=…]",
    * with an optional ellipsoid ("+ellps=NAME", "+datum=NAME", or
    * "+a=…[,+b=…|,+rf=…]", "+R=r", see `Ellipsoid.parse`; without one, the
    * reference's default sphere). The reference hands the same tokens to
    * PROJ (mims_spatl_proj.c:109-360). Datum SHIFT (towgs84/nadgrids)
    * stays out of scope per SURVEY §7.6 — the docs themselves do no
    * sphere↔NAD83/WGS84 transformation. */
  def parse(spec: String): Proj = {
    val kv = spec.split(",").map(_.trim.stripPrefix("+"))
      .filter(_.contains("=")).map { s =>
        val Array(k, v) = s.split("=", 2); k -> v
      }.toMap
    def num(k: String): Double = kv(k).toDouble
    def opt(k: String, default: Double): Double = kv.get(k).fold(default)(_.toDouble)
    val ell =
      if (Seq("R", "ellps", "datum", "a").exists(kv.contains)) Ellipsoid.parse(spec)
      else Ellipsoid.Sphere
    val (x0, y0) = (opt("x_0", 0.0), opt("y_0", 0.0))
    spec.split(",").head.trim.stripPrefix("+").stripPrefix("proj=") match {
      case "latlon" | "latlong" => LatLon
      case "lcc" => lcc(num("lat_1"), num("lat_2"), num("lat_0"), num("lon_0"), x0, y0, ell)
      case "merc" if kv.contains("lat_ts") =>
        merc2sp(num("lat_ts"), opt("lon_0", 0.0), x0, y0, ell)
      case "merc" => merc(opt("lon_0", 0.0), opt("k_0", 1.0), x0, y0, ell)
      case "stere" if kv.contains("lat_ts") =>
        polarStere(num("lat_ts"), opt("lon_0", 0.0), opt("k_0", 1.0), x0, y0, ell)
      case "stere" => stere(num("lat_0"), num("lon_0"), opt("k_0", 1.0), x0, y0, ell)
      // PROJ fixes UTM's false origin, so +x_0/+y_0 do not move it;
      // +south zones take a false northing of 10,000,000 m
      case "utm" =>
        val south = spec.split(",").exists(_.trim.stripPrefix("+") == "south")
        utm(kv("zone").toInt, 500000.0, if (south) 10000000.0 else 0.0, ell)
      case "tmerc" => tmerc(num("lon_0"), opt("k_0", 0.9996),
        opt("x_0", 500000.0), y0, opt("lat_0", 0.0), ell)
      case "laea" => laea(num("lat_0"), num("lon_0"), x0, y0, ell)
      case "aea" => aea(num("lat_1"), num("lat_2"), num("lat_0"), num("lon_0"), x0, y0, ell)
      case "sinu" => sinu(num("lon_0"), x0, y0, ell)
      case other => throw new IllegalArgumentException(s"unsupported proj $other")
    }
  }

  /** GRIDDESC ctype dispatch (SA_ch03_vector.md Table 1, types 1-11; the
    * reference's mimsSetProjection builds the same PROJ args,
    * mims_spatl_proj.c:109-360) on the grid's ellipsoid (the I/O API
    * sphere unless OUTPUT_FILE_ELLIPSOID / the catalog names another). */
  def fromGriddesc(c: graft.sources.GridDesc.CoordSys, ell: Ellipsoid): Proj =
    c.ctype match {
      case 1  => LatLon
      case 2  => lcc(c.alpha, c.beta, c.ycent, c.xcent, 0.0, 0.0, ell)
      case 3  => merc(c.alpha, if (c.beta == 0.0) 1.0 else c.beta, c.gamma, c.xcent, ell)
      case 4  => merc2sp(c.alpha, c.beta, c.gamma, c.xcent, ell)
      case 5  => stere(c.alpha, c.beta, 1.0, c.gamma, c.xcent, ell)
      case 6  => utm(c.alpha, c.beta, c.gamma, ell)
      case 7  => polarStere(c.alpha, c.beta, if (c.gamma == 0.0) 1.0 else c.gamma,
                            c.xcent, c.ycent, ell)
      case 8  => tmerc(c.beta, if (c.gamma == 0.0) 1.0 else c.gamma,
                       c.xcent, c.ycent, c.alpha, ell)
      case 9  => laea(c.alpha, c.beta, c.gamma, c.xcent, ell)
      case 10 => aea(c.alpha, c.beta, c.ycent, c.xcent, 0.0, 0.0, ell)
      case 11 => sinu(c.alpha, c.beta, c.gamma, ell)
      case t  => throw new IllegalArgumentException(s"GRIDDESC ctype $t not supported (1-11)")
    }

  /** CONVERT_SHAPE semantics: reproject every vertex (mims_spatl_proj.c:363,570). */
  def reprojectRing(ring: Array[Double], from: Proj, to: Proj): Array[Double] = {
    val out = new Array[Double](ring.length)
    var i = 0
    while (i < ring.length - 1) {
      val (lon, lat) = from.inverse(ring(i), ring(i + 1))
      val (x, y) = to.forward(lon, lat)
      out(i) = x; out(i + 1) = y
      i += 2
    }
    out
  }

  /** MAX_LINE_SEG densification before reprojection (SA_ch03_vector.md:244,
    * 877-883): split segments longer than maxSeg so curvature is captured. */
  def densify(line: Array[Double], maxSeg: Double): Array[Double] = {
    if (line.length < 4) return line
    val out = new scala.collection.mutable.ArrayBuilder.ofDouble
    var i = 0
    while (i < line.length - 3) {
      val x1 = line(i); val y1 = line(i + 1)
      val x2 = line(i + 2); val y2 = line(i + 3)
      out += x1; out += y1
      val len = math.hypot(x2 - x1, y2 - y1)
      if (len > maxSeg) {
        val k = math.ceil(len / maxSeg).toInt
        var j = 1
        while (j < k) {
          out += x1 + (x2 - x1) * j / k
          out += y1 + (y2 - y1) * j / k
          j += 1
        }
      }
      i += 2
    }
    out += line(line.length - 2); out += line(line.length - 1)
    out.result()
  }
}
