package graft.geom

import graft.geom.Geo.BBox

/** Clipping kernels.
  *
  * The engine exploits the fact that in the flagship pipelines one join side
  * is a *regular grid* whose cells are axis-aligned rectangles in grid space
  * (reference: regularGridReader.c:249-296). Clipping any geometry against a
  * rectangle is exact and cheap:
  *   - polygon vs rect: Sutherland–Hodgman against 4 half-planes
  *   - segment vs rect: Liang–Barsky parametric clip
  * For general polygon×polygon (county×tract) we delegate to JTS
  * (jts-core-1.20.0 ships with Spark's jars), replacing the reference's
  * embedded GPC Vatti clipper (gpc.c:1117) with an equally robust library.
  * Line-vs-general-polygon uses the reference's own algorithm
  * (intersect.c:274-512): endpoint in-tests + all seg-seg intersections
  * sorted along the segment + midpoint containment for each span.
  *
  * The surrogate and spatial-join paths reach these kernels through the
  * native ring expressions (graft.spark.expressions.RingKernel), which
  * call them on rings copied out of Spark's `ArrayData`. The rectangle
  * clip runs once per (fragment, cell) row there, so its Sutherland–Hodgman
  * passes work on two reused vertex buffers rather than building a ring
  * per half-plane.
  */
object Clip {

  // ------------------------------------------------- polygon vs rectangle

  /** Sutherland–Hodgman clip of one ring against an axis-aligned rect.
    * Works for any simple ring; winding is preserved so signed areas of
    * clipped holes still subtract. Returns the (possibly empty) clipped ring. */
  def clipRingRect(ring: Array[Double], r: BBox): Array[Double] = {
    val c = new RectClipper
    val n = c.clip(ring, r)
    if (n < 3) Array.emptyDoubleArray else java.util.Arrays.copyOf(c.a, 2 * n)
  }

  /** Area of polygon ∩ rect; exact for integral-lattice inputs. Signed per
    * ring so holes subtract, |sum| at the end (polyops.c semantics). */
  def polygonRectClipArea(rings: Array[Array[Double]], r: BBox): Double = {
    val c = new RectClipper
    var s = 0.0
    var i = 0
    while (i < rings.length) {
      val n = c.clip(rings(i), r)
      if (n >= 3) s += Geo.signedArea(c.a, n)
      i += 1
    }
    math.abs(s)
  }

  /** The two vertex buffers of a Sutherland–Hodgman clip, reused across the
    * rings of one call: the ring being clipped is in `a`, and each
    * half-plane pass writes `b` and swaps the two, so no pass allocates
    * unless a buffer has to grow. */
  private final class RectClipper {
    var a: Array[Double] = new Array[Double](64)
    private var b: Array[Double] = new Array[Double](64)

    /** Clips `ring` against x ≥ xmin, x ≤ xmax, y ≥ ymin, y ≤ ymax in that
      * order, stopping once fewer than 3 vertices are left; returns the
      * number of vertices left in `a`. */
    def clip(ring: Array[Double], r: BBox): Int = {
      var n = ring.length / 2
      if (a.length < 2 * n) a = new Array[Double](2 * n)
      System.arraycopy(ring, 0, a, 0, 2 * n)
      n = halfPlane(n, 0, r.xmin, keepAbove = true)
      if (n >= 3) n = halfPlane(n, 0, r.xmax, keepAbove = false)
      if (n >= 3) n = halfPlane(n, 1, r.ymin, keepAbove = true)
      if (n >= 3) n = halfPlane(n, 1, r.ymax, keepAbove = false)
      n
    }

    /** One pass over the n vertices in `a`, keeping coordinate `axis`
      * (0 x, 1 y) ≥ `bound` when `keepAbove`, else ≤ it; a crossing edge
      * adds its intersection with the line. Returns the count now in `a`. */
    private def halfPlane(n: Int, axis: Int, bound: Double, keepAbove: Boolean): Int = {
      // each vertex emits at most itself and one intersection
      if (b.length < 4 * n) b = new Array[Double](4 * n)
      val other = 1 - axis
      var m = 0
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        val c1 = a(2 * i + axis); val o1 = a(2 * i + other)
        val c2 = a(2 * j + axis); val o2 = a(2 * j + other)
        val in1 = if (keepAbove) c1 >= bound else c1 <= bound
        val in2 = if (keepAbove) c2 >= bound else c2 <= bound
        if (in1) { b(2 * m + axis) = c1; b(2 * m + other) = o1; m += 1 }
        if (in1 != in2) {
          val t = (bound - c1) / (c2 - c1)
          b(2 * m + axis) = bound; b(2 * m + other) = o1 + t * (o2 - o1); m += 1
        }
        i += 1
      }
      val t = a; a = b; b = t
      m
    }
  }

  // ------------------------------------------------- segment vs rectangle

  /** Liang–Barsky: clipped-in parameter interval of segment p1→p2 vs rect.
    * Returns (t0, t1) with 0<=t0<=t1<=1, or null when disjoint. */
  def clipSegRectParams(x1: Double, y1: Double, x2: Double, y2: Double,
                        r: BBox): Array[Double] = {
    val dx = x2 - x1; val dy = y2 - y1
    var t0 = 0.0; var t1 = 1.0
    // p = -d, q = p1 - edge for each of the 4 edges
    var k = 0
    while (k < 4) {
      val (p, q) = k match {
        case 0 => (-dx, x1 - r.xmin)
        case 1 => (dx, r.xmax - x1)
        case 2 => (-dy, y1 - r.ymin)
        case _ => (dy, r.ymax - y1)
      }
      if (p == 0.0) { if (q < 0) return null }
      else {
        val t = q / p
        if (p < 0) { if (t > t1) return null; if (t > t0) t0 = t }
        else { if (t < t0) return null; if (t < t1) t1 = t }
      }
      k += 1
    }
    Array(t0, t1)
  }

  /** Length of polyline ∩ rect (sum over segments). Axis-aligned segments
    * take an exact min/max path — no parametric rounding — so grid-aligned
    * infrastructure (common in practice, and our integer-lattice oracle
    * fixtures) accumulates bit-exact lengths. */
  def lineRectClipLength(line: Array[Double], r: BBox): Double = {
    var s = 0.0
    var i = 0
    while (i < line.length - 3) {
      val x1 = line(i); val y1 = line(i + 1)
      val x2 = line(i + 2); val y2 = line(i + 3)
      if (y1 == y2) {
        if (y1 >= r.ymin && y1 <= r.ymax) {
          val lo = math.max(math.min(x1, x2), r.xmin)
          val hi = math.min(math.max(x1, x2), r.xmax)
          if (hi > lo) s += hi - lo
        }
      } else if (x1 == x2) {
        if (x1 >= r.xmin && x1 <= r.xmax) {
          val lo = math.max(math.min(y1, y2), r.ymin)
          val hi = math.min(math.max(y1, y2), r.ymax)
          if (hi > lo) s += hi - lo
        }
      } else {
        val ts = clipSegRectParams(x1, y1, x2, y2, r)
        if (ts != null) {
          val dx = x2 - x1; val dy = y2 - y1
          s += (ts(1) - ts(0)) * math.sqrt(dx * dx + dy * dy)
        }
      }
      i += 2
    }
    s
  }

  /** Polyline ∩ rect as clipped sub-segments (exact endpoints on the
    * axis-aligned fast path, Liang–Barsky otherwise) — used when the LENGTH
    * MEASURE is not Euclidean (USE_CURVED_LINES great-circle mode,
    * polyops.c:440-474: clip geometrically, then measure each piece). */
  def lineRectClipSegs(line: Array[Double], r: BBox): Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var i = 0
    while (i < line.length - 3) {
      val x1 = line(i); val y1 = line(i + 1)
      val x2 = line(i + 2); val y2 = line(i + 3)
      if (y1 == y2) {
        if (y1 >= r.ymin && y1 <= r.ymax) {
          val lo = math.max(math.min(x1, x2), r.xmin)
          val hi = math.min(math.max(x1, x2), r.xmax)
          if (hi > lo) out += Array(lo, y1, hi, y1)
        }
      } else if (x1 == x2) {
        if (x1 >= r.xmin && x1 <= r.xmax) {
          val lo = math.max(math.min(y1, y2), r.ymin)
          val hi = math.min(math.max(y1, y2), r.ymax)
          if (hi > lo) out += Array(x1, lo, x1, hi)
        }
      } else {
        val ts = clipSegRectParams(x1, y1, x2, y2, r)
        if (ts != null && ts(1) > ts(0)) {
          val dx = x2 - x1; val dy = y2 - y1
          out += Array(x1 + ts(0) * dx, y1 + ts(0) * dy,
                       x1 + ts(1) * dx, y1 + ts(1) * dy)
        }
      }
      i += 2
    }
    out.toArray
  }

  // ------------------------------------------------- line vs general polygon

  /** Length of polyline ∩ polygon-with-holes, via the reference's line_clip
    * algorithm (intersect.c:274-512): per segment, collect the parameters of
    * all boundary crossings (seg-seg vs every polygon edge), sort, then keep
    * each span whose midpoint is inside. */
  def linePolyClipLength(line: Array[Double], rings: Array[Array[Double]]): Double = {
    var total = 0.0
    var i = 0
    while (i < line.length - 3) {
      total += segPolyClipLength(line(i), line(i + 1), line(i + 2), line(i + 3), rings)
      i += 2
    }
    total
  }

  def segPolyClipLength(x1: Double, y1: Double, x2: Double, y2: Double,
                        rings: Array[Array[Double]]): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val len = math.sqrt(dx * dx + dy * dy)
    if (len == 0.0) return 0.0
    val ts = scala.collection.mutable.ArrayBuffer[Double](0.0, 1.0)
    var ri = 0
    while (ri < rings.length) {
      val ring = rings(ri)
      val n = ring.length / 2
      var e = 0
      while (e < n) {
        val j = (e + 1) % n
        Geo.segSegInt(x1, y1, x2, y2, ring(2 * e), ring(2 * e + 1),
                      ring(2 * j), ring(2 * j + 1)).foreach { case (t, _, _, _) =>
          ts += t
        }
        e += 1
      }
      ri += 1
    }
    val sorted = ts.distinct.sorted
    var s = 0.0
    var k = 0
    while (k < sorted.length - 1) {
      val a = sorted(k); val b = sorted(k + 1)
      if (b > a) {
        val mx = x1 + (a + b) / 2 * dx
        val my = y1 + (a + b) / 2 * dy
        // midpoint containment decides the span (intersect.c:486-502);
        // EDGE midpoints (span lying on the boundary) count as in
        if (Geo.pointInPolygon(mx, my, rings) == Geo.IN) s += (b - a) * len
      }
      k += 1
    }
    s
  }

  // ------------------------------------------------- general polygon×polygon

  import org.locationtech.jts.geom.{Coordinate, GeometryFactory, LinearRing, Polygon => JtsPolygon, Geometry => JtsGeom}
  import org.locationtech.jts.geom.util.GeometryFixer
  import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}

  private val gf = new GeometryFactory()

  def toJts(rings: Array[Array[Double]]): JtsPolygon = {
    def ringOf(a: Array[Double]): LinearRing = {
      val n = a.length / 2
      val closed = n > 0 && a(0) == a(2 * n - 2) && a(1) == a(2 * n - 1)
      val m = if (closed) n else n + 1
      val cs = new Array[Coordinate](m)
      var i = 0
      while (i < n) { cs(i) = new Coordinate(a(2 * i), a(2 * i + 1)); i += 1 }
      if (!closed) cs(n) = new Coordinate(a(0), a(1))
      gf.createLinearRing(cs)
    }
    val shell = ringOf(rings(0))
    val holes = rings.drop(1).map(ringOf)
    gf.createPolygon(shell, holes)
  }

  /** True when the polygon is a single axis-aligned rectangle ring (every
    * vertex on a corner of its own bbox, ≥2 distinct corners per axis) — the
    * common shape of admin tiles, grid cells, and bbox masks. */
  def isAxisRect(g: Array[Array[Double]], b: BBox): Boolean = {
    if (g.length != 1) return false
    val ring = g(0)
    var n = ring.length / 2
    if (n < 4) return false
    // tolerate (but drop) a closing duplicate vertex
    if (ring(0) == ring(2 * n - 2) && ring(1) == ring(2 * n - 1)) n -= 1
    if (n != 4) return false
    if (b.xmin == b.xmax || b.ymin == b.ymax) return false
    // the 4 distinct vertices must be exactly the 4 distinct bbox corners,
    // each hit once (a closed triangle with all vertices on corners would
    // otherwise slip through and clip against the FULL bbox)
    val hits = new Array[Int](4)
    var i = 0
    while (i < n) {
      val x = ring(2 * i); val y = ring(2 * i + 1)
      val cx = if (x == b.xmin) 0 else if (x == b.xmax) 1 else return false
      val cy = if (y == b.ymin) 0 else if (y == b.ymax) 1 else return false
      hits(2 * cy + cx) += 1
      i += 1
    }
    if (hits.exists(_ != 1)) return false
    // consecutive vertices must share exactly one axis (reject bowtie order)
    i = 0
    while (i < n) {
      val j = (i + 1) % n
      val sameX = ring(2 * i) == ring(2 * j)
      val sameY = ring(2 * i + 1) == ring(2 * j + 1)
      if (sameX == sameY) return false
      i += 1
    }
    true
  }

  /** Area of A ∩ B for arbitrary polygons-with-holes (replaces GPC Vatti,
    * gpc.c:1117). Fast paths: disjoint bboxes; either side an axis-aligned
    * rectangle (Sutherland–Hodgman, no JTS objects); covered-by shortcut
    * (the PG trick, template_polygon_noFF_withWA.csh:39-49). */
  def polyPolyClipArea(a: Array[Array[Double]], b: Array[Array[Double]]): Double = {
    val ba = Geo.bboxOfPolygon(a); val bb = Geo.bboxOfPolygon(b)
    if (!ba.intersects(bb)) return 0.0
    if (isAxisRect(b, bb)) return polygonRectClipArea(a, bb)
    if (isAxisRect(a, ba)) return polygonRectClipArea(b, ba)
    jtsIntersection(a, b).getArea
  }

  /** A ∩ B as ring arrays (multipolygon flattened: each outer ring CCW
    * followed by its holes CW — compatible with Geo.polygonArea /
    * pointInPolygon parity semantics). Empty when disjoint. Rect sides take
    * the Sutherland–Hodgman path (winding preserved, holes stay holes). */
  def polyPolyClip(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val ba = Geo.bboxOfPolygon(a); val bb = Geo.bboxOfPolygon(b)
    if (!ba.intersects(bb)) return Array.empty
    if (isAxisRect(b, bb))
      return a.map(r => clipRingRect(r, bb)).filter(_.length >= 6)
    if (isAxisRect(a, ba))
      return b.map(r => clipRingRect(r, ba)).filter(_.length >= 6)
    fromJts(jtsIntersection(a, b))
  }

  /** A ∩ B of two non-rectangles through JTS: the covered-by shortcut, else
    * the snap-rounding-robust OverlayNG. An invalid side (a hole crossing
    * its shell, a self-intersecting ring) is first repaired by
    * GeometryFixer; on such input any overlay throws "side location
    * conflict". A valid side is used as it is. */
  private def jtsIntersection(a: Array[Array[Double]], b: Array[Array[Double]]): JtsGeom = {
    def valid(g: JtsPolygon): JtsGeom = if (g.isValid) g else GeometryFixer.fix(g)
    val ja = valid(toJts(a)); val jb = valid(toJts(b))
    if (jb.covers(ja)) ja
    else if (ja.covers(jb)) jb
    else OverlayNGRobust.overlay(ja, jb, OverlayNG.INTERSECTION)
  }

  /** JTS geometry → flat ring arrays; non-polygonal pieces (lines/points
    * from degenerate touches) are dropped, matching the reference which only
    * keeps area-bearing fragments for polygon joins. */
  def fromJts(g: JtsGeom): Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    def ringToFlat(r: org.locationtech.jts.geom.LineString, wantCcw: Boolean): Array[Double] = {
      val cs = r.getCoordinates
      // drop the closing duplicate
      val n = cs.length - 1
      val flat = new Array[Double](2 * n)
      var i = 0
      while (i < n) { flat(2 * i) = cs(i).x; flat(2 * i + 1) = cs(i).y; i += 1 }
      val ccw = Geo.signedArea(flat) > 0
      if (ccw == wantCcw) flat
      else { // reverse vertex order
        val rev = new Array[Double](2 * n)
        var j = 0
        while (j < n) {
          rev(2 * j) = flat(2 * (n - 1 - j)); rev(2 * j + 1) = flat(2 * (n - 1 - j) + 1)
          j += 1
        }
        rev
      }
    }
    def addPoly(p: JtsPolygon): Unit = {
      out += ringToFlat(p.getExteriorRing, wantCcw = true)
      var i = 0
      while (i < p.getNumInteriorRing) {
        out += ringToFlat(p.getInteriorRingN(i), wantCcw = false)
        i += 1
      }
    }
    g match {
      case p: JtsPolygon => if (!p.isEmpty) addPoly(p)
      case mp: org.locationtech.jts.geom.GeometryCollection =>
        var i = 0
        while (i < mp.getNumGeometries) {
          mp.getGeometryN(i) match {
            case p: JtsPolygon if !p.isEmpty => addPoly(p)
            case _ =>
          }
          i += 1
        }
      case _ =>
    }
    out.toArray
  }

  /** Polyline ∩ polygon as the list of inside sub-segments, flattened to
    * one polyline-piece array per span (intersect.c:274-512 emits inside
    * sub-segments the same way). */
  def linePolyClipSegments(line: Array[Double], rings: Array[Array[Double]]): Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var i = 0
    while (i < line.length - 3) {
      val x1 = line(i); val y1 = line(i + 1)
      val x2 = line(i + 2); val y2 = line(i + 3)
      val dx = x2 - x1; val dy = y2 - y1
      val len = math.sqrt(dx * dx + dy * dy)
      if (len > 0) {
        val ts = scala.collection.mutable.ArrayBuffer[Double](0.0, 1.0)
        var ri = 0
        while (ri < rings.length) {
          val ring = rings(ri); val n = ring.length / 2
          var e = 0
          while (e < n) {
            val j = (e + 1) % n
            Geo.segSegInt(x1, y1, x2, y2, ring(2 * e), ring(2 * e + 1),
                          ring(2 * j), ring(2 * j + 1)).foreach { case (t, _, _, _) => ts += t }
            e += 1
          }
          ri += 1
        }
        val sorted = ts.distinct.sorted
        var k = 0
        while (k < sorted.length - 1) {
          val a = sorted(k); val b = sorted(k + 1)
          if (b > a) {
            val mx = x1 + (a + b) / 2 * dx; val my = y1 + (a + b) / 2 * dy
            if (Geo.pointInPolygon(mx, my, rings) == Geo.IN)
              out += Array(x1 + a * dx, y1 + a * dy, x1 + b * dx, y1 + b * dy)
          }
          k += 1
        }
      }
      i += 2
    }
    out.toArray
  }

  /** Geometric union of many polygons (the OVERLAY ShapeFile mask path,
    * union.c:22) — JTS unary union. */
  def unionAll(polys: Seq[Array[Array[Double]]]): JtsGeom = {
    val geoms = polys.map(p => toJts(p): JtsGeom)
    org.locationtech.jts.operation.union.UnaryUnionOp.union(
      scala.jdk.CollectionConverters.SeqHasAsJava(geoms).asJava)
  }
}
