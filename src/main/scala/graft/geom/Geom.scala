package graft.geom

/** Pure-Scala computational-geometry kernels (no Spark dependencies).
  *
  * These are the engine's geometry arithmetic. The native Catalyst
  * expressions of the query paths (graft.spark.expressions.RingKernel)
  * read Spark's `ArrayData` and call these functions on the copied rings,
  * or, where they read in place, repeat their arithmetic in the same order;
  * either way their results are bit-identical to the functions here
  * (RingKernelSpec), which stay the reference.
  *
  * Geometry representation used throughout the engine:
  *   - point:   (x: Double, y: Double) pair of columns
  *   - line:    flat Array[Double] of x0,y0,x1,y1,... vertices
  *   - polygon: Array[Array[Double]] of rings; ring 0 outer (CCW),
  *     subsequent rings holes (CW). Flat arrays keep Spark encoders cheap
  *     (ArrayType(ArrayType(DoubleType))) and avoid per-vertex object churn.
  *
  * Semantics mirror the reference implementation:
  *   - signed shoelace area with hole contours subtracting
  *     (reference: src/vector_64bits/polyops.c:385-407, 485-497)
  *   - ray-cast point-in-polygon with IN/OUT/EDGE/VTX classification
  *     (reference: src/vector_64bits/inpoly.c:41-99, O'Rourke)
  *   - planar + great-circle polyline length (polyops.c:421-481)
  *   - centroid = arithmetic mean of vertices, NOT area centroid
  *     (centroid.c:78-105)
  */
object Geo {

  // ---------------------------------------------------------------- bbox

  /** Axis-aligned bounding box; the reference's BoundingBox + OVERLAP2
    * prefilter (mims_spatl.h:76-81). */
  final case class BBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double) {
    def intersects(o: BBox): Boolean =
      xmin <= o.xmax && o.xmin <= xmax && ymin <= o.ymax && o.ymin <= ymax
    def contains(x: Double, y: Double): Boolean =
      x >= xmin && x <= xmax && y >= ymin && y <= ymax
    def width: Double = xmax - xmin
    def height: Double = ymax - ymin
    def area: Double = width * height
    def union(o: BBox): BBox =
      BBox(math.min(xmin, o.xmin), math.min(ymin, o.ymin),
           math.max(xmax, o.xmax), math.max(ymax, o.ymax))
  }

  /** The bbox of nothing (min above max): it intersects no bbox and covers
    * no cell. An empty ring has it, and so does a polygon with no rings. */
  val EmptyBBox: BBox =
    BBox(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)

  def bboxOfRing(ring: Array[Double]): BBox = {
    var xmin = Double.MaxValue; var ymin = Double.MaxValue
    var xmax = Double.MinValue; var ymax = Double.MinValue
    var i = 0
    while (i < ring.length - 1) {
      val x = ring(i); val y = ring(i + 1)
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
      i += 2
    }
    BBox(xmin, ymin, xmax, ymax)
  }

  def bboxOfPolygon(rings: Array[Array[Double]]): BBox =
    // holes are inside the outer ring; ring 0 suffices
    if (rings.isEmpty) EmptyBBox else bboxOfRing(rings(0))

  // ---------------------------------------------------------------- area

  /** Signed shoelace area of one ring: CCW positive. The ring need not be
    * explicitly closed (last vertex == first is tolerated). */
  def signedArea(ring: Array[Double]): Double = signedArea(ring, ring.length / 2)

  /** Signed shoelace area of the ring in the first n vertices of `ring`. */
  def signedArea(ring: Array[Double], n: Int): Double = {
    if (n < 3) return 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      s += ring(2 * i) * ring(2 * j + 1) - ring(2 * j) * ring(2 * i + 1)
      i += 1
    }
    s / 2.0
  }

  /** Polygon area = |Σ signed contour areas| — holes (wound opposite to the
    * outer ring) subtract, mirroring the reference's per-contour signed sum
    * (polyops.c:485-497). */
  def polygonArea(rings: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < rings.length) { s += signedArea(rings(i)); i += 1 }
    math.abs(s)
  }

  // ---------------------------------------------------------------- length

  /** Planar Euclidean polyline length (polyops.c:421-439). */
  def lineLength(line: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < line.length - 3) {
      val dx = line(i + 2) - line(i)
      val dy = line(i + 3) - line(i + 1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 2
    }
    s
  }

  /** Great-circle polyline length in meters over lon/lat degrees — the
    * USE_CURVED_LINES=YES mode (polyops.c:440-474). Earth radius cancels in
    * surrogate ratios but we report meters for standalone use. */
  def greatCircleLength(line: Array[Double], radius: Double = 6370997.0): Double = {
    var s = 0.0
    var i = 0
    while (i < line.length - 3) {
      s += haversine(line(i), line(i + 1), line(i + 2), line(i + 3), radius)
      i += 2
    }
    s
  }

  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
                radius: Double): Double = {
    val rl1 = math.toRadians(lat1); val rl2 = math.toRadians(lat2)
    val dLat = rl2 - rl1
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(rl1) * math.cos(rl2) * math.pow(math.sin(dLon / 2), 2)
    2 * radius * math.asin(math.min(1.0, math.sqrt(a)))
  }

  // ---------------------------------------------------------------- centroid

  /** Centroid = arithmetic mean of the outer ring's vertices (NOT the area
    * centroid) — exact semantics of the reference (centroid.c:78-105). A
    * closing duplicate vertex, if present, is excluded. */
  def vertexMeanCentroid(rings: Array[Array[Double]]): (Double, Double) = {
    val ring = rings(0)
    var n = ring.length / 2
    if (n > 1 && ring(0) == ring(2 * n - 2) && ring(1) == ring(2 * n - 1)) n -= 1
    var sx = 0.0; var sy = 0.0
    var i = 0
    while (i < n) { sx += ring(2 * i); sy += ring(2 * i + 1); i += 1 }
    (sx / n, sy / n)
  }

  // ---------------------------------------------------------------- PIP

  /** Point-vs-ring classification, O'Rourke's algorithm as used by the
    * reference (inpoly.c:41-99): translate so p is origin, count ray
    * crossings right (rcross) and left (lcross); vertex hit → VTX,
    * rcross/lcross parity mismatch → EDGE, rcross odd → IN. */
  final val OUT = 0; final val IN = 1; final val EDGE = 2; final val VTX = 3

  def classifyRing(px: Double, py: Double, ring: Array[Double]): Int = {
    val n = ring.length / 2
    var rcross = 0; var lcross = 0
    var i = 0
    while (i < n) {
      val x1 = ring(2 * i) - px; val y1 = ring(2 * i + 1) - py
      if (x1 == 0.0 && y1 == 0.0) return VTX
      val j = (i + 1) % n
      val x2 = ring(2 * j) - px; val y2 = ring(2 * j + 1) - py
      val rStrad = (y1 > 0) != (y2 > 0)
      val lStrad = (y1 < 0) != (y2 < 0)
      if (rStrad || lStrad) {
        val xc = (x1 * y2 - x2 * y1) / (y2 - y1)
        if (rStrad && xc > 0) rcross += 1
        if (lStrad && xc < 0) lcross += 1
      }
      i += 1
    }
    if ((rcross % 2) != (lcross % 2)) EDGE
    else if (rcross % 2 == 1) IN
    else OUT
  }

  /** Point-in-polygon with the reference's hole + edge + vertex semantics:
    *   - EDGE counts as inside (intersect.c:253)
    *   - a point on a VERTEX is excluded with a warning path
    *     (intersect.c:249-251) — we return VTX and let callers drop it
    *   - a point contained by an even number of contours (solid + hole) is
    *     outside (sumpoly.c:184-187 zeroing)
    * Returns one of OUT / IN / VTX. */
  def pointInPolygon(px: Double, py: Double, rings: Array[Array[Double]]): Int = {
    var containCount = 0
    var i = 0
    while (i < rings.length) {
      classifyRing(px, py, rings(i)) match {
        case VTX          => return VTX
        case IN | EDGE    => containCount += 1
        case _            =>
      }
      i += 1
    }
    if (containCount % 2 == 1) IN else OUT
  }

  /** Boolean convenience: inside with reference semantics (VTX excluded). */
  def containsPoint(px: Double, py: Double, rings: Array[Array[Double]]): Boolean =
    pointInPolygon(px, py, rings) == IN

  // ---------------------------------------------------------------- seg-seg

  /** Segment-segment intersection (segseg.c:35-200). Returns
    * Some((t, u, x, y)) for a proper or endpoint intersection where t is the
    * parameter along (ax,ay)-(bx,by), u along (cx,cy)-(dx,dy); None when
    * parallel-disjoint. Collinear overlap returns the overlap midpoint. */
  def segSegInt(ax: Double, ay: Double, bx: Double, by: Double,
                cx: Double, cy: Double, dx: Double, dy: Double)
      : Option[(Double, Double, Double, Double)] = {
    val denom = ax * (dy - cy) + bx * (cy - dy) + dx * (by - ay) + cx * (ay - by)
    if (denom == 0.0) return collinearOverlap(ax, ay, bx, by, cx, cy, dx, dy)
    val numT = ax * (dy - cy) + cx * (ay - dy) + dx * (cy - ay)
    val numU = -(ax * (cy - by) + bx * (ay - cy) + cx * (by - ay))
    val t = numT / denom
    val u = numU / denom
    if (t >= 0 && t <= 1 && u >= 0 && u <= 1)
      Some((t, u, ax + t * (bx - ax), ay + t * (by - ay)))
    else None
  }

  private def collinearOverlap(ax: Double, ay: Double, bx: Double, by: Double,
                               cx: Double, cy: Double, dx: Double, dy: Double)
      : Option[(Double, Double, Double, Double)] = {
    // area of triangle abc == 0 → collinear
    val cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    if (cross != 0.0) return None
    // project c,d onto ab parameter space
    val lenSq = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
    if (lenSq == 0.0) return None
    val tc = ((cx - ax) * (bx - ax) + (cy - ay) * (by - ay)) / lenSq
    val td = ((dx - ax) * (bx - ax) + (dy - ay) * (by - ay)) / lenSq
    val lo = math.max(0.0, math.min(tc, td))
    val hi = math.min(1.0, math.max(tc, td))
    if (lo > hi) None
    else {
      val tm = (lo + hi) / 2
      Some((tm, 0.5, ax + tm * (bx - ax), ay + tm * (by - ay)))
    }
  }
}
