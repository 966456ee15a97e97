package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.geom.Geo
import graft.cells.{CellDomain, CellIndex}
import graft.grid.GridSpec
import graft.spark.expressions._

/** Column-level geometry functions.
  *
  * Regular-grid math (point→col/row/cell, in-grid tests) is plain column
  * arithmetic (`floor`, `cast`, `pmod`): no grid table is materialized,
  * mirroring the closed-form id math of the reference (surrogate.c:425-431,
  * regularGridReader.c:191-296). Every geometry kernel of the surrogate and
  * spatial-join paths (PIP, cell covers, bboxes, areas and lengths, clips) is
  * a native Catalyst expression (`spark/expressions`): it reads the rings
  * from Tungsten `ArrayData` without boxing them, its generated code is one
  * static call into PipKernel / CellKernel / RingKernel, and plans name it
  * by its kernel (`poly_clip_geom`, `line_len`, …). The exact kernels sit
  * after the cell-cover equi-join prefilter, so they run on candidate pairs
  * only. The five Scala UDFs left are two twins kept to cross-check a
  * native expression and the adaptive-cover, ancestor and centroid helpers
  * off those paths.
  *
  * Single-evaluation fence: an exact kernel whose result is both filtered
  * (empty or zero-measure pieces dropped) and projected is wrapped in
  * [[fence]] — the rationale on TextHash.jaccardVerifyUdf. Left bare,
  * Catalyst pushes the filter through the projection into the cell-join
  * condition, where the clip runs AHEAD of the cheap reference-point test
  * on every candidate — twice when two filters read it — and then once
  * more in the projection. Fenced, it runs once per canonical candidate,
  * or once per (fragment, cell) row, in a Project above the join or
  * explode. The kernels are pure; only the optimizer's freedom to copy and
  * push them changes. The shared area/length measures stay unfenced, so
  * filters over them still push down to the scan; a caller that filters
  * and projects one fences its own copy.
  */
object GeoFunctions {

  // --------------------------------------------- regular grid, closed form

  /** 1-based grid column of x; values outside [1,ncols] mean off-grid. */
  def gridCol(x: Column, g: GridSpec): Column =
    (floor((x - g.xorig) / g.xcell).cast("int") + 1).as("col")

  def gridRow(y: Column, g: GridSpec): Column =
    (floor((y - g.yorig) / g.ycell).cast("int") + 1).as("row")

  /** 0-based cell id (Sources.regularGrid layout: id = (row-1)·ncols +
    * (col-1)) → 1-based COL/ROW. The ONE place this arithmetic lives —
    * every id↔(col,row) conversion must agree with regularGrid's layout. */
  def cellIdCol(id: Column, g: GridSpec): Column =
    (pmod(id, lit(g.ncols)) + 1).cast("int").as("col")

  def cellIdRow(id: Column, g: GridSpec): Column =
    (floor(id / g.ncols) + 1).cast("int").as("row")

  def inGrid(c: Column, r: Column, g: GridSpec): Column =
    c.between(1, g.ncols) && r.between(1, g.nrows)

  // --------------------------------------------- hierarchical cell index

  private def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.ExprBridge.column(e)
  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ExprBridge.expression(c)

  /** Point → Z-order cell id at resolution res (batched cell-encode stage).
    * Native codegen expression — stays inside WholeStageCodegen, no boxing. */
  def cellEncode(x: Column, y: Column, d: CellDomain, res: Int): Column =
    exprCol(CellEncodeExpr(
      exprOf(x.cast("double")), exprOf(y.cast("double")),
      d.xmin, d.ymin, d.xmax, d.ymax, res))

  /** Base-32 geohash of (lon, lat) at a fixed precision — the lon-lat
    * sibling of cellEncode, same codegen discipline. */
  def geohash(lon: Column, lat: Column, precision: Int): Column =
    exprCol(GeohashExpr(
      exprOf(lon.cast("double")), exprOf(lat.cast("double")), precision))

  /** UDF twin of cellEncode, kept for cross-checking the native expression. */
  def cellEncodeUdf(x: Column, y: Column, d: CellDomain, res: Int): Column = {
    val f = udf((px: Double, py: Double) => CellIndex.encode(px, py, d, res))
      .withName("cell_encode_udf")
    f(x, y)
  }

  /** Geometry (polygon rings) → covering Z-cells; explode() this to build
    * the equi-join key (the scalable replacement for OVERLAP2 bbox loops).
    * Native codegen expression over raw ArrayData. */
  def polyCoverCells(geom: Column, d: CellDomain, res: Int): Column =
    exprCol(CoverCellsExpr(exprOf(geom), polygon = true, d, res))

  def lineCoverCells(line: Column, d: CellDomain, res: Int): Column =
    exprCol(CoverCellsExpr(exprOf(line), polygon = false, d, res))

  /** Adaptive (multi-resolution) cover of a polygon: few coarse cells for
    * huge geometries, maxRes cells for small ones — bounds the explode
    * factor on mixed-size layers. Join partner: cellAncestors on points. */
  def polyAdaptiveCoverCells(geom: Column, d: CellDomain, maxRes: Int,
                             maxCells: Int = 4): Column = {
    val f = udf((rings: Seq[Seq[Double]]) =>
      CellIndex.adaptiveCover(
        Geo.bboxOfPolygon(rings.map(_.toArray).toArray), d, maxRes, maxCells))
      .withName("poly_adaptive_cover_cells")
    f(geom)
  }

  /** A point's cell id at every resolution 0..maxRes (multi-res probe keys). */
  def cellAncestors(x: Column, y: Column, d: CellDomain, maxRes: Int): Column = {
    val f = udf((px: Double, py: Double) =>
      CellIndex.ancestors(px, py, d, maxRes)).withName("cell_ancestors")
    f(x, y)
  }

  // --------------------------------------------- exact kernels

  /** The single-evaluation fence (header) around a kernel call. */
  def fence(c: Column): Column = exprCol(Fence(exprOf(c)))

  /** Reference-semantics point-in-polygon (EDGE in, VTX excluded, hole
    * parity; inpoly.c / sumpoly.c:184-187). */
  def pipStatus(x: Column, y: Column, geom: Column): Column =
    exprCol(PointInPolygonStatus(
      exprOf(x.cast("double")), exprOf(y.cast("double")), exprOf(geom)))

  /** UDF twin of pipStatus, kept for cross-checking the native expression. */
  val pipStatusUdf = udf((px: Double, py: Double, rings: Seq[Seq[Double]]) =>
    Geo.pointInPolygon(px, py, rings.map(_.toArray).toArray))
    .withName("pip_status_udf")

  def containsPoint(x: Column, y: Column, geom: Column): Column =
    pipStatus(x, y, geom) === Geo.IN

  /** Polygon area, holes subtracting (polyops.c:485-497). */
  def polygonArea(geom: Column): Column = exprCol(PolyArea(exprOf(geom)))

  /** Polyline length: planar, or great-circle meters over lon/lat degrees
    * when `curved` — the USE_CURVED_LINES env contract (polyops.c:421-474). */
  def lineLength(line: Column, curved: Boolean): Column =
    exprCol(LineLength(exprOf(line), curved))

  /** Vertex-mean centroid (x, y) of a polygon's outer ring, the closing
    * vertex dropped as Geo.vertexMeanCentroid does, in built-in array
    * arithmetic: NULL for a NULL polygon, one with no rings or an empty
    * outer ring. `get` reads out of bounds as NULL, and the mean runs only
    * over a positive vertex count (`sequence(0, -1)` counts down). */
  def vertexMeanCentroid(geom: Column): (Column, Column) = {
    val ring = get(geom, lit(0))
    val n = shiftright(size(ring), 1)
    val last = n * 2 - 2
    val closed = n > 1 && get(ring, lit(0)) === get(ring, last) &&
      get(ring, lit(1)) === get(ring, last + 1)
    val m = when(closed, n - 1).otherwise(n)
    def mean(off: Int): Column = when(m > 0, aggregate(sequence(lit(0), m - 1),
      lit(0.0), (acc, i) => acc + get(ring, i * 2 + off)) / m)
    (mean(0), mean(1))
  }

  /** Clipped geometry of polygon ∩ polygon as rings (for fragment rows).
    * Fenced: runs once per canonical candidate (see header). */
  def polyClipGeom(a: Column, b: Column): Column =
    fence(exprCol(PolyClipGeom(exprOf(a), exprOf(b))))

  /** Area of polygon ∩ one grid cell (rect fast path, exact). Fenced: runs
    * once per (fragment, cell) row. */
  def polyCellClipArea(geom: Column, cellId: Column, g: GridSpec): Column =
    fence(exprCol(PolyCellClipArea(exprOf(geom), exprOf(cellId), g)))

  /** Grid cells covered by a polygon's bbox (closed-form; explode for the
    * fragment×cell stage — the reference's fillPolyIntInfo candidate
    * enumeration, sumpoly.c:385-423). */
  def polyGridCoverCells(geom: Column, g: GridSpec): Column =
    exprCol(GridCoverCells(exprOf(geom), g, polygon = true))

  def lineGridCoverCells(line: Column, g: GridSpec): Column =
    exprCol(GridCoverCells(exprOf(line), g, polygon = false))

  /** Polyline ∩ polygon as clipped sub-segments (flat polyline pieces).
    * Fenced: runs once per canonical candidate (see header). */
  def lineClipSegs(line: Column, geom: Column): Column =
    fence(exprCol(LineClipSegs(exprOf(line), exprOf(geom))))

  /** Length of polyline ∩ one grid cell (Liang–Barsky fast path); when
    * `curved`, clip geometrically (exact endpoints) and measure each span
    * with haversine. Fenced: runs once per (piece, cell) row. */
  def lineCellClipLength(line: Column, cellId: Column, g: GridSpec,
                         curved: Boolean): Column =
    fence(exprCol(LineCellClipLength(exprOf(line), exprOf(cellId), g, curved)))

  /** [xmin, ymin, xmax, ymax] of a polygon (for reference-point dedup +
    * pruning). */
  def polyBBox(geom: Column): Column = exprCol(BBoxOf(exprOf(geom), polygon = true))

  /** [xmin, ymin, xmax, ymax] of a polyline. */
  def lineBBox(line: Column): Column = exprCol(BBoxOf(exprOf(line), polygon = false))

  /** Reference-point pair dedup for cell-cover joins: true only in the one
    * canonical cell containing (max(xmins), max(ymins)) of the two bboxes —
    * each intersecting pair is kept exactly once with NO dropDuplicates
    * shuffle (standard PBSM/reference-point technique).
    *
    * Takes PRECOMPUTED bbox columns ([xmin,ymin,xmax,ymax], one scan per
    * ROW, via polyBBox) so the per-candidate-PAIR test is pure codegen
    * column arithmetic — no ring scans in the join's inner loop. */
  def isCanonicalCellBB(aBB: Column, bBB: Column, cell: Column,
                        d: CellDomain, res: Int): Column =
    cellEncode(greatest(aBB.getItem(0), bBB.getItem(0)),
               greatest(aBB.getItem(1), bBB.getItem(1)), d, res) === cell
}
