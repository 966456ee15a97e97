package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.geom.{Geo, Clip}
import graft.cells.{CellDomain, CellIndex}
import graft.grid.GridSpec

/** Column-level geometry functions.
  *
  * Two tiers, chosen deliberately for scale:
  *   - regular-grid math (point→col/row/cell, in-grid tests) is PURE COLUMN
  *     ARITHMETIC (`floor`, `cast`, `pmod`) — whole-stage-codegen'd, no UDF,
  *     no grid table materialized, mirroring the closed-form id math of the
  *     reference (surrogate.c:425-431, regularGridReader.c:191-296);
  *   - exact geometry kernels (PIP, clip areas/lengths, cell cover) are Scala
  *     UDFs over flat ring arrays (array<array<double>>). These sit AFTER the
  *     cell-cover equi-join prefilter, so they run on candidate pairs only.
  *
  * Every UDF carries a name (`withName`), so plans and `plans/` dumps show
  * which kernel runs in which operator instead of anonymous `UDF(...)`.
  *
  * Single-evaluation fence: an exact kernel whose result is both filtered
  * (empty or zero-measure pieces dropped) and projected is marked
  * `asNondeterministic()` — the rationale on TextHash.jaccardVerifyUdf.
  * Left deterministic, Catalyst pushes the filter through the projection
  * into the cell-join condition, where the clip runs AHEAD of the cheap
  * reference-point test on every candidate — twice when two filters read
  * it — and then once more in the projection. Fenced, it runs once per
  * canonical candidate, or once per (fragment, cell) row, in a Project
  * above the join or explode. The kernels are pure; only the optimizer's
  * freedom to copy and push them changes. The shared area/length measures
  * stay deterministic, so filters over them still push down to the scan;
  * a caller that filters and projects one fences its own copy.
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
    exprCol(graft.spark.expressions.CellEncodeExpr(
      exprOf(x.cast("double")), exprOf(y.cast("double")),
      d.xmin, d.ymin, d.xmax, d.ymax, res))

  /** Base-32 geohash of (lon, lat) at a fixed precision — the lon-lat
    * sibling of cellEncode, same codegen discipline. */
  def geohash(lon: Column, lat: Column, precision: Int): Column =
    exprCol(graft.spark.expressions.GeohashExpr(
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
    exprCol(graft.spark.expressions.CoverCellsExpr(
      exprOf(geom), d.xmin, d.ymin, d.xmax, d.ymax, res))

  def lineCoverCells(line: Column, d: CellDomain, res: Int): Column = {
    val f = udf((l: Seq[Double]) =>
      CellIndex.coverCells(Geo.bboxOfRing(l.toArray), d, res))
      .withName("line_cover_cells")
    f(line)
  }

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

  // --------------------------------------------- exact kernels (UDF tier)

  /** Reference-semantics point-in-polygon (EDGE in, VTX excluded, hole
    * parity; inpoly.c / sumpoly.c:184-187). Native codegen expression
    * reading Tungsten ArrayData in place — no per-row ring materialization. */
  def pipStatus(x: Column, y: Column, geom: Column): Column =
    exprCol(graft.spark.expressions.PointInPolygonStatus(
      exprOf(x.cast("double")), exprOf(y.cast("double")), exprOf(geom)))

  /** UDF twin of pipStatus, kept for cross-checking the native expression. */
  val pipStatusUdf = udf((px: Double, py: Double, rings: Seq[Seq[Double]]) =>
    Geo.pointInPolygon(px, py, rings.map(_.toArray).toArray))
    .withName("pip_status_udf")

  def containsPoint(x: Column, y: Column, geom: Column): Column =
    pipStatus(x, y, geom) === Geo.IN

  val polygonAreaUdf = udf((rings: Seq[Seq[Double]]) =>
    Geo.polygonArea(rings.map(_.toArray).toArray)).withName("poly_area")

  val lineLengthUdf = udf((l: Seq[Double]) => Geo.lineLength(l.toArray))
    .withName("line_len")

  /** Great-circle polyline length over lon/lat degrees — USE_CURVED_LINES
    * mode (polyops.c:440-474). */
  val greatCircleLengthUdf = udf((l: Seq[Double]) => Geo.greatCircleLength(l.toArray))
    .withName("great_circle_len")

  /** Length measure selected by the USE_CURVED_LINES env contract. */
  def lineLengthCol(line: Column, curved: Boolean): Column =
    if (curved) greatCircleLengthUdf(line) else lineLengthUdf(line)

  val centroidUdf = udf((rings: Seq[Seq[Double]]) => {
    val (cx, cy) = Geo.vertexMeanCentroid(rings.map(_.toArray).toArray)
    Array(cx, cy)
  }).withName("poly_centroid")

  /** Clipped geometry of polygon ∩ polygon as rings (for fragment rows).
    * Fenced: runs once per canonical candidate (see header). */
  val polyClipGeomUdf = udf((a: Seq[Seq[Double]], b: Seq[Seq[Double]]) =>
    Clip.polyPolyClip(a.map(_.toArray).toArray, b.map(_.toArray).toArray))
    .withName("poly_clip_geom").asNondeterministic()

  /** Area of polygon ∩ one grid cell (rect fast path, exact). Fenced: runs
    * once per (fragment, cell) row. */
  def polyCellClipArea(geom: Column, cellId: Column, g: GridSpec): Column = {
    val f = udf((rings: Seq[Seq[Double]], id: Long) =>
      Clip.polygonRectClipArea(rings.map(_.toArray).toArray, g.cellBBox(id)))
      .withName("poly_cell_clip_area").asNondeterministic()
    f(geom, cellId)
  }

  /** Grid cells covered by a polygon's bbox (closed-form; explode for the
    * fragment×cell stage — the reference's fillPolyIntInfo candidate
    * enumeration, sumpoly.c:385-423). */
  def polyGridCoverCells(geom: Column, g: GridSpec): Column = {
    val f = udf((rings: Seq[Seq[Double]]) =>
      g.coverCells(Geo.bboxOfPolygon(rings.map(_.toArray).toArray)))
      .withName("poly_grid_cover_cells")
    f(geom)
  }

  def lineGridCoverCells(line: Column, g: GridSpec): Column = {
    val f = udf((l: Seq[Double]) => g.coverCells(Geo.bboxOfRing(l.toArray)))
      .withName("line_grid_cover_cells")
    f(line)
  }

  /** Polyline ∩ polygon as clipped sub-segments (flat polyline pieces).
    * Fenced: runs once per canonical candidate (see header). */
  val linePolyClipSegsUdf = udf((l: Seq[Double], rings: Seq[Seq[Double]]) =>
    Clip.linePolyClipSegments(l.toArray, rings.map(_.toArray).toArray))
    .withName("line_clip_segs").asNondeterministic()

  /** Length of polyline ∩ one grid cell (Liang–Barsky fast path). Fenced:
    * runs once per (piece, cell) row. */
  def lineCellClipLength(line: Column, cellId: Column, g: GridSpec): Column = {
    val f = udf((l: Seq[Double], id: Long) =>
      Clip.lineRectClipLength(l.toArray, g.cellBBox(id)))
      .withName("line_cell_clip_len").asNondeterministic()
    f(line, cellId)
  }

  /** Great-circle length of polyline ∩ one grid cell: clip geometrically
    * (exact endpoints), measure each span with haversine. Fenced like
    * lineCellClipLength. */
  def lineCellClipLengthCurved(line: Column, cellId: Column, g: GridSpec): Column = {
    val f = udf((l: Seq[Double], id: Long) => {
      val segs = Clip.lineRectClipSegs(l.toArray, g.cellBBox(id))
      var s = 0.0
      var i = 0
      while (i < segs.length) { s += Geo.greatCircleLength(segs(i)); i += 1 }
      s
    }).withName("line_cell_clip_len_curved").asNondeterministic()
    f(line, cellId)
  }

  /** bbox struct column of a polygon (for reference-point dedup + pruning). */
  val polyBBoxUdf = udf((rings: Seq[Seq[Double]]) => {
    val b = Geo.bboxOfPolygon(rings.map(_.toArray).toArray)
    Array(b.xmin, b.ymin, b.xmax, b.ymax)
  }).withName("poly_bbox")

  /** bbox column of a polyline. */
  val lineBBoxUdf = udf((l: Seq[Double]) => {
    val b = Geo.bboxOfRing(l.toArray)
    Array(b.xmin, b.ymin, b.xmax, b.ymax)
  }).withName("line_bbox")

  /** Reference-point pair dedup for cell-cover joins: true only in the one
    * canonical cell containing (max(xmins), max(ymins)) of the two bboxes —
    * each intersecting pair is kept exactly once with NO dropDuplicates
    * shuffle (standard PBSM/reference-point technique).
    *
    * Takes PRECOMPUTED bbox columns ([xmin,ymin,xmax,ymax], one scan per
    * ROW, via polyBBoxUdf) so the per-candidate-PAIR test is pure codegen
    * column arithmetic — no ring scans in the join's inner loop. */
  def isCanonicalCellBB(aBB: Column, bBB: Column, cell: Column,
                        d: CellDomain, res: Int): Column =
    cellEncode(greatest(aBB.getItem(0), bBB.getItem(0)),
               greatest(aBB.getItem(1), bBB.getItem(1)), d, res) === cell
}
