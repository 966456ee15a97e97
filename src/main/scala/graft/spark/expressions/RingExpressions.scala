package graft.spark.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, Nondeterministic, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import graft.cells.{CellDomain, CellIndex}
import graft.geom.{Clip, Geo}
import graft.geom.Geo.BBox
import graft.grid.GridSpec

/** The ring kernels' native ABI: the geometry functions of the surrogate
  * and spatial-join paths as static calls over Tungsten `ArrayData`.
  *
  * A polyline (or one ring) is `array<double>` x0,y0,x1,y1,…; a polygon is
  * `array<array<double>>`, ring 0 outer (CCW) and holes after it (CW) —
  * the Geo layout. A kernel bulk-copies its rings into `double[]` (a
  * memcpy for `UnsafeArrayData`) and calls the Geo / Clip function it
  * stands for on them, or, for a bbox, reads them in place with
  * Geo.bboxOfRing's loop; it writes primitive arrays back, so no ring is
  * ever boxed. Results are bit-identical to Geo / Clip (RingKernelSpec).
  *
  * A polygon with no rings has the empty bbox (`Geo.EmptyBBox`), so it
  * covers no cell and clips to nothing, like a polygon whose only ring is
  * empty.
  */
object RingKernel {

  // --------------------------------------------------------- reading rings

  /** A polygon's rings as `double[]` copies. */
  private def polygon(a: ArrayData): Array[Array[Double]] = {
    val out = new Array[Array[Double]](a.numElements())
    var i = 0
    while (i < out.length) { out(i) = a.getArray(i).toDoubleArray(); i += 1 }
    out
  }

  /** Geo.bboxOfRing, read in place. */
  private def ringBBox(ring: ArrayData): BBox = {
    var xmin = Double.MaxValue; var ymin = Double.MaxValue
    var xmax = Double.MinValue; var ymax = Double.MinValue
    val n = ring.numElements()
    var i = 0
    while (i < n - 1) {
      val x = ring.getDouble(i); val y = ring.getDouble(i + 1)
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
      i += 2
    }
    BBox(xmin, ymin, xmax, ymax)
  }

  /** The bbox of a polygon (Geo.bboxOfPolygon: its outer ring's), or of a
    * polyline when not `polygon`, read in place. */
  private def bboxOf(geom: ArrayData, polygon: Boolean): BBox =
    if (!polygon) ringBBox(geom)
    else if (geom.numElements() == 0) Geo.EmptyBBox
    else ringBBox(geom.getArray(0))

  // --------------------------------------------------------- writing results

  private def doubles(a: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  private def ringsOf(rs: Array[Array[Double]]): ArrayData =
    new GenericArrayData(rs.map(r => doubles(r): Any))

  private def cellsOf(ids: IndexedSeq[Long]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(ids.toArray)

  private def bboxArray(b: BBox): ArrayData = doubles(Array(b.xmin, b.ymin, b.xmax, b.ymax))

  // --------------------------------------------------------- per-row kernels

  def polyArea(rings: ArrayData): Double = Geo.polygonArea(polygon(rings))

  /** Planar length, or great-circle meters when `curved`. */
  def lineLength(l: ArrayData, curved: Boolean): Double =
    if (curved) Geo.greatCircleLength(l.toDoubleArray()) else Geo.lineLength(l.toDoubleArray())

  def bbox(geom: ArrayData, polygon: Boolean): ArrayData = bboxArray(bboxOf(geom, polygon))

  /** Z-cells at `res` covering a polygon's (or polyline's) bbox. */
  def coverCells(geom: ArrayData, polygon: Boolean, d: CellDomain, res: Int): ArrayData =
    cellsOf(CellIndex.coverCells(bboxOf(geom, polygon), d, res))

  /** Grid cells covering a polygon's (or polyline's) bbox. */
  def gridCoverCells(geom: ArrayData, polygon: Boolean, g: GridSpec): ArrayData =
    cellsOf(g.coverCells(bboxOf(geom, polygon)))

  /** Clip.polyPolyClip: A ∩ B as rings. */
  def polyClipGeom(a: ArrayData, b: ArrayData): ArrayData =
    ringsOf(Clip.polyPolyClip(polygon(a), polygon(b)))

  /** Clip.linePolyClipSegments: the inside pieces of a polyline. */
  def lineClipSegs(l: ArrayData, rings: ArrayData): ArrayData =
    ringsOf(Clip.linePolyClipSegments(l.toDoubleArray(), polygon(rings)))

  // --------------------------------------------------------- per-cell kernels

  /** Length of a polyline ∩ grid cell `id`: Clip.lineRectClipLength, or,
    * when `curved`, the great-circle meters of Clip.lineRectClipSegs. */
  def lineCellClipLength(l: ArrayData, id: Long, g: GridSpec, curved: Boolean): Double = {
    val line = l.toDoubleArray()
    val r = g.cellBBox(id)
    if (!curved) Clip.lineRectClipLength(line, r)
    else {
      val segs = Clip.lineRectClipSegs(line, r)
      var s = 0.0
      var i = 0
      while (i < segs.length) { s += Geo.greatCircleLength(segs(i)); i += 1 }
      s
    }
  }

  /** Clip.polygonRectClipArea: area of the polygon ∩ grid cell `id`. */
  def polyCellClipArea(rings: ArrayData, id: Long, g: GridSpec): Double =
    Clip.polygonRectClipArea(polygon(rings), g.cellBBox(id))
}

/** Types of the ring kernels: a polyline is `array<double>`, a polygon
  * `array<array<double>>`, a cell id `bigint`. Inputs are implicitly cast
  * (ImplicitCastInputTypes), so an integer-lattice ring is read as doubles
  * and never as raw integer bytes. */
private[expressions] object RingTypes {
  val Line: DataType = ArrayType(DoubleType)
  val Polygon: DataType = ArrayType(ArrayType(DoubleType))
  val Cells: DataType = ArrayType(LongType, containsNull = false)
  val BBoxType: DataType = ArrayType(DoubleType, containsNull = false)
  val RingsType: DataType = ArrayType(ArrayType(DoubleType, containsNull = false))
  val K = "graft.spark.expressions.RingKernel"
}
import RingTypes._

/** poly_area(rings): Geo.polygonArea. */
case class PolyArea(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(Polygon)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "poly_area"
  override protected def nullSafeEval(r: Any): Any = RingKernel.polyArea(r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, r => s"$K.polyArea($r)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** line_len(line) — or great_circle_len(line) when `curved`: Geo.lineLength
  * / Geo.greatCircleLength (the USE_CURVED_LINES mode, polyops.c:440-474). */
case class LineLength(child: Expression, curved: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(Line)
  override def dataType: DataType = DoubleType
  override def prettyName: String = if (curved) "great_circle_len" else "line_len"
  override protected def nullSafeEval(l: Any): Any =
    RingKernel.lineLength(l.asInstanceOf[ArrayData], curved)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"$K.lineLength($l, $curved)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** poly_bbox(rings) / line_bbox(line): [xmin, ymin, xmax, ymax]. */
case class BBoxOf(child: Expression, polygon: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(if (polygon) Polygon else Line)
  override def dataType: DataType = BBoxType
  override def prettyName: String = if (polygon) "poly_bbox" else "line_bbox"
  override protected def nullSafeEval(g: Any): Any =
    RingKernel.bbox(g.asInstanceOf[ArrayData], polygon)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, g => s"$K.bbox($g, $polygon)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** cover_cells(rings) / line_cover_cells(line): the Z-cells at `res`
  * covering the bbox (the explode side of the spatial-join prefilter). */
case class CoverCellsExpr(child: Expression, polygon: Boolean, domain: CellDomain, res: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(if (polygon) Polygon else Line)
  override def dataType: DataType = Cells
  override def prettyName: String = if (polygon) "cover_cells" else "line_cover_cells"
  override protected def nullSafeEval(g: Any): Any =
    RingKernel.coverCells(g.asInstanceOf[ArrayData], polygon, domain, res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("domain", domain)
    defineCodeGen(ctx, ev, g => s"$K.coverCells($g, $polygon, $d, $res)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** poly_grid_cover_cells(rings) / line_grid_cover_cells(line): the ids of
  * the grid cells covering the bbox (GridSpec.coverCells; the reference's
  * fillPolyIntInfo candidate enumeration, sumpoly.c:385-423). */
case class GridCoverCells(child: Expression, grid: GridSpec, polygon: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(if (polygon) Polygon else Line)
  override def dataType: DataType = Cells
  override def prettyName: String =
    if (polygon) "poly_grid_cover_cells" else "line_grid_cover_cells"
  override protected def nullSafeEval(g: Any): Any =
    RingKernel.gridCoverCells(g.asInstanceOf[ArrayData], polygon, grid)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gr = ctx.addReferenceObj("grid", grid)
    defineCodeGen(ctx, ev, g => s"$K.gridCoverCells($g, $polygon, $gr)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** poly_clip_geom(a, b): A ∩ B as rings (Clip.polyPolyClip). */
case class PolyClipGeom(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(Polygon, Polygon)
  override def dataType: DataType = RingsType
  override def prettyName: String = "poly_clip_geom"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    RingKernel.polyClipGeom(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$K.polyClipGeom($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** line_clip_segs(line, rings): the polyline's inside pieces
  * (Clip.linePolyClipSegments, intersect.c:274-512). */
case class LineClipSegs(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(Line, Polygon)
  override def dataType: DataType = RingsType
  override def prettyName: String = "line_clip_segs"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    RingKernel.lineClipSegs(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"$K.lineClipSegs($l, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** poly_cell_clip_area(rings, cell id): area of the polygon ∩ one grid
  * cell. */
case class PolyCellClipArea(left: Expression, right: Expression, grid: GridSpec)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(Polygon, LongType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "poly_cell_clip_area"
  override protected def nullSafeEval(r: Any, id: Any): Any =
    RingKernel.polyCellClipArea(r.asInstanceOf[ArrayData], id.asInstanceOf[Long], grid)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gr = ctx.addReferenceObj("grid", grid)
    defineCodeGen(ctx, ev, (r, id) => s"$K.polyCellClipArea($r, $id, $gr)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** line_cell_clip_len(line, cell id) — line_cell_clip_len_curved when
  * `curved`: length of the polyline ∩ one grid cell. */
case class LineCellClipLength(left: Expression, right: Expression, grid: GridSpec,
                              curved: Boolean)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(Line, LongType)
  override def dataType: DataType = DoubleType
  override def prettyName: String =
    if (curved) "line_cell_clip_len_curved" else "line_cell_clip_len"
  override protected def nullSafeEval(l: Any, id: Any): Any =
    RingKernel.lineCellClipLength(l.asInstanceOf[ArrayData], id.asInstanceOf[Long], grid,
      curved)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gr = ctx.addReferenceObj("grid", grid)
    defineCodeGen(ctx, ev, (l, id) => s"$K.lineCellClipLength($l, $id, $gr, $curved)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** fence(e): e's value, computed where the fence stands. Being
  * `Nondeterministic`, it keeps Catalyst from copying e into a pushed-down
  * filter or a join condition, so a kernel that is both projected and
  * filtered on runs once per row (the single-evaluation fence of the
  * GeoFunctions header). It adds no work: the generated code is e's own. */
case class Fence(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "fence"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
