package graft.spark.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import graft.cells.{CellDomain, CellIndex}

/** Native Catalyst expressions (with codegen) for the engine's hottest
  * per-row kernels. These replace Scala UDFs on the flagship path: a UDF
  * re-encodes every row through boxed Seq[Seq[Double]] converters, while
  * these read Tungsten `ArrayData` in place — zero per-row allocation, and
  * the call stays inside WholeStageCodegen.
  */
object PipKernel {

  /** classifyRing (inpoly.c:41-99) over raw ArrayData — semantics identical
    * to graft.geom.Geo.classifyRing (property-tested against it). */
  def classifyRing(px: Double, py: Double, ring: ArrayData): Int = {
    val n = ring.numElements() / 2
    var rcross = 0; var lcross = 0
    var i = 0
    while (i < n) {
      val x1 = ring.getDouble(2 * i) - px
      val y1 = ring.getDouble(2 * i + 1) - py
      if (x1 == 0.0 && y1 == 0.0) return 3 // VTX
      val j = (i + 1) % n
      val x2 = ring.getDouble(2 * j) - px
      val y2 = ring.getDouble(2 * j + 1) - py
      val rStrad = (y1 > 0) != (y2 > 0)
      val lStrad = (y1 < 0) != (y2 < 0)
      if (rStrad || lStrad) {
        val xc = (x1 * y2 - x2 * y1) / (y2 - y1)
        if (rStrad && xc > 0) rcross += 1
        if (lStrad && xc < 0) lcross += 1
      }
      i += 1
    }
    if ((rcross % 2) != (lcross % 2)) 2      // EDGE
    else if (rcross % 2 == 1) 1              // IN
    else 0                                   // OUT
  }

  /** pointInPolygon (Geo.pointInPolygon semantics: EDGE in, VTX excluded,
    * hole parity via contain count). */
  def pipStatus(px: Double, py: Double, rings: ArrayData): Int = {
    var containCount = 0
    var r = 0
    val nr = rings.numElements()
    while (r < nr) {
      val st = classifyRing(px, py, rings.getArray(r))
      if (st == 3) return 3
      if (st == 1 || st == 2) containCount += 1
      r += 1
    }
    if (containCount % 2 == 1) 1 else 0
  }
}

/** pip(x, y, rings): Int status (0 OUT / 1 IN / 3 VTX; EDGE folded into the
  * hole-parity count, like Geo.pointInPolygon). */
case class PointInPolygonStatus(first: Expression, second: Expression,
                                third: Expression)
    extends TernaryExpression {

  // inputs are built internally with explicit casts: (double, double,
  // array<array<double>>) — no analyzer-inserted coercion needed
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pip_status"

  override protected def nullSafeEval(x: Any, y: Any, rings: Any): Any =
    PipKernel.pipStatus(x.asInstanceOf[Double], y.asInstanceOf[Double],
      rings.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, r) =>
      s"graft.spark.expressions.PipKernel.pipStatus($x, $y, $r)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** cell_encode(x, y): Long Z-order cell id at a fixed domain/resolution —
  * the batched geotag/cell-encode stage as a codegen'd expression. */
case class CellEncodeExpr(left: Expression, right: Expression,
                          xmin: Double, ymin: Double,
                          xmax: Double, ymax: Double, res: Int)
    extends BinaryExpression {

  // inputs are built internally with explicit casts to double
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_encode"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    CellIndex.encode(x.asInstanceOf[Double], y.asInstanceOf[Double],
      CellDomain(xmin, ymin, xmax, ymax), res)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.spark.expressions.CellKernel.encode($x, $y, $xmin, $ymin, $xmax, $ymax, $res)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen entry point for CellEncodeExpr (static-call-friendly shim). */
object CellKernel {
  def encode(x: Double, y: Double, xmin: Double, ymin: Double,
             xmax: Double, ymax: Double, res: Int): Long =
    CellIndex.encode(x, y, CellDomain(xmin, ymin, xmax, ymax), res)
}

/** Geohash encode kernel — the classic interval-bisection algorithm
  * (public base-32 geohash, Niemeyer 2008). Bisection midpoints starting
  * from ±180/±90 are exact dyadic doubles, so the encoding is fully
  * deterministic for every input double: no multiply-then-floor rounding
  * ambiguity, which is what lets a SQL oracle re-derive the bits with
  * integer arithmetic on lattice fixtures. */
object GeoHashKernel {
  private val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz".toCharArray

  def encode(lon: Double, lat: Double, precision: Int):
      org.apache.spark.unsafe.types.UTF8String = {
    val out = new Array[Char](precision)
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    var isLon = true; var bits = 0; var ch = 0; var pos = 0
    var i = 0
    val total = precision * 5
    while (i < total) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      isLon = !isLon
      bits += 1
      if (bits == 5) { out(pos) = Alphabet(ch); pos += 1; bits = 0; ch = 0 }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(new String(out))
  }
}

/** geohash(lon, lat): base-32 geohash string at a fixed precision — the
  * world-standard shard/join key for lon-lat data; codegen'd like the
  * planar cell encode so a geotag stage can emit both keys in one pass. */
case class GeohashExpr(left: Expression, right: Expression, precision: Int)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "geohash"

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    GeoHashKernel.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      precision)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) =>
      s"graft.spark.expressions.GeoHashKernel.encode($lon, $lat, $precision)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
