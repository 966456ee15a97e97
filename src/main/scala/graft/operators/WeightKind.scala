package graft.operators

import org.apache.spark.sql.DataFrame

/** A layer's geometry kind: x/y points, `line` polylines or `geom`
  * polygons. The reference decides it once per layer, in its reader
  * dispatch on the shape type (PolyReader.c:50-150); here a layer's kind is
  * parsed once, by one of the two parsers below, and every surrogate,
  * reprojection and overlay dispatch reads that value. */
sealed trait WeightKind

object WeightKind {
  case object PointW extends WeightKind
  case object LineW extends WeightKind
  case object PolyW extends WeightKind

  /** The env contract's WEIGHT_FILE_TYPE / INPUT_FILE_TYPE: Point and
    * PointFile are points, Line is lines, anything else (Polygon,
    * ShapeFile, RegularGrid, …) is polygons. */
  def fromFileType(ftype: String): WeightKind = ftype match {
    case "Point" | "PointFile" => PointW
    case "Line" => LineW
    case _ => PolyW
  }

  /** A layer's kind from its schema: a `line` column makes it lines, else
    * a `geom` column polygons, else it is points. `line` is tested first,
    * so a table carrying both columns is a line layer throughout: it is
    * reprojected and generated as lines. */
  def of(df: DataFrame): WeightKind =
    if (df.columns.contains("line")) LineW
    else if (df.columns.contains("geom")) PolyW
    else PointW
}
