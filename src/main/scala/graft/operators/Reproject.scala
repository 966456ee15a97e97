package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.grid.Proj

/** CONVERT_SHAPE mode (mims_spatial.c:427-467): reproject a whole layer —
  * every vertex transformed via inverse(from) → forward(to)
  * (mims_spatl_proj.c:363,570), with optional MAX_LINE_SEG densification
  * first so long segments capture projection curvature
  * (SA_ch03_vector.md:244,877-883).
  *
  * Projections are closed-form scalar math over flat coordinate arrays —
  * embarrassingly parallel, no shuffle; Catalyst treats the UDFs as
  * deterministic scalars so pruning/pushdown around them is unaffected. */
object Reproject {

  def pointUdf(from: Proj, to: Proj) = udf((x: Double, y: Double) => {
    val (lon, lat) = from.inverse(x, y)
    val (px, py) = to.forward(lon, lat)
    Array(px, py)
  })

  def lineUdf(from: Proj, to: Proj, maxSeg: Double) = udf((l: Seq[Double]) => {
    val arr = if (maxSeg > 0) Proj.densify(l.toArray, maxSeg) else l.toArray
    Proj.reprojectRing(arr, from, to)
  })

  def polyUdf(from: Proj, to: Proj, maxSeg: Double) = udf((rings: Seq[Seq[Double]]) =>
    rings.map { r =>
      val arr = if (maxSeg > 0) Proj.densify(r.toArray, maxSeg) else r.toArray
      Proj.reprojectRing(arr, from, to)
    })

  /** Reproject point columns (x, y) → same names in the target CRS. */
  def points(df: DataFrame, from: Proj, to: Proj,
             x: String = "x", y: String = "y"): DataFrame = {
    val p = pointUdf(from, to)(col(x), col(y))
    df.withColumn("__p", p)
      .withColumn(x, col("__p").getItem(0))
      .withColumn(y, col("__p").getItem(1))
      .drop("__p")
  }

  /** Reproject a polygon layer's `geom` rings. */
  def polygons(df: DataFrame, from: Proj, to: Proj,
               maxSeg: Double = 0.0, geom: String = "geom"): DataFrame =
    df.withColumn(geom, polyUdf(from, to, maxSeg)(col(geom)))

  /** Reproject a polyline layer's `line` column. */
  def lines(df: DataFrame, from: Proj, to: Proj,
            maxSeg: Double = 0.0, lineCol: String = "line"): DataFrame =
    df.withColumn(lineCol, lineUdf(from, to, maxSeg)(col(lineCol)))

  /** Reproject a layer of the given kind: its x/y points, its `line`
    * polylines or its `geom` rings. */
  def layer(kind: WeightKind, df: DataFrame, from: Proj, to: Proj,
            maxSeg: Double): DataFrame = kind match {
    case WeightKind.PointW => points(df, from, to)
    case WeightKind.LineW => lines(df, from, to, maxSeg)
    case WeightKind.PolyW => polygons(df, from, to, maxSeg)
  }
}
