package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import graft.cells.CellDomain
import graft.grid.GridSpec
import graft.spark.GeoFunctions._

/** ALLOCATE mode (mims_spatial.c:212-425, allocate.c:212) — per-attribute
  * aggregation of an input polygon layer onto an output polygon layer, with
  * the mode dispatch of parseAllocModes.c:24-120:
  *
  *   Aggregate        Σ val·area(frag)/area(input poly)       (sum1Poly)
  *   Average          Σ contributions / area(output poly)     (avg1Poly,
  *                     normalize step sumpoly.c:880-906)
  *   DiscreteOverlap  value of the input with max overlap     (sumpoly.c:1043)
  *   DiscreteCentroid value of the input containing the output's
  *                     vertex-mean centroid                   (sumpoly.c:1069)
  *   AreaPercent      per (output cell, category): Σ area(frag)/area(cell)
  *                     (typeAreaPercent, sumpoly.c:1179-1323)
  *
  * Every mode that reads fragments is one expression of ONE aggregate over
  * one SpatialJoin.polyPolyFragments result — the reference's single
  * polyIsect followed by per-attribute dispatch (allocate.c:367): one
  * exchange on the output id, nothing persisted, no window and no join
  * back. DiscreteCentroid reads no fragments: it is its own
  * point-in-polygon join of the output centroids.
  */
object Allocate {

  sealed trait Mode
  case object Aggregate extends Mode
  case object Average extends Mode
  case object DiscreteOverlap extends Mode
  case object DiscreteCentroid extends Mode

  /** input: (geom, attrs…); output layer: (outId, geom). Returns one row per
    * output polygon with each requested attribute aggregated by its mode:
    * `outId`, then the Aggregate, Average, DiscreteOverlap and
    * DiscreteCentroid attributes, each group in `modes` order. With
    * fragment modes the rows are the output polygons some input overlaps
    * (a centroid that hits no input is NULL); with DiscreteCentroid alone
    * they are the output polygons whose centroid hits an input. */
  def allocate(input: DataFrame, output: DataFrame,
               modes: Seq[(String, Mode)],
               domain: CellDomain, res: Int,
               outId: String = "out_id"): DataFrame = {
    val attrs = modes.map(_._1)
    require(modes.nonEmpty, "allocate: no attribute modes given")
    require(attrs.distinct.size == attrs.size, "allocate: an attribute takes " +
      s"one mode, named twice: ${attrs.diff(attrs.distinct).distinct.mkString(", ")}")
    def named(m: Mode) = modes.collect { case (a, `m`) => a }
    val (avgs, disc) = (named(Average), named(DiscreteOverlap))
    val inp = input.withColumn("__iarea", polygonArea(col("geom")))
    val contrib = (a: String) =>
      sum(col(a).cast("double") * (col("frag_area") / col("__iarea")))
    // argmax of the overlap: the largest frag_area, ties to the smallest
    // first discrete attribute (NULL first), every discrete attribute from
    // that one fragment; the key, not the row order, decides the pick
    val aggs = named(Aggregate).map(a => contrib(a).as(a)) ++
      avgs.map(a => (contrib(a) / first("__oarea")).as(a)) ++
      (if (disc.isEmpty) Nil else Seq(min_by(struct(disc.map(col): _*),
        struct(-col("frag_area"), col(disc.head))).as("__disc")))

    val centAttrs = named(DiscreteCentroid)
    lazy val hit = {
      // the reference assumes exactly one containing input (sumpoly.c:1069);
      // with overlapping inputs min reduces deterministically
      val (x, y) = vertexMeanCentroid(col("geom"))
      val mins = centAttrs.map(a => min(col(a)).as(a))
      SpatialJoin.pointInPoly(output.select(col(outId), x.as("x"), y.as("y")),
          inp.select((Seq("geom") ++ centAttrs).map(col): _*), domain, res)
        .groupBy(col(outId)).agg(mins.head, mins.tail: _*)
    }
    lazy val agg = {
      val out = (if (avgs.isEmpty) output
                 else output.withColumn("__oarea", polygonArea(col("geom"))))
        .withColumnRenamed("geom", "bgeom")
      // min_by is nullable; a discrete attribute keeps its input nullability
      val picked = disc.map { a =>
        val v = col("__disc").getField(a)
        (if (input.schema(a).nullable) v
         else ExprBridge.column(KnownNotNull(ExprBridge.expression(v)))).as(a)
      }
      SpatialJoin.polyPolyFragments(inp, out, domain, res, keepFragGeom = false)
        .groupBy(outId).agg(aggs.head, aggs.tail: _*)
        .select((Seq(outId) ++ named(Aggregate) ++ avgs).map(col) ++ picked: _*)
    }
    if (aggs.isEmpty) hit
    else if (centAttrs.isEmpty) agg
    else agg.join(hit, Seq(outId), "left")
  }

  /** Gridded-table → polygon aggregation — the I/O API ALLOCATE /
    * raster→vector overlay semantics (allocateIoapi.c:151-989;
    * rasterWtoPolygons.cpp: rasterize polygons, sum raster values per
    * polygon): per polygon and per grouping column (variable, timestep…),
    * Σ value(cell) · area(poly ∩ cell) / cellArea.
    *
    * Exactness discipline: the aggregate sums value·clipArea (integer-
    * valued doubles on lattice fixtures — order-independent), dividing by
    * the cell area ONCE post-aggregation. Plan: the polygon side explodes
    * its closed-form cell cover (no grid table materialized), the gridded
    * fact table hash-joins on (col, row) — the 100 TB side never moves
    * through a geometry kernel. */
  def gridToPoly(gridded: DataFrame, grid: GridSpec, polys: DataFrame,
                 polyId: String, valueCol: String,
                 groupCols: Seq[String]): DataFrame = {
    val cellArea = grid.xcell * grid.ycell
    val cover = Surrogate.polyCellClip(polys, "geom", grid)
      .select(Seq(col(polyId), col("col"), col("row"), col("__carea")): _*)
    cover.join(gridded, Seq("col", "row"))
      .groupBy((polyId +: groupCols).map(col): _*)
      .agg(sum(col(valueCol) * col("__carea")).as("__wsum"))
      .withColumn("alloc", col("__wsum") / cellArea)
      .drop("__wsum")
  }

  /** typeAreaPercent (sumpoly.c:1179-1323): fraction of each grid cell
    * covered by each category of the input layer (OCEANfile / SURF_ZONE).
    * input: (geom, categoryCol). Output: (col, row, category, pct). */
  def areaPercent(input: DataFrame, categoryCol: String,
                  grid: GridSpec): DataFrame = {
    val cellArea = grid.xcell * grid.ycell
    Surrogate.polyCellClip(input, "geom", grid)
      .groupBy(col("col"), col("row"), col(categoryCol).as("category"))
      .agg((sum("__carea") / cellArea).as("pct"))
  }
}
