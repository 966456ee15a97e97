package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
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
  * All modes consume the same fragment relation from
  * SpatialJoin.polyPolyFragments — one spatial join feeds every aggregate,
  * like the reference's single polyIsect followed by per-attribute dispatch.
  */
object Allocate {

  sealed trait Mode
  case object Aggregate extends Mode
  case object Average extends Mode
  case object DiscreteOverlap extends Mode
  case object DiscreteCentroid extends Mode

  /** input: (geom, attrs…); output layer: (outId, geom). Returns one row per
    * output polygon with each requested attribute aggregated by its mode. */
  def allocate(input: DataFrame, output: DataFrame,
               modes: Seq[(String, Mode)],
               domain: CellDomain, res: Int,
               outId: String = "out_id"): DataFrame = {
    val inp = input.withColumn("__iarea", polygonArea(col("geom")))
    val out = output.withColumnRenamed("geom", "bgeom")
    // persisted: consumed once per aggregation mode (the reference likewise
    // feeds every allocate mode from one polyIsect result, allocate.c:367)
    val frags = SpatialJoin.polyPolyFragments(inp, out, domain, res,
        keepFragGeom = false)
      .transform(graft.spark.PersistTracker.persist)
    val needArea = modes.exists(_._2 == Average)
    val outAreas =
      if (needArea) output.select(col(outId),
        polygonArea(col("geom")).as("__oarea"))
      else null

    val contribOf: String => Column = a =>
      col(a).cast("double") * (col("frag_area") / col("__iarea"))

    // continuous modes fold into one groupBy; discrete-overlap is an argmax
    val contAggs = modes.collect {
      case (a, Aggregate) => sum(contribOf(a)).as(a)
      case (a, Average)   => sum(contribOf(a)).as(s"__sum_$a")
    }
    var result: DataFrame = null
    if (contAggs.nonEmpty) {
      var df = frags.groupBy(outId).agg(contAggs.head, contAggs.tail: _*)
      modes.collect { case (a, Average) =>
        df = df.join(broadcast(outAreas), outId)
          .withColumn(a, col(s"__sum_$a") / col("__oarea"))
          .drop(s"__sum_$a", "__oarea")
      }
      result = df
    }

    val discAttrs = modes.collect { case (a, DiscreteOverlap) => a }
    if (discAttrs.nonEmpty) {
      // argmax over fragments by overlap measure; deterministic tie-break on
      // the attribute value itself (the reference's loop order is its
      // implicit tie-break; we need one that survives shuffling)
      val w = Window.partitionBy(outId)
        .orderBy(col("frag_area").desc, col(discAttrs.head).asc)
      val top = frags.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select((outId +: discAttrs).map(col): _*)
      result = if (result == null) top else result.join(top, outId)
    }

    val centAttrs = modes.collect { case (a, DiscreteCentroid) => a }
    if (centAttrs.nonEmpty) {
      val cent = output
        .withColumn("__c", centroidUdf(col("geom")))
        .select(col(outId), col("__c").getItem(0).as("x"),
                col("__c").getItem(1).as("y"))
      // the reference assumes exactly one containing input (sumpoly.c:1069);
      // with overlapping inputs we reduce deterministically via min so the
      // result is stable under shuffle
      val aggs = centAttrs.map(a => min(col(a)).as(a))
      val hit = SpatialJoin.pointInPoly(cent, inp.select(
          (Seq("geom") ++ centAttrs).map(col): _*),
        domain, res)
        .groupBy(col(outId)).agg(aggs.head, aggs.tail: _*)
      result = if (result == null) hit else result.join(hit, Seq(outId), "left")
    }
    result
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
