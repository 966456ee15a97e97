package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.cells.CellDomain
import graft.geom.{Clip, Geo}
import graft.spark.GeoFunctions._

/** Distributed spatial joins — the engine's replacement for the reference's
  * nested-loop polyIsect with 3-level bbox prefilter (intersect.c:36-221).
  *
  * Strategy (scales horizontally, unlike bbox loops):
  *   1. PREFILTER: map each geometry to its covering Z-order cells
  *      (explode) and equi-join on cell id — Catalyst plans a hash join.
  *      The polygon side (counties, grids, masks: dimension tables) is
  *      always broadcast; a data-driven broadcast-or-shuffle choice is
  *      ROADMAP direction 6's job. This is the PBSM / partition-based
  *      spatial join of the literature, and exactly what the PG
  *      formulation's GIST index join achieves on one node
  *      (pg_srgtools/pgscripts/template_polygon_noFF_withWA.csh:39-49).
  *   2. EXACT: run the precise kernel (ray-cast PIP / clip) per candidate;
  *      a clip runs once per canonical candidate, in a Project above the
  *      join — its single-evaluation fence (GeoFunctions header) keeps it
  *      out of the join condition, which holds only the reference-point
  *      test of step 3.
  *   3. DEDUP: polygon×polygon pairs sharing several cells are kept exactly
  *      once via the reference-point rule (no dropDuplicates shuffle).
  *
  * Skew: pages pile into hot cells (dense urban cells at web scale), but
  * every join here broadcasts its polygon side, and a broadcast hash join
  * never shuffles its probe side: each task probes the rows it scanned,
  * so no hot-cell reducer exists for a salted key to split. Skew handling
  * belongs to a join that partitions both sides, should one be added.
  */
object SpatialJoin {

  /** points(x,y,...) ⋈ polys(geom,...) on exact containment; the polygon
    * geometry leaves the output. The equi-join key is the single `Long`
    * cell id, so Spark builds its long-keyed broadcast hash table. */
  def pointInPoly(points: DataFrame, polys: DataFrame,
                  domain: CellDomain, res: Int): DataFrame = {
    val polysE = polys.withColumn("__cell", explode(polyCoverCells(col("geom"), domain, res)))
    val ptsE = points.withColumn("__cell", cellEncode(col("x"), col("y"), domain, res))
    ptsE.join(broadcast(polysE), Seq("__cell"))
      .where(containsPoint(col("x"), col("y"), col("geom")))
      .drop("__cell", "geom")
  }

  /** Multi-resolution variant of pointInPoly for MIXED-SIZE polygon layers
    * (a continental boundary next to city blocks): each polygon emits its
    * ADAPTIVE cover (coarse cells when huge — bounded explode factor), each
    * point probes its ancestor cell at every level; the join stays a plain
    * equi-join because ids carry their resolution. Same exact kernel. */
  def pointInPolyAdaptive(points: DataFrame, polys: DataFrame,
                          domain: CellDomain, maxRes: Int): DataFrame = {
    val polysE = polys.withColumn("__cell",
      explode(polyAdaptiveCoverCells(col("geom"), domain, maxRes)))
    val ptsE = points.withColumn("__cell",
      explode(cellAncestors(col("x"), col("y"), domain, maxRes)))
    ptsE.join(broadcast(polysE), Seq("__cell"))
      .where(containsPoint(col("x"), col("y"), col("geom")))
      .drop("__cell", "geom")
  }

  /** Polygon×polygon join with clipped fragments — the reference's
    * polyIsect for two polygon layers (county×tract). Output: all columns of
    * both sides plus `frag_geom` (clipped rings) and `frag_area`; empty
    * fragments drop, and B's geometry leaves the output. `frag_area` is
    * filtered and projected, so it runs behind its own fence (GeoFunctions
    * header): once per fragment.
    *
    * The exact kernel skips full clipping when one geometry covers the
    * other (the PG covered-by shortcut, template_polygon_noFF_withWA.csh:
    * 39-49, 76-88). */
  def polyPolyFragments(a: DataFrame, b: DataFrame,
                        domain: CellDomain, res: Int,
                        aGeom: String = "geom", bGeom: String = "bgeom",
                        keepFragGeom: Boolean = true): DataFrame = {
    // bboxes once per ROW; the per-PAIR canonical test is column arithmetic
    val aE = a.withColumn("__abb", polyBBox(col(aGeom)))
      .withColumn("__cell", explode(polyCoverCells(col(aGeom), domain, res)))
    val bE = b.withColumn("__bbb", polyBBox(col(bGeom)))
      .withColumn("__cell", explode(polyCoverCells(col(bGeom), domain, res)))
    val frags = cellPairs(aE, bE,
        isCanonicalCellBB(col("__abb"), col("__bbb"), col("__cell"), domain, res))
      .drop("__abb", "__bbb")
      .withColumn("frag_geom", polyClipGeom(col(aGeom), col(bGeom)))
      .where(size(col("frag_geom")) > 0)
      .withColumn("frag_area", fence(polygonArea(col("frag_geom"))))
      .where(col("frag_area") > 0)
      .drop(bGeom)
    if (keepFragGeom) frags else frags.drop("frag_geom")
  }

  /** Line×polygon join with clipped sub-segments (intersect.c:274-512).
    * Output: both sides' columns + `frag_line` pieces + their summed
    * `frag_len` (fenced like `frag_area`); empty results drop, and the
    * polygon's `geom` leaves.
    * `curved` switches the length MEASURE of the (geometrically identical)
    * clipped pieces to great-circle (USE_CURVED_LINES, polyops.c:440-474). */
  def linePolyFragments(lines: DataFrame, polys: DataFrame,
                        domain: CellDomain, res: Int,
                        lineCol: String = "line",
                        curved: Boolean = false): DataFrame = {
    val lE = lines.withColumn("__lbb", lineBBox(col(lineCol)))
      .withColumn("__cell", explode(lineCoverCells(col(lineCol), domain, res)))
    val pE = polys.withColumn("__pbb", polyBBox(col("geom")))
      .withColumn("__cell", explode(polyCoverCells(col("geom"), domain, res)))
    cellPairs(lE, pE,
        isCanonicalCellBB(col("__lbb"), col("__pbb"), col("__cell"), domain, res))
      .drop("__lbb", "__pbb")
      .withColumn("frag_line", lineClipSegs(col(lineCol), col("geom")))
      .where(size(col("frag_line")) > 0)
      .withColumn("frag_len", fence(
        aggregate(transform(col("frag_line"), s => lineLength(s, curved)),
                  lit(0.0), (acc, v) => acc + v)))
      .where(col("frag_len") > 0)
      .drop("geom")
  }

  /** Candidate pairs of two sides exploded on `__cell`: the equi-join with
    * B broadcast, kept only where `canonical` holds — the reference-point
    * rule keeps each pair in exactly one cell. */
  private def cellPairs(aE: DataFrame, bE: DataFrame,
                        canonical: Column): DataFrame =
    aE.join(broadcast(bE), Seq("__cell")).where(canonical).drop("__cell")

  /** OVERLAY mode (mims_spatial.c:468-565): semi-join of inputs against a
    * mask region — output is input attributes only (overlay.c:21-250). */
  def overlayPoints(points: DataFrame, mask: DataFrame,
                    domain: CellDomain, res: Int,
                    x: String = "x", y: String = "y", geom: String = "geom",
                    cellIdGrid: Option[graft.grid.GridSpec] = None): DataFrame = {
    val out = maskJoin(points, mask, domain, res, x, y, geom, "left_semi")
    // OVERLAY_OUT_CELLID=YES (overlay.c:155-190): append the output grid's
    // COL/ROW of each surviving input — closed-form column arithmetic
    cellIdGrid.fold(out) { g =>
      out.withColumn("col", gridCol(col(x), g))
        .withColumn("row", gridRow(col(y), g))
    }
  }

  /** NOT-EXISTS twin of [[overlayPoints]]: the points OUTSIDE every mask
    * polygon (the reference's exclusion-filter reading of an overlay,
    * `overlay.c` with the predicate inverted). A point whose cell holds no
    * mask candidate survives without ever evaluating the exact test. */
  def overlayPointsAnti(points: DataFrame, mask: DataFrame,
                        domain: CellDomain, res: Int,
                        x: String = "x", y: String = "y",
                        geom: String = "geom"): DataFrame =
    maskJoin(points, mask, domain, res, x, y, geom, "left_anti")

  /** Points against the broadcast cell cover of a mask, with the exact
    * test in the join condition: `joinType` left_semi is true EXISTS,
    * left_anti NOT EXISTS — no post-join dedup shuffle even when a point
    * hits several mask polygons. */
  private def maskJoin(points: DataFrame, mask: DataFrame,
                       domain: CellDomain, res: Int,
                       x: String, y: String, geom: String,
                       joinType: String): DataFrame = {
    val maskE = broadcast(
      mask.select(col(geom).as("__mgeom"))
        .withColumn("__cell", explode(polyCoverCells(col("__mgeom"), domain, res))))
    val ptsE = points.withColumn("__cell", cellEncode(col(x), col(y), domain, res))
    ptsE.join(maskE,
        ptsE("__cell") === maskE("__cell") &&
          containsPoint(ptsE(x), ptsE(y), maskE("__mgeom")),
        joinType)
      .drop("__cell")
  }

  /** Masks are dimension-sized by contract (a handful of overlay regions) —
    * enforce it rather than discover a driver OOM; bigger "masks" should go
    * through the cell-join paths (pointInPoly/polyPolyFragments). The limit
    * bounds the collect itself. */
  private val MaxMaskRows = 100000
  private def collectMask(mask: DataFrame, geom: String): Array[Array[Array[Double]]] = {
    val rows = mask.select(col(geom)).limit(MaxMaskRows + 1).collect()
    require(rows.length <= MaxMaskRows,
      s"overlay mask exceeds $MaxMaskRows polygons — use the cell-join spatial join instead")
    rows.map(
      _.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0)
        .map(_.toArray).toArray)
  }

  /** OVERLAY for polygon/line inputs. The reference UNIONS the mask's
    * polygons into one region and tests every input against it
    * (polyUnion, mims_spatial.c:491) — masks are dimension-sized by
    * contract, so the region ships to executors inside the filter closure
    * (a broadcast scalar, no join, no shuffle); a bbox pretest guards the
    * exact kernel. Output = input rows (attributes) only, like
    * reportOverlays. */
  def overlayPolys(polys: DataFrame, mask: DataFrame,
                   geom: String = "geom"): DataFrame = {
    val hits = maskHits[Array[Array[Double]]](mask, geom,
      Geo.bboxOfPolygon, Clip.polyPolyClipArea)
    polys.where(udf((rings: Seq[Seq[Double]]) =>
      hits(rings.map(_.toArray).toArray)).apply(col(geom)))
  }

  def overlayLines(lines: DataFrame, mask: DataFrame,
                   lineCol: String = "line", geom: String = "geom"): DataFrame = {
    val hits = maskHits[Array[Double]](mask, geom,
      Geo.bboxOfRing, Clip.linePolyClipLength)
    lines.where(udf((l: Seq[Double]) => hits(l.toArray)).apply(col(lineCol)))
  }

  /** The mask scan of the overlays: true when an input meets any mask
    * polygon — its bbox intersects the polygon's, then the exact `measure`
    * (clipped area or length) is positive. Stops at the first hit. */
  private def maskHits[G](mask: DataFrame, geom: String, bboxOf: G => Geo.BBox,
                          measure: (G, Array[Array[Double]]) => Double): G => Boolean = {
    val region = collectMask(mask, geom)
    val bboxes = region.map(Geo.bboxOfPolygon)
    g => {
      val b = bboxOf(g)
      region.indices.exists(i =>
        bboxes(i).intersects(b) && measure(g, region(i)) > 0)
    }
  }
}
