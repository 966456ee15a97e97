package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.cells.CellDomain
import graft.spark.GeoFunctions._

/** Distributed spatial joins — the engine's replacement for the reference's
  * nested-loop polyIsect with 3-level bbox prefilter (intersect.c:36-221).
  *
  * Strategy (scales horizontally, unlike bbox loops):
  *   1. PREFILTER: map each geometry to its covering Z-order cells
  *      (explode) and equi-join on cell id — Catalyst plans a hash join;
  *      broadcast it when one side is a small dimension (counties, masks),
  *      shuffle-hash otherwise. This is the PBSM / partition-based spatial
  *      join of the literature, and exactly what the PG formulation's GIST
  *      index join achieves on one node
  *      (pg_srgtools/pgscripts/template_polygon_noFF_withWA.csh:39-49).
  *   2. EXACT: run the precise kernel (ray-cast PIP / clip) per candidate;
  *      a clip runs once per canonical candidate, in a Project above the
  *      join — its single-evaluation fence (GeoFunctions header) keeps it
  *      out of the join condition, which holds only the reference-point
  *      test of step 3.
  *   3. DEDUP: polygon×polygon pairs sharing several cells are kept exactly
  *      once via the reference-point rule (no dropDuplicates shuffle).
  *
  * Skew: pages pile into hot cells (dense urban cells at web scale). The
  * point side can be salted: polygons are exploded ×saltFactor and points
  * pick a deterministic salt from the url/id hash, splitting a hot cell's
  * rows across saltFactor reducers. AQE skew-join handles residual skew.
  */
object SpatialJoin {

  /** points(x,y,...) ⋈ polys(geom,...) on exact containment.
    *
    * @param broadcastPolys broadcast the exploded polygon side (correct
    *   choice whenever the polygon layer is a dimension table: counties,
    *   grids, masks). When false, a shuffle hash join on cell id runs —
    *   the 100 TB path for polygon layers too big to broadcast.
    * @param saltFactor >1 splits each (cell) key into that many subkeys
    *   for the point side; polygons replicate. Use for hot-cell skew.
    */
  def pointInPoly(points: DataFrame, polys: DataFrame,
                  domain: CellDomain, res: Int,
                  x: String = "x", y: String = "y", geom: String = "geom",
                  broadcastPolys: Boolean = true,
                  saltFactor: Int = 1,
                  keepGeom: Boolean = false): DataFrame = {
    val polysE0 = polys.withColumn("__cell", explode(polyCoverCells(col(geom), domain, res)))
    val polysE =
      if (saltFactor <= 1) polysE0.withColumn("__salt", lit(0))
      else polysE0.withColumn("__salt",
        explode(sequence(lit(0), lit(saltFactor - 1))))
    val polysSide = if (broadcastPolys) broadcast(polysE) else polysE
    val ptsE = points
      .withColumn("__cell", cellEncode(col(x), col(y), domain, res))
      .withColumn("__salt",
        if (saltFactor <= 1) lit(0)
        else pmod(xxhash64(col(x), col(y)), lit(saltFactor)).cast("int"))
    val joined = ptsE.join(polysSide, Seq("__cell", "__salt"))
      .where(containsPoint(col(x), col(y), col(geom)))
      .drop("__cell", "__salt")
    if (keepGeom) joined else joined.drop(geom)
  }

  /** Multi-resolution variant of pointInPoly for MIXED-SIZE polygon layers
    * (a continental boundary next to city blocks): each polygon emits its
    * ADAPTIVE cover (coarse cells when huge — bounded explode factor), each
    * point probes its ancestor cell at every level; the join stays a plain
    * equi-join because ids carry their resolution. Same exact kernel. */
  def pointInPolyAdaptive(points: DataFrame, polys: DataFrame,
                          domain: CellDomain, maxRes: Int,
                          x: String = "x", y: String = "y",
                          geom: String = "geom",
                          maxCells: Int = 4,
                          broadcastPolys: Boolean = true,
                          keepGeom: Boolean = false): DataFrame = {
    val polysE0 = polys.withColumn("__cell",
      explode(polyAdaptiveCoverCells(col(geom), domain, maxRes, maxCells)))
    val polysSide = if (broadcastPolys) broadcast(polysE0) else polysE0
    val ptsE = points.withColumn("__cell",
      explode(cellAncestors(col(x), col(y), domain, maxRes)))
    val joined = ptsE.join(polysSide, Seq("__cell"))
      .where(containsPoint(col(x), col(y), col(geom)))
      .drop("__cell")
    if (keepGeom) joined else joined.drop(geom)
  }

  /** Polygon×polygon join with clipped fragments — the reference's
    * polyIsect for two polygon layers (county×tract). Output: all columns of
    * both sides plus `frag_geom` (clipped rings) and `frag_area`.
    *
    * The exact kernel skips full clipping when one geometry covers the
    * other (the PG covered-by shortcut, template_polygon_noFF_withWA.csh:
    * 39-49, 76-88). */
  def polyPolyFragments(a: DataFrame, b: DataFrame,
                        domain: CellDomain, res: Int,
                        aGeom: String = "geom", bGeom: String = "bgeom",
                        broadcastB: Boolean = true,
                        keepFragGeom: Boolean = true): DataFrame = {
    // bboxes once per ROW; the per-PAIR canonical test is column arithmetic
    val aE = a.withColumn("__abb", polyBBoxUdf(col(aGeom)))
      .withColumn("__cell", explode(polyCoverCells(col(aGeom), domain, res)))
    val bE = b.withColumn("__bbb", polyBBoxUdf(col(bGeom)))
      .withColumn("__cell", explode(polyCoverCells(col(bGeom), domain, res)))
    val paired = cellPairs(aE, bE, broadcastB,
        isCanonicalCellBB(col("__abb"), col("__bbb"), col("__cell"), domain, res))
      .drop("__abb", "__bbb")
    polyClip(paired, aGeom, bGeom, keepFragGeom)
  }

  /** Multi-resolution poly×poly fragments for MIXED-SIZE layers: each side
    * emits its adaptive cover (see adaptivePairs). Output schema matches
    * polyPolyFragments. */
  def polyPolyFragmentsAdaptive(a: DataFrame, b: DataFrame,
                                domain: CellDomain, maxRes: Int,
                                aGeom: String = "geom", bGeom: String = "bgeom",
                                maxCells: Int = 4,
                                broadcastB: Boolean = true,
                                keepFragGeom: Boolean = true): DataFrame = {
    val paired = adaptivePairs(
      a.withColumn("__abb", polyBBoxUdf(col(aGeom))),
      polyAdaptiveKeys(aGeom, domain, maxRes, maxCells),
      b.withColumn("__bbb", polyBBoxUdf(col(bGeom))),
      polyAdaptiveKeys(bGeom, domain, maxRes, maxCells),
      "__abb", "__bbb", domain, broadcastB)
    polyClip(paired, aGeom, bGeom, keepFragGeom)
  }

  /** Line×polygon join with clipped sub-segments (intersect.c:274-512).
    * Output: both sides' columns + `frag_line` pieces + `frag_len`.
    * `curved` switches the length MEASURE of the (geometrically identical)
    * clipped pieces to great-circle (USE_CURVED_LINES, polyops.c:440-474). */
  def linePolyFragments(lines: DataFrame, polys: DataFrame,
                        domain: CellDomain, res: Int,
                        lineCol: String = "line", geom: String = "geom",
                        broadcastPolys: Boolean = true,
                        curved: Boolean = false): DataFrame = {
    val lE = lines.withColumn("__lbb", lineBBoxUdf(col(lineCol)))
      .withColumn("__cell", explode(lineCoverCells(col(lineCol), domain, res)))
    val pE = polys.withColumn("__pbb", polyBBoxUdf(col(geom)))
      .withColumn("__cell", explode(polyCoverCells(col(geom), domain, res)))
    val paired = cellPairs(lE, pE, broadcastPolys,
        isCanonicalCellBB(col("__lbb"), col("__pbb"), col("__cell"), domain, res))
      .drop("__lbb", "__pbb")
    lineClip(paired, lineCol, geom, curved)
  }

  /** Multi-resolution line×polygon fragments for MIXED-SIZE polygon layers
    * (lines are the A side of adaptivePairs). Output schema matches
    * linePolyFragments. */
  def linePolyFragmentsAdaptive(lines: DataFrame, polys: DataFrame,
                                domain: CellDomain, maxRes: Int,
                                lineCol: String = "line", geom: String = "geom",
                                maxCells: Int = 4,
                                broadcastPolys: Boolean = true,
                                curved: Boolean = false): DataFrame = {
    val paired = adaptivePairs(
      lines.withColumn("__lbb", lineBBoxUdf(col(lineCol))),
      (probe, below) =>
        if (probe) lineAdaptiveCoverAncestors(col(lineCol), domain, maxRes, maxCells, below)
        else lineAdaptiveCoverCells(col(lineCol), domain, maxRes, maxCells),
      polys.withColumn("__pbb", polyBBoxUdf(col(geom))),
      polyAdaptiveKeys(geom, domain, maxRes, maxCells),
      "__lbb", "__pbb", domain, broadcastPolys)
    lineClip(paired, lineCol, geom, curved)
  }

  /** Candidate pairs of two sides exploded on `__cell`: the equi-join
    * (B broadcast when asked), kept only where `canonical` holds — the
    * reference-point rule keeps each pair in exactly one cell. */
  private def cellPairs(aE: DataFrame, bE0: DataFrame, broadcastB: Boolean,
                        canonical: Column): DataFrame = {
    val bE = if (broadcastB) broadcast(bE0) else bE0
    aE.join(bE, Seq("__cell")).where(canonical).drop("__cell")
  }

  /** Adaptive cover keys of the polygon in `geom`: its own cells, or with
    * `probe` their ancestors (below=1: strict ancestors only). */
  private def polyAdaptiveKeys(geom: String, domain: CellDomain, maxRes: Int,
                               maxCells: Int)(probe: Boolean, below: Int): Column =
    if (probe) adaptiveCoverAncestors(col(geom), domain, maxRes, maxCells, below)
    else polyAdaptiveCoverCells(col(geom), domain, maxRes, maxCells)

  /** Two-direction multi-level pairing. Direction 1 (A probes levels ≤ its
    * own, B builds at its own level) catches every pair where B is
    * coarser-or-equal; direction 2 (B probes STRICT ancestors, A builds)
    * catches B-finer pairs — no double count. Reference-point dedup runs at
    * the matched cell's own resolution. a/b carry their bbox columns
    * `aBB`/`bBB`; `aKeys`/`bKeys(probe, below)` are their `__cell` keys,
    * where `below` counts only when probing. */
  private def adaptivePairs(a: DataFrame, aKeys: (Boolean, Int) => Column,
                            b: DataFrame, bKeys: (Boolean, Int) => Column,
                            aBB: String, bBB: String, domain: CellDomain,
                            broadcastB: Boolean): DataFrame = {
    def direction(aProbes: Boolean) =
      cellPairs(a.withColumn("__cell", explode(aKeys(aProbes, 0))),
        b.withColumn("__cell", explode(bKeys(!aProbes, 1))), broadcastB,
        isCanonicalCellBBAtCellRes(col(aBB), col(bBB), col("__cell"), domain))
    direction(aProbes = true).unionByName(direction(aProbes = false))
      .drop(aBB, bBB)
  }

  /** Exact polygon clip of candidate pairs: `frag_geom` and `frag_area`,
    * empty fragments dropped; B's geometry leaves the output. */
  private def polyClip(paired: DataFrame, aGeom: String, bGeom: String,
                       keepFragGeom: Boolean): DataFrame = {
    val frags = paired
      .withColumn("frag_geom", polyClipGeomUdf(col(aGeom), col(bGeom)))
      .where(size(col("frag_geom")) > 0)
      .withColumn("frag_area", polygonAreaUdf(col("frag_geom")))
      .where(col("frag_area") > 0)
      .drop(bGeom)
    if (keepFragGeom) frags else frags.drop("frag_geom")
  }

  /** Exact line clip of candidate pairs: `frag_line` pieces and their
    * summed `frag_len`, empty results dropped; the polygon leaves. */
  private def lineClip(paired: DataFrame, lineCol: String, geom: String,
                       curved: Boolean): DataFrame =
    paired
      .withColumn("frag_line", linePolyClipSegsUdf(col(lineCol), col(geom)))
      .where(size(col("frag_line")) > 0)
      .withColumn("frag_len",
        aggregate(transform(col("frag_line"), s => lineLengthCol(s, curved)),
                  lit(0.0), (acc, v) => acc + v))
      .where(col("frag_len") > 0)
      .drop(geom)

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
                   domain: CellDomain, res: Int,
                   geom: String = "geom"): DataFrame = {
    val region = collectMask(mask, geom)
    val bboxes = region.map(graft.geom.Geo.bboxOfPolygon)
    val hits = udf((rings: Seq[Seq[Double]]) => {
      val g = rings.map(_.toArray).toArray
      val b = graft.geom.Geo.bboxOfPolygon(g)
      var i = 0; var found = false
      while (i < region.length && !found) {
        found = bboxes(i).intersects(b) &&
          graft.geom.Clip.polyPolyClipArea(g, region(i)) > 0
        i += 1
      }
      found
    })
    polys.where(hits(col(geom)))
  }

  def overlayLines(lines: DataFrame, mask: DataFrame,
                   domain: CellDomain, res: Int,
                   lineCol: String = "line", geom: String = "geom"): DataFrame = {
    val region = collectMask(mask, geom)
    val bboxes = region.map(graft.geom.Geo.bboxOfPolygon)
    val hits = udf((l: Seq[Double]) => {
      val arr = l.toArray
      val b = graft.geom.Geo.bboxOfRing(arr)
      var i = 0; var found = false
      while (i < region.length && !found) {
        found = bboxes(i).intersects(b) &&
          graft.geom.Clip.linePolyClipLength(arr, region(i)) > 0
        i += 1
      }
      found
    })
    lines.where(hits(col(lineCol)))
  }
}
