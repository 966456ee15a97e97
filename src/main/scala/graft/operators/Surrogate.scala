package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.cells.CellDomain
import graft.grid.GridSpec
import graft.spark.GeoFunctions._

/** The flagship srgcreate pipeline (srg_main.c:35, reportSurrogate
  * surrogate.c:30-563), re-expressed as declarative DataFrame algebra —
  * the same relational shape as the reference's own PG formulation
  * (pg_srgtools/pgscripts/template_polygon_noFF_withWA.csh:95-152):
  *
  *   numer(fips,target)  = Σ contribution over W∩D∩G pieces
  *   denom(fips)         = Σ contribution over W∩D pieces
  *   frac                = numer/denom      [skip when denom < threshold]
  *   qasum               = running Σ frac per county in target order
  *
  * Every surrogate is one COUNTY STAGE × one TARGET STAGE, then the ratio
  * tail, and `create` is its one entry: a layer's `WeightKind` picks the
  * county stage, a `Target` the target stage. The county stage yields the
  * W∩D rows, their measure and the contribution of a measure taken on
  * those rows (sumpoly.c:53-266):
  *   point:   val                  (1 in count mode)
  *   line:    val·len(piece)/len(parent_line)   (len(piece) in length mode)
  *   polygon: val·area(piece)/area(parent_poly) (area(piece) in area mode)
  * ratio is always vs the ORIGINAL weight feature (sumpoly.c:667,672).
  *
  * Targets (srgcreate's OUTPUT_FILE_TYPE): `Grid`, the regular grid
  * (closed-form cells for points, `cellClip` for fragments, through
  * `pointSurrogate` / `lineSurrogate` / `polySurrogate`); `Polys`, output
  * polygons (a second clip / point-in-polygon); `CellPolys`, cell polygons
  * carrying COL/ROW (variable grid); and `EGrid`, the staggered diamonds
  * (closed-form for points, cell polygons otherwise).
  *
  * Scale notes: the grid targets compute numerators, denominator and qasum
  * in one pass over each county's rows, as reportSurrogate does. Their
  * rows are per (fips, cell), plus a NULL cell per county for what reaches
  * the denominator but no cell: off-grid points, and for fragments one
  * sentinel row per W∩D fragment carrying the fragment's own contribution,
  * so a fragment off the grid still counts. `tail` then takes denom as a
  * window sum over the county and qasum as a running window sum; both
  * windows share one hash partitioning on fips.
  * Fragment rows are repartitioned on fips ahead of their (fips, cell)
  * aggregate, so the aggregate and both windows need no further exchange:
  * one shuffle per call, and nothing is persisted. Points keep their
  * map-side partial aggregate (the point table is the big input) and
  * shuffle once more on fips for the windows. The grid never
  * materializes: cells are closed-form column arithmetic for points,
  * bbox-cover explode for fragments. The other three targets join the
  * W∩D rows a second time, against the output or cell polygons or the
  * diamonds, so `create` persists those rows for them and hands `ratio`
  * (cells) or `ratioPoly` (output polygons) the numerators and
  * denominators apart.
  * Output rows come in no particular order; the SMOKE sinks sort what
  * they write.
  */
object Surrogate {

  val OUT_COLS: Seq[String] =
    Seq("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")

  val POLY_OUT_COLS: Seq[String] =
    Seq("srg_code", "fips", "out_id", "frac", "numer", "denom", "qasum")

  /** Where a surrogate's fractions land: srgcreate's OUTPUT_FILE_TYPE. */
  sealed trait Target
  /** RegularGrid: the grid's COL/ROW cells, never materialized. */
  final case class Grid(grid: GridSpec) extends Target
  /** Polygon: output polygons (out_id, geom); rows carry POLY_OUT_COLS. */
  final case class Polys(outPolys: DataFrame) extends Target
  /** VariableGrid: cell polygons (col, row, geom), e.g. the WRF
    * curvilinear grid-dot cells (variableGridReader.c:216-470). */
  final case class CellPolys(cells: DataFrame) extends Target
  /** EGrid: the staggered WRF-NMM diamonds generated from the grid's
    * GRIDDESC entry (EGridReader.c). */
  final case class EGrid(grid: GridSpec) extends Target

  // --------------------------------------------------------- ratio tail

  /** Grid tail: numerators and denominators given apart → frac, threshold
    * skip, qasum. numer: (fips, col, row, numer); denom: (fips, denom). */
  def ratio(numer: DataFrame, denom: DataFrame, srgCode: Int,
            denomThreshold: Double = 1e-5,
            keepSkipped: Boolean = false): DataFrame =
    gridTail(apart(numer, denom, "col", "row"), srgCode, denomThreshold,
      keepSkipped)

  /** Tail for OUTPUT_FILE_TYPE=Polygon surrogates (surrogate.c:455-470
    * writes `code fips out_poly_id frac`). The qasum accumulation order is
    * the LEXICOGRAPHIC order of the output-poly id's STRING form — the one
    * deterministic order available for any id type, and the SAME order
    * Smoke renders polygon output in (ids are strings in the file format), so
    * the printed running sum is monotone and the county's last row carries
    * the total the #REMAINDER rule needs.
    * numer: (fips, out_id, numer); denom: (fips, denom). */
  def ratioPoly(numer: DataFrame, denom: DataFrame, srgCode: Int,
                denomThreshold: Double = 1e-5,
                keepSkipped: Boolean = false): DataFrame =
    tail(apart(numer, denom, "out_id"), Seq("out_id"),
      Seq(col("out_id").cast("string")), POLY_OUT_COLS, srgCode,
      denomThreshold, keepSkipped)

  /** Tail rows of numerators and denominators given apart: each numer row
    * with `dpart` 0, and each denom row under a NULL key with `numer` 0. */
  private def apart(numer: DataFrame, denom: DataFrame,
                    keys: String*): DataFrame = {
    val n = numer.select(
      (col("fips") +: keys.map(col)) :+ col("numer") :+ lit(0.0).as("dpart"): _*)
    n.unionByName(denom.select(
      (col("fips") +: keys.map(k => lit(null).cast(n.schema(k).dataType).as(k))) :+
        lit(0.0).as("numer") :+ col("denom").as("dpart"): _*))
  }

  /** The one ratio tail. rows: (fips, keys…, numer, dpart); denom is
    * Σ dpart over the county, rows with a NULL key only feed it. */
  private def tail(rows: DataFrame, keys: Seq[String], order: Seq[Column],
                   outCols: Seq[String], srgCode: Int,
                   denomThreshold: Double, keepSkipped: Boolean): DataFrame = {
    // #SKIPPED semantics (surrogate.c:434-452): below-threshold counties
    // normally never emit rows; with keepSkipped they flow through — frac
    // and all — so Smoke.toLines can render them with the `#SKIPPED `
    // prefix exactly like the reference's file. Zero-numerator rows are
    // skipped either way (PG: WHERE numer != 0 AND denom != 0).
    val denomPass =
      if (keepSkipped) col("denom") =!= 0.0
      else col("denom") >= denomThreshold
    val county = Window.partitionBy("fips")
    // no global sort: row order is the sink's job (Smoke.write orders the
    // counties it collects, each rendered in this window's order), and a
    // range sort here would cost a sampling job and a wide exchange on
    // every call
    rows.withColumn("denom", sum("dpart").over(county))
      .where(keys.map(col(_).isNotNull).reduce(_ && _) && denomPass &&
        col("numer") =!= 0.0)
      .withColumn("frac", col("numer") / col("denom"))
      .withColumn("qasum", sum("frac").over(county.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("srg_code", lit(srgCode))
      .select(outCols.map(col): _*)
  }

  /** `tail` over grid rows (fips, col, row, numer, dpart), qasum in
    * (row, col) order. */
  private def gridTail(rows: DataFrame, srgCode: Int, denomThreshold: Double,
                       keepSkipped: Boolean): DataFrame =
    tail(rows, Seq("col", "row"), Seq(col("row"), col("col")), OUT_COLS,
      srgCode, denomThreshold, keepSkipped)

  // ------------------------------------------------------- county stages

  /** A county stage's result: the W∩D rows, the measure taken on each of
    * them, and the contribution of a measure taken on those rows. */
  private case class County(rows: DataFrame, measure: Column,
                            contrib: Column => Column) {
    /** Σ contribution of `measure` per `keys` — every target's numerator. */
    def numer(df: DataFrame, measure: Column, keys: String*): DataFrame =
      df.groupBy(keys.map(col): _*).agg(sum(contrib(measure)).as("numer"))

    /** Σ contribution of the W∩D rows per county. */
    def denom: DataFrame =
      rows.groupBy("fips").agg(sum(contrib(measure)).as("denom"))

    /** The stage with its W∩D rows persisted, for a target that reads them
      * twice: its second join for the numerator and `denom`. The reference
      * materializes this same grid-independent intermediate
      * (SAVE_DW_FILE/USE_DW_FILE, data_weight.c:19-160). */
    def persisted: County =
      copy(rows = rows.transform(graft.spark.PersistTracker.persist))
  }

  /** Points tagged with their county; weight `__w`. */
  private def pointTag(points: DataFrame, counties: DataFrame,
                       domain: CellDomain, res: Int,
                       weight: Option[String]): DataFrame = {
    val w = weight.map(col(_).cast("double")).getOrElse(lit(1.0))
    SpatialJoin.pointInPoly(points, counties, domain, res)
      // zero-weight features skip all geometry math (sumpoly.c:189,206)
      .where(w =!= 0.0)
      .select(col("fips"), col("x"), col("y"), w.as("__w"))
  }

  /** Point county stage: a point contributes its weight. */
  private def pointCounty(points: DataFrame, counties: DataFrame,
                          domain: CellDomain, res: Int,
                          weight: Option[String]): County =
    County(pointTag(points, counties, domain, res, weight), col("__w"), identity)

  /** Fragment county stage (line and polygon weights): drop zero weights,
    * measure each `feature` with `size` into `base`, drop empty ones, and
    * clip them to the counties with `clip`. `base` is both filtered and
    * projected, so `size` runs behind a local single-evaluation fence
    * (GeoFunctions header) — once per feature, not again in the scan-side
    * filter; the shared measure stays unfenced for its other callers.
    * The W∩D fragments leave without the unclipped `feature`, which
    * nothing reads after the clip. A piece of measure m contributes
    * val·m/base, or m itself when no weight is given. */
  private def fragCounty(features: DataFrame, weight: Option[String],
                         base: String, size: Column => Column,
                         feature: String, fragMeasure: String)
                        (clip: DataFrame => DataFrame): County = {
    val wts = features
      .where(weight.map(c => col(c).cast("double") =!= 0.0).getOrElse(lit(true)))
      .withColumn(base, fence(size(col(feature))))
      .where(col(base) > 0)
      .withColumn("__wval",
        weight.map(col(_).cast("double")).getOrElse(lit(0.0)))
    val contrib = (m: Column) =>
      weight.map(_ => col("__wval") * (m / col(base))).getOrElse(m)
    County(clip(wts).drop(feature), col(fragMeasure), contrib)
  }

  /** Polygon county stage: W ⋈ D with clipped fragments (polyIsect,
    * srg_main.c:287). counties: (fips, geom). */
  private def polyCounty(weights: DataFrame, counties: DataFrame,
                         domain: CellDomain, res: Int,
                         weight: Option[String]): County =
    fragCounty(weights, weight, "__warea", polygonArea, "geom",
        "frag_area") { w =>
      SpatialJoin.polyPolyFragments(
        w, counties.withColumnRenamed("geom", "bgeom"), domain, res)
    }

  /** Line county stage: W ⋈ D with clipped line pieces; `curved` measures
    * every length great-circle. */
  private def lineCounty(lines: DataFrame, counties: DataFrame,
                         domain: CellDomain, res: Int, weight: Option[String],
                         curved: Boolean): County =
    fragCounty(lines, weight, "__wlen",
        lineLength(_, curved), "line",
        "frag_len") { l =>
      SpatialJoin.linePolyFragments(l, counties, domain, res, curved = curved)
    }

  // ------------------------------------------------------ grid-clip stage

  /** (W∩D) ⋈ G with the grid never materialized: explode each row's
    * closed-form cover cells as `__cellid`, measure the exact per-cell clip
    * into `measure`, keep the cells it really touches, and name them by
    * COL/ROW (the reference's fillPolyIntInfo, sumpoly.c:385-423).
    * `sentinel`, when given, is the measure of a row's own sentinel: one
    * more exploded row with a NULL `__cellid` (so NULL COL/ROW) that
    * carries it; rows where it is NULL emit none. */
  private[operators] def cellClip(df: DataFrame, cover: Column,
                                  clip: Column => Column, measure: String,
                                  grid: GridSpec,
                                  sentinel: Option[Column] = None): DataFrame = {
    val id = col("__cellid")
    val cells = sentinel.fold(cover)(s =>
      when(s.isNull, cover).otherwise(concat(array(lit(null).cast("long")), cover)))
    df.withColumn("__cellid", explode(cells))
      .withColumn(measure,
        sentinel.fold(clip(id))(s => when(id.isNull, s).otherwise(clip(id))))
      .where(col(measure) > 0)
      .withColumn("col", cellIdCol(id, grid))
      .withColumn("row", cellIdRow(id, grid))
  }

  /** cellClip of the polygon rings in `geom`; per-cell area in `__carea`. */
  private[operators] def polyCellClip(df: DataFrame, geom: String,
                                      grid: GridSpec,
                                      sentinel: Option[Column] = None): DataFrame =
    cellClip(df, polyGridCoverCells(col(geom), grid),
      polyCellClipArea(col(geom), _, grid), "__carea", grid, sentinel)

  /** Grid tail of a fragment county stage: `cells` holds each fragment's
    * clipped cell rows and its sentinel, both measured in `measure`. The
    * rows are repartitioned on fips ahead of the (fips, cell) aggregate,
    * so the aggregate and the tail's windows share that one exchange; the
    * NULL cell sums the sentinels, which make up the whole denominator. */
  private def fragTail(c: County, cells: DataFrame, measure: String,
                       srgCode: Int, denomThreshold: Double,
                       keepSkipped: Boolean): DataFrame = {
    val perCell = cells
      .select(col("fips"), col("col"), col("row"),
        c.contrib(col(measure)).as("numer"))
      .repartition(col("fips"))
      .groupBy("fips", "col", "row").agg(sum("numer").as("numer"))
    gridTail(perCell.withColumn("dpart",
        when(col("col").isNull, col("numer")).otherwise(0.0)),
      srgCode, denomThreshold, keepSkipped)
  }

  // --------------------------------------------------- regular-grid target

  /** Point-weight surrogate (pages/ports): count mode when weight is None.
    * points must carry x, y; counties carry fips + geom. */
  def pointSurrogate(points: DataFrame, counties: DataFrame,
                     grid: GridSpec, domain: CellDomain, res: Int,
                     srgCode: Int, weight: Option[String] = None,
                     denomThreshold: Double = 1e-5,
                     keepSkipped: Boolean = false): DataFrame = {
    // ONE pass over the (huge) point table: aggregate per (fips, cell),
    // map-side partial combine first, with a NULL cell for off-grid points.
    // Every point counts in its county's denominator whether or not it is
    // on the grid (sum1Poly over W∩D, windowed to the counties' bbox not
    // the grid's, srg_main.c:227-230), so each row's numer is also its
    // part of the denominator — the sparse (county × cell) matrix the
    // reference builds (PolyIntStruct, sumpoly.c:283-334) is read once.
    val onGrid = inGrid(gridCol(col("x"), grid), gridRow(col("y"), grid), grid)
    val perCell = pointTag(points, counties, domain, res, weight)
      .withColumn("col", when(onGrid, gridCol(col("x"), grid)))
      .withColumn("row", when(onGrid, gridRow(col("y"), grid)))
      .groupBy("fips", "col", "row").agg(sum("__w").as("numer"))
    gridTail(perCell.withColumn("dpart", col("numer")), srgCode,
      denomThreshold, keepSkipped)
  }

  /** Polygon-weight surrogate (census tracts): area mode when weight None.
    * weights: (geom, [weight]); counties: (fips, geom). */
  def polySurrogate(weights: DataFrame, counties: DataFrame,
                    grid: GridSpec, domain: CellDomain, res: Int,
                    srgCode: Int, weight: Option[String] = None,
                    denomThreshold: Double = 1e-5,
                    keepSkipped: Boolean = false): DataFrame = {
    val c = polyCounty(weights, counties, domain, res, weight)
    fragTail(c, polyCellClip(c.rows, "frag_geom", grid, Some(c.measure)),
      "__carea", srgCode, denomThreshold, keepSkipped)
  }

  /** Line-weight surrogate (roads): length mode when weight None.
    * lines: (line, [weight]); counties: (fips, geom).
    * `curved` = the USE_CURVED_LINES env contract (polyops.c:440-474,
    * SA_ch03_vector.md:316): all three length measures — parent line,
    * county fragment, cell piece — switch to great-circle together. */
  def lineSurrogate(lines: DataFrame, counties: DataFrame,
                    grid: GridSpec, domain: CellDomain, res: Int,
                    srgCode: Int, weight: Option[String] = None,
                    denomThreshold: Double = 1e-5,
                    curved: Boolean = false,
                    keepSkipped: Boolean = false): DataFrame = {
    val c = lineCounty(lines, counties, domain, res, weight, curved)
    // per clipped piece × cell: Liang–Barsky length inside the cell; the
    // fragment's sentinel rides on its first piece only
    val pieces = c.rows.select(col("*"),
      posexplode(col("frag_line")).as(Seq("__pos", "__piece")))
    val cells = cellClip(pieces, lineGridCoverCells(col("__piece"), grid),
      lineCellClipLength(col("__piece"), _, grid, curved),
      "__clen", grid, Some(when(col("__pos") === 0, c.measure)))
    fragTail(c, cells, "__clen", srgCode, denomThreshold, keepSkipped)
  }

  // -------------------------------------------------------- every target

  /** The surrogate of a `kind` weight layer over `counties` (fips, geom)
    * onto `target`. weight names the layer's weight attribute; None is
    * count / length / area mode. `curved` = the USE_CURVED_LINES env
    * contract, read by line layers only. With keepSkipped, counties below
    * denomThreshold keep their rows for the #SKIPPED lines of the SMOKE
    * sink. The grid and cell targets give OUT_COLS rows (their qasum in
    * (row, col) order), the output polygons POLY_OUT_COLS rows. */
  def create(kind: WeightKind, layer: DataFrame, counties: DataFrame,
             target: Target, domain: CellDomain, res: Int, srgCode: Int,
             weight: Option[String] = None, denomThreshold: Double = 1e-5,
             curved: Boolean = false,
             keepSkipped: Boolean = false): DataFrame = {
    import WeightKind._
    // cell polygons carrying COL/ROW are output polygons keyed by (col,
    // row): the standard grid SMOKE format and (row, col) qasum apply
    def onCells(cells: DataFrame): DataFrame = {
      val keyed = cells.select(
        struct(col("col"), col("row")).as("out_id"), col("geom"))
      val (nById, denom) = toPolys(kind, layer, counties, keyed,
        domain, res, weight, curved)
      val numer = nById
        .withColumn("col", col("out_id.col"))
        .withColumn("row", col("out_id.row"))
        .select("fips", "col", "row", "numer")
      ratio(numer, denom, srgCode, denomThreshold, keepSkipped)
    }
    (target, kind) match {
      case (Grid(g), PointW) => pointSurrogate(layer, counties, g, domain,
        res, srgCode, weight, denomThreshold, keepSkipped)
      case (Grid(g), LineW) => lineSurrogate(layer, counties, g, domain,
        res, srgCode, weight, denomThreshold, curved, keepSkipped)
      case (Grid(g), PolyW) => polySurrogate(layer, counties, g, domain,
        res, srgCode, weight, denomThreshold, keepSkipped)
      case (Polys(outPolys), _) =>
        val (numer, denom) = toPolys(kind, layer, counties, outPolys,
          domain, res, weight, curved)
        ratioPoly(numer, denom, srgCode, denomThreshold, keepSkipped)
      case (CellPolys(cells), _) => onCells(cells)
      case (EGrid(g), PointW) =>
        val c = pointCounty(layer, counties, domain, res, weight).persisted
        ratio(c.numer(diamondPoints(c.rows, g), col("__w"),
            "fips", "col", "row"), c.denom,
          srgCode, denomThreshold, keepSkipped)
      // line/polygon weights clip against the materialized diamonds —
      // exactly the cell-polygon target; eGrid already carries COL/ROW.
      // COL/ROW derive from the diamond id ((polyID-1)%ncols+1,
      // surrogate.c:389-432), so the standard grid SMOKE format applies
      case (EGrid(g), _) => onCells(graft.sources.Sources.eGrid(
        layer.sparkSession, g.name, g.xorig, g.yorig, g.xcell, g.ycell,
        g.ncols, g.nrows))
    }
  }

  /** (numer per (fips, out_id), denom) of a weight kind against an
    * output-polygon layer outPolys: (out_id, geom). The W∩D rows meet the
    * output layer in a second join — the same two-intersection shape as the
    * reference's polyIsect(W∩D, G) with G a polygon layer instead of the
    * grid: points take an INNER second point-in-polygon, fragments clip
    * again. Contributions match the grid target's exactly (vs the ORIGINAL
    * weight measure); every length measure uses the same `curved` mode. */
  private def toPolys(kind: WeightKind, layer: DataFrame,
                      counties: DataFrame, outPolys: DataFrame,
                      domain: CellDomain, res: Int, weight: Option[String],
                      curved: Boolean): (DataFrame, DataFrame) = {
    val (c, hits, measure) = kind match {
      case WeightKind.PointW =>
        val c = pointCounty(layer, counties, domain, res, weight).persisted
        (c, SpatialJoin.pointInPoly(c.rows,
          outPolys.select(col("out_id"), col("geom")), domain, res), col("__w"))
      case WeightKind.LineW =>
        val c = lineCounty(layer, counties.select(col("fips"), col("geom")),
          domain, res, weight, curved).persisted
        val pieces = c.rows.withColumnRenamed("frag_len", "__wd_len")
          .withColumn("__piece", explode(col("frag_line")))
          .drop("frag_line")
        (c, SpatialJoin.linePolyFragments(pieces,
          outPolys.select(col("out_id"), col("geom")), domain, res,
          lineCol = "__piece", curved = curved), col("frag_len"))
      case WeightKind.PolyW =>
        val c = polyCounty(layer, counties, domain, res, weight).persisted
        (c, SpatialJoin.polyPolyFragments(
          c.rows.withColumnRenamed("frag_area", "__wd_area"),
          outPolys.select(col("out_id"), col("geom").as("ogeom")),
          domain, res, aGeom = "frag_geom", bGeom = "ogeom",
          keepFragGeom = false), col("frag_area"))
    }
    (c.numer(hits, measure, "fips", "out_id"), c.denom)
  }

  /** County-tagged points × the EGrid diamonds (col, row) that hold them,
    * in CLOSED FORM: diamond membership is pure column arithmetic
    * (|x−cx|·halfY + |y−cy|·halfX ≤ halfX·halfY, exact on the integer
    * lattice — no division wobble), so points never touch a geometry
    * kernel or a materialized diamond layer, matching the regular-grid
    * point path's "the grid never materializes" discipline. ≤ keeps edge
    * points in BOTH adjacent diamonds — the same EDGE-in outcome the
    * ray-cast gives. */
  private def diamondPoints(points: DataFrame, grid: GridSpec): DataFrame = {
    val halfX = grid.xcell / 2.0; val halfY = grid.ycell / 2.0
    val rm1 = floor((col("y") - lit(grid.yorig)) / halfY).cast("int")
    points
      .withColumn("__rm1", explode(sequence(rm1 - 1, rm1 + 1)))
      .withColumn("row", (col("__rm1") + 1).cast("int"))
      .withColumn("__off",
        when(col("row") % 2 === 0, halfX).otherwise(lit(0.0)))
      .withColumn("__cm1b",
        floor((col("x") - lit(grid.xorig) - col("__off")) / grid.xcell)
          .cast("int"))
      .withColumn("__cm1", explode(array(col("__cm1b"), col("__cm1b") + 1)))
      .withColumn("col", (col("__cm1") + 1).cast("int"))
      .withColumn("__cx",
        lit(grid.xorig) + col("__cm1") * grid.xcell + col("__off"))
      .withColumn("__cy", lit(grid.yorig) + col("__rm1") * halfY)
      .where(col("col").between(1, grid.ncols) &&
        col("row").between(1, grid.nrows) &&
        (abs(col("x") - col("__cx")) * halfY +
         abs(col("y") - col("__cy")) * halfX) <= halfX * halfY)
  }
}
