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
  * tail. The county stage is written once per weight kind
  * (WEIGHT_FILE_TYPE, dispatched by `byKind`) and yields the W∩D rows, the
  * denominator and the contribution of a measure taken on those rows
  * (sumpoly.c:53-266):
  *   point:   val                  (1 in count mode)
  *   line:    val·len(piece)/len(parent_line)   (len(piece) in length mode)
  *   polygon: val·area(piece)/area(parent_poly) (area(piece) in area mode)
  * ratio is always vs the ORIGINAL weight feature (sumpoly.c:667,672).
  *
  * Targets: the regular grid (closed-form cells for points, `cellClip` for
  * fragments), output polygons (a second clip / point-in-polygon), cell
  * polygons carrying COL/ROW (variable grid), and the EGrid (closed-form
  * diamonds for points, cell polygons otherwise). The regular-grid point
  * path shares only the point tag: its denominator re-aggregates its own
  * persisted per-cell matrix, so the point table is scanned once.
  *
  * Scale notes: numerator/denominator are hash aggregations with map-side
  * partial combine (sparse by construction — the reference needed a custom
  * sparse struct, sumpoly.c:283-334; Spark gets it free). The county
  * dimension joins broadcast. The grid never materializes: cells are
  * closed-form column arithmetic for points, bbox-cover explode for
  * fragments. Denominators re-join numerators broadcast (one row per
  * county). The only wide exchanges are the two groupBys, both keyed
  * (fips[,cell]) — minimal for the semantics. Output rows come in no
  * particular order; the SMOKE sinks sort what they write.
  */
object Surrogate {

  val OUT_COLS: Seq[String] =
    Seq("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")

  val POLY_OUT_COLS: Seq[String] =
    Seq("srg_code", "fips", "out_id", "frac", "numer", "denom", "qasum")

  /** The WEIGHT_FILE_TYPE dispatch every surrogate entry shares:
    * Point | PointFile, Line, and anything else as Polygon. */
  private[graft] def byKind[A](kind: String)(point: => A, line: => A,
                                             poly: => A): A = kind match {
    case "Point" | "PointFile" => point
    case "Line" => line
    case _ => poly
  }

  // --------------------------------------------------------- ratio tail

  /** Grid tail: numerators ⋈ denominators → frac, threshold skip, qasum.
    * numer: (fips, col, row, numer); denom: (fips, denom). */
  def ratio(numer: DataFrame, denom: DataFrame, srgCode: Int,
            denomThreshold: Double = 1e-5,
            keepSkipped: Boolean = false): DataFrame =
    ratioTail(numer, denom, srgCode, denomThreshold, keepSkipped,
      Seq(col("row"), col("col")), OUT_COLS)

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
    ratioTail(numer, denom, srgCode, denomThreshold, keepSkipped,
      Seq(col("out_id").cast("string")), POLY_OUT_COLS)

  private def ratioTail(numer: DataFrame, denom: DataFrame, srgCode: Int,
                        denomThreshold: Double, keepSkipped: Boolean,
                        order: Seq[Column], outCols: Seq[String]): DataFrame = {
    // #SKIPPED semantics (surrogate.c:434-452): below-threshold counties
    // normally never emit rows; with keepSkipped they flow through — frac
    // and all — so Smoke.toLines can render them with the `#SKIPPED `
    // prefix exactly like the reference's file. Zero-numerator rows are
    // skipped either way (PG: WHERE numer != 0 AND denom != 0).
    val denomPass =
      if (keepSkipped) col("denom") =!= 0.0
      else col("denom") >= denomThreshold
    val joined = numer.join(broadcast(denom), "fips")
      .where(denomPass && col("numer") =!= 0.0)
      .withColumn("frac", col("numer") / col("denom"))
    val w = Window.partitionBy("fips").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // no global sort: row order is the sink's job (Smoke.write orders the
    // counties it collects, each rendered in this window's order), and a
    // range sort here would cost a sampling job and a wide exchange on
    // every call
    joined
      .withColumn("qasum", sum("frac").over(w))
      .withColumn("srg_code", lit(srgCode))
      .select(outCols.map(col): _*)
  }

  // ------------------------------------------------------- county stages

  /** A county stage's result: the W∩D rows, Σ contribution per county,
    * and the contribution of a measure taken on those rows. */
  private case class County(rows: DataFrame, denom: DataFrame,
                            contrib: Column => Column) {
    /** Σ contribution of `measure` per `keys` — every target's numerator. */
    def numer(df: DataFrame, measure: Column, keys: String*): DataFrame =
      df.groupBy(keys.map(col): _*).agg(sum(contrib(measure)).as("numer"))
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

  /** Point county stage: the tag persisted, because the denominator (every
    * point in its county, whether or not it reaches a target) and the
    * numerator both consume it. A point contributes its weight. */
  private def pointCounty(points: DataFrame, counties: DataFrame,
                          domain: CellDomain, res: Int,
                          weight: Option[String]): County = {
    val tagged = pointTag(points, counties, domain, res, weight)
      .transform(graft.spark.PersistTracker.persist)
    County(tagged, tagged.groupBy("fips").agg(sum("__w").as("denom")), identity)
  }

  /** Fragment county stage (line and polygon weights): drop zero weights,
    * measure each `feature` with `size` into `base`, drop empty ones, and
    * clip them to the counties with `clip`. `base` is both filtered and
    * projected, so `size` runs behind a local single-evaluation fence
    * (GeoFunctions header) — once per feature, not again in the scan-side
    * filter; the shared measure stays unfenced for its other callers.
    * The W∩D fragments are persisted, without the unclipped `feature`
    * that nothing reads after the clip — the denominator and every
    * target's numerator consume them, and the reference materializes this
    * same grid-independent intermediate (SAVE_DW_FILE/USE_DW_FILE,
    * data_weight.c:19-160). A piece of measure
    * m contributes val·m/base, or m itself when no weight is given. */
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
    val frags = clip(wts).drop(feature)
      .transform(graft.spark.PersistTracker.persist)
    val contrib = (m: Column) =>
      weight.map(_ => col("__wval") * (m / col(base))).getOrElse(m)
    County(frags,
      frags.groupBy("fips").agg(sum(contrib(col(fragMeasure))).as("denom")),
      contrib)
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
    * COL/ROW (the reference's fillPolyIntInfo, sumpoly.c:385-423). */
  private[operators] def cellClip(df: DataFrame, cover: Column,
                                  clip: Column => Column, measure: String,
                                  grid: GridSpec): DataFrame =
    df.withColumn("__cellid", explode(cover))
      .withColumn(measure, clip(col("__cellid")))
      .where(col(measure) > 0)
      .withColumn("col", cellIdCol(col("__cellid"), grid))
      .withColumn("row", cellIdRow(col("__cellid"), grid))

  /** cellClip of the polygon rings in `geom`; per-cell area in `__carea`. */
  private[operators] def polyCellClip(df: DataFrame, geom: String,
                                      grid: GridSpec): DataFrame =
    cellClip(df, polyGridCoverCells(col(geom), grid),
      polyCellClipArea(col(geom), _, grid), "__carea", grid)

  // --------------------------------------------------- regular-grid target

  /** Point-weight surrogate (pages/ports): count mode when weight is None.
    * points must carry x, y; counties carry fips + geom. */
  def pointSurrogate(points: DataFrame, counties: DataFrame,
                     grid: GridSpec, domain: CellDomain, res: Int,
                     srgCode: Int, weight: Option[String] = None,
                     denomThreshold: Double = 1e-5,
                     keepSkipped: Boolean = false): DataFrame = {
    // ONE pass over the (huge) point table: aggregate per (fips, cell) with
    // a NULL cell for off-grid points. The denominator — every point in its
    // county whether or not on the grid (sum1Poly over W∩D, windowed to the
    // counties' bbox not the grid's, srg_main.c:227-230) — then re-aggregates
    // the tiny per-cell table instead of rescanning the input.
    val onGrid = inGrid(gridCol(col("x"), grid), gridRow(col("y"), grid), grid)
    // persist the sparse (county × cell) matrix — the reference materializes
    // it too (PolyIntStruct, sumpoly.c:283-334); without it the broadcast
    // branch of the numer⋈denom join would re-run the full input scan
    val perCell = pointTag(points, counties, domain, res, weight)
      .withColumn("col", when(onGrid, gridCol(col("x"), grid)))
      .withColumn("row", when(onGrid, gridRow(col("y"), grid)))
      .groupBy("fips", "col", "row").agg(sum("__w").as("numer"))
      .transform(graft.spark.PersistTracker.persist)
    val denom = perCell.groupBy("fips").agg(sum("numer").as("denom"))
    val numer = perCell.where(col("col").isNotNull && col("row").isNotNull)
    ratio(numer, denom, srgCode, denomThreshold, keepSkipped)
  }

  /** Polygon-weight surrogate (census tracts): area mode when weight None.
    * weights: (geom, [weight]); counties: (fips, geom). */
  def polySurrogate(weights: DataFrame, counties: DataFrame,
                    grid: GridSpec, domain: CellDomain, res: Int,
                    srgCode: Int, weight: Option[String] = None,
                    denomThreshold: Double = 1e-5,
                    keepSkipped: Boolean = false): DataFrame = {
    val c = polyCounty(weights, counties, domain, res, weight)
    val numer = c.numer(polyCellClip(c.rows, "frag_geom", grid),
      col("__carea"), "fips", "col", "row")
    ratio(numer, c.denom, srgCode, denomThreshold, keepSkipped = keepSkipped)
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
    // per clipped piece × cell: Liang–Barsky length inside the cell
    val pieces = c.rows.withColumn("__piece", explode(col("frag_line")))
    val cells = cellClip(pieces, lineGridCoverCells(col("__piece"), grid),
      lineCellClipLength(col("__piece"), _, grid, curved),
      "__clen", grid)
    val numer = c.numer(cells, col("__clen"), "fips", "col", "row")
    ratio(numer, c.denom, srgCode, denomThreshold, keepSkipped = keepSkipped)
  }

  // ------------------------------------------------- output-polygon target

  /** (numer per (fips, out_id), denom) of a weight kind against an
    * output-polygon layer outPolys: (out_id, geom). The W∩D rows meet the
    * output layer in a second join — the same two-intersection shape as the
    * reference's polyIsect(W∩D, G) with G a polygon layer instead of the
    * grid: points take an INNER second point-in-polygon, fragments clip
    * again. */
  private def toPolys(kind: String, layer: DataFrame, counties: DataFrame,
                      outPolys: DataFrame, domain: CellDomain, res: Int,
                      weight: Option[String], curved: Boolean)
      : (DataFrame, DataFrame) = {
    val (c, hits, measure) = byKind(kind)(
      point = {
        val c = pointCounty(layer, counties, domain, res, weight)
        (c, SpatialJoin.pointInPoly(c.rows,
          outPolys.select(col("out_id"), col("geom")), domain, res), col("__w"))
      },
      line = {
        val c = lineCounty(layer, counties.select(col("fips"), col("geom")),
          domain, res, weight, curved)
        val pieces = c.rows.withColumnRenamed("frag_len", "__wd_len")
          .withColumn("__piece", explode(col("frag_line")))
          .drop("frag_line")
        (c, SpatialJoin.linePolyFragments(pieces,
          outPolys.select(col("out_id"), col("geom")), domain, res,
          lineCol = "__piece", curved = curved), col("frag_len"))
      },
      poly = {
        val c = polyCounty(layer, counties, domain, res, weight)
        (c, SpatialJoin.polyPolyFragments(
          c.rows.withColumnRenamed("frag_area", "__wd_area"),
          outPolys.select(col("out_id"), col("geom").as("ogeom")),
          domain, res, aGeom = "frag_geom", bGeom = "ogeom",
          keepFragGeom = false), col("frag_area"))
      })
    (c.numer(hits, measure, "fips", "out_id"), c.denom)
  }

  /** Point-weight surrogate onto OUTPUT POLYGONS instead of grid cells
    * (srgcreate OUTPUT_FILE_TYPE=Polygon). outPolys: (out_id, geom). */
  def pointSurrogateToPolys(points: DataFrame, counties: DataFrame,
                            outPolys: DataFrame,
                            domain: CellDomain, res: Int, srgCode: Int,
                            weight: Option[String] = None,
                            denomThreshold: Double = 1e-5,
                            keepSkipped: Boolean = false): DataFrame = {
    val (numer, denom) = toPolys("Point", points, counties, outPolys,
      domain, res, weight, curved = false)
    ratioPoly(numer, denom, srgCode, denomThreshold, keepSkipped = keepSkipped)
  }

  /** Polygon-weight surrogate onto OUTPUT POLYGONS; contributions match
    * polySurrogate exactly (vs the ORIGINAL weight area). */
  def polySurrogateToPolys(weights: DataFrame, counties: DataFrame,
                           outPolys: DataFrame,
                           domain: CellDomain, res: Int, srgCode: Int,
                           weight: Option[String] = None,
                           denomThreshold: Double = 1e-5,
                           keepSkipped: Boolean = false): DataFrame = {
    val (numer, denom) = toPolys("Polygon", weights, counties, outPolys,
      domain, res, weight, curved = false)
    ratioPoly(numer, denom, srgCode, denomThreshold, keepSkipped = keepSkipped)
  }

  /** Line-weight surrogate onto OUTPUT POLYGONS; every length measure uses
    * the same `curved` mode (USE_CURVED_LINES). */
  def lineSurrogateToPolys(lines: DataFrame, counties: DataFrame,
                           outPolys: DataFrame,
                           domain: CellDomain, res: Int, srgCode: Int,
                           weight: Option[String] = None,
                           denomThreshold: Double = 1e-5,
                           curved: Boolean = false,
                           keepSkipped: Boolean = false): DataFrame = {
    val (numer, denom) = toPolys("Line", lines, counties, outPolys,
      domain, res, weight, curved)
    ratioPoly(numer, denom, srgCode, denomThreshold, keepSkipped = keepSkipped)
  }

  // ------------------------------------------ cell-polygon and EGrid targets

  /** Surrogate onto an ARBITRARY cell-polygon layer carrying COL/ROW —
    * the WRF curvilinear grid-dot variable grid
    * (variableGridReader.c:216-470, OUTPUT_FILE_TYPE=VariableGrid). The
    * standard grid SMOKE format and (row, col)-ordered qasum apply.
    * cells: (col, row, geom). */
  def surrogateToCellPolys(weightLayer: DataFrame, counties: DataFrame,
                           cells: DataFrame,
                           domain: CellDomain, res: Int, srgCode: Int,
                           kind: String,
                           weight: Option[String] = None,
                           denomThreshold: Double = 1e-5,
                           curved: Boolean = false,
                           keepSkipped: Boolean = false): DataFrame = {
    val keyed = cells.select(
      struct(col("col"), col("row")).as("out_id"), col("geom"))
    val (nById, denom) = toPolys(kind, weightLayer, counties, keyed,
      domain, res, weight, curved)
    val numer = nById
      .withColumn("col", col("out_id.col"))
      .withColumn("row", col("out_id.row"))
      .select("fips", "col", "row", "numer")
    ratio(numer, denom, srgCode, denomThreshold, keepSkipped = keepSkipped)
  }

  /** srgcreate OUTPUT_FILE_TYPE=EGrid (EGridReader.c geometry): the
    * surrogate runs against the staggered WRF-NMM diamonds generated from
    * the SAME GRIDDESC entry, and COL/ROW derive from the diamond id
    * ((polyID-1)%ncols+1, surrogate.c:389-432) so the standard grid SMOKE
    * format applies — including the (row, col)-ordered qasum. */
  def surrogateToEGrid(weightLayer: DataFrame, counties: DataFrame,
                       grid: GridSpec, domain: CellDomain, res: Int,
                       srgCode: Int, kind: String,
                       weight: Option[String] = None,
                       denomThreshold: Double = 1e-5,
                       curved: Boolean = false,
                       keepSkipped: Boolean = false): DataFrame = {
    // line/polygon weights clip against the materialized diamonds —
    // exactly the arbitrary-cell path; eGrid already carries COL/ROW
    def onDiamonds = surrogateToCellPolys(weightLayer, counties,
      graft.sources.Sources.eGrid(weightLayer.sparkSession, grid.name,
        grid.xorig, grid.yorig, grid.xcell, grid.ycell, grid.ncols, grid.nrows),
      domain, res, srgCode, kind, weight, denomThreshold, curved, keepSkipped)
    byKind(kind)(point = {
      // CLOSED-FORM diamond assignment — diamond membership is pure
      // column arithmetic (|x−cx|·halfY + |y−cy|·halfX ≤ halfX·halfY,
      // exact on the integer lattice — no division wobble), so points
      // never touch a geometry kernel or a materialized diamond layer,
      // matching the regular-grid point path's "the grid never
      // materializes" discipline. ≤ keeps edge points in BOTH adjacent
      // diamonds — the same EDGE-in outcome the ray-cast gives.
      val halfX = grid.xcell / 2.0; val halfY = grid.ycell / 2.0
      val c = pointCounty(weightLayer, counties, domain, res, weight)
      val rm1 = floor((col("y") - lit(grid.yorig)) / halfY).cast("int")
      val cand = c.rows
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
      ratio(c.numer(cand, col("__w"), "fips", "col", "row"), c.denom,
        srgCode, denomThreshold, keepSkipped = keepSkipped)
    }, line = onDiamonds, poly = onDiamonds)
  }
}
