package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.{CellDomain, CellIndex}
import graft.grid.{Ellipsoid, GridSpec, Proj}
import graft.operators._
import graft.functions.WeightExpr
import graft.sources.{Sources, GridDesc}
import graft.io.Smoke

/** The allocator/srgcreate driver re-expressed over the engine — honoring
  * the reference's env-var contract (mims_evs.h, mims_spatial.c:132,589-620)
  * so a user of the reference can switch by repointing file paths at
  * parquet/CSV layers:
  *
  *   MIMS_PROCESSING ∈ SURROGATE | ALLOCATE | OVERLAY | FILTER_SHAPE |
  *                     CONVERT_SHAPE
  *   GRIDDESC + OUTPUT_GRID_NAME        grid catalog + target grid
  *   DATA_FILE_NAME / DATA_ID_ATTR      data polygons (fips layer)
  *   WEIGHT_FILE_NAME / WEIGHT_FILE_TYPE (Polygon|Line|Point)
  *   WEIGHT_ATTR_LIST | WEIGHT_FUNCTION | SURROGATE_ID
  *   FILTER_FILE-style conds via FILTER_ATTR/FILTER_INCLUDE/FILTER_EXCLUDE
  *   DENOMINATOR_THRESHOLD, SURROGATE_FILE (SMOKE text out)
  *   INPUT_FILE_NAME + OVERLAY_SHAPE    overlay input + mask
  *   ALLOCATE_ATTRS + ALLOC_MODE_FILE-style "attr=Mode" list
  *
  * Config comes from a Map (defaults to sys.env) so the same entry point is
  * scriptable and testable. File types: parquet layers with the engine's
  * geometry columns; PointFile CSV via Sources.pointFile.
  */
object SpatialAllocator {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("spatial-allocator").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sys.env) finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Map[String, String]): Option[DataFrame] = {
    def req(k: String): String = cfg.getOrElse(k,
      throw new IllegalArgumentException(s"required env $k not set"))

    // the cell index's own bounds (SqlFunctions.litRes checks the same
    // resolution range): a zero-width domain divides by zero in the cell
    // math, and ids of two resolutions collide above MaxRes
    val domain = cfg.get("CELL_DOMAIN").map { s =>
      val v = s.split(",").map(_.trim.toDoubleOption.getOrElse(Double.NaN))
      require(v.length == 4 && v(2) > v(0) && v(3) > v(1),
        s"CELL_DOMAIN must be xmin,ymin,xmax,ymax with xmax > xmin and " +
          s"ymax > ymin, got '$s'")
      CellDomain(v(0), v(1), v(2), v(3))
    }.getOrElse(CellDomain(0, 0, 8192, 8192))
    val zres = cfg.get("CELL_RES").fold(4) { s =>
      val r = s.trim.toIntOption.filter(r => r >= 0 && r <= CellIndex.MaxRes)
      require(r.isDefined,
        s"CELL_RES must be an integer in [0, ${CellIndex.MaxRes}], got '$s'")
      r.get
    }

    // the GRIDDESC catalog parses ONCE per run (reprojection, sinks and
    // grid lookups all consult it)
    lazy val gdCatalog: Option[GridDesc.Catalog] = cfg.get("GRIDDESC").map { path =>
      GridDesc.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
    }
    def gridByName(name: String): GridSpec =
      gdCatalog.map(c => c.grids.getOrElse(name,
          throw new IllegalArgumentException(
            s"grid '$name' not in GRIDDESC (has: ${c.grids.keys.toSeq.sorted.mkString(", ")})"))
          .grid)
        .getOrElse(graft.grid.GridCatalog.byName(name))
    lazy val gdEntryV: Option[GridDesc.Entry] =
      gdCatalog.map(c => c.grids.getOrElse(req("OUTPUT_GRID_NAME"),
        throw new IllegalArgumentException(
          s"grid '${req("OUTPUT_GRID_NAME")}' not in GRIDDESC " +
            s"(has: ${c.grids.keys.toSeq.sorted.mkString(", ")})")))
    def gdEntry(): Option[GridDesc.Entry] = gdEntryV

    def grid(): GridSpec = gdEntry().map(_.grid)
      .getOrElse(graft.grid.GridCatalog.byName(req("OUTPUT_GRID_NAME")))

    // the grid's one coordinate system, which every header of the run
    // describes: the #GRID line and the .ncf's GDTYP, P_ALP..YCENT
    // (allocate.c:750-833 writes the first; convert_txt2ncf.f:80-97 copies
    // it into the second). The GRIDDESC entry's, else SMOKE's default
    lazy val coord: GridDesc.CoordSys =
      (if (cfg.contains("OUTPUT_GRID_NAME")) gdEntry().map(_.coord) else None)
        .getOrElse(GridDesc.CoordSys.Default)

    // each layer's file type is read once: it picks the layer's reader, and
    // its one parse picks every geometry dispatch on the layer (OVERLAY's
    // input defaults to points, every other input to polygons)
    val weightType = cfg.getOrElse("WEIGHT_FILE_TYPE", "Polygon")
    val weightKind = WeightKind.fromFileType(weightType)
    val inputType = cfg.getOrElse("INPUT_FILE_TYPE",
      if (cfg.get("MIMS_PROCESSING").contains("OVERLAY")) "Point" else "Polygon")
    val inputKind = WeightKind.fromFileType(inputType)
    lazy val maxSeg = cfg.getOrElse("MAX_LINE_SEG", "0").toDouble

    def readLayer(path: String, ftype: String): DataFrame = ftype match {
      case "PointFile" =>
        Sources.pointFile(spark, path,
          cfg.getOrElse("INPUT_FILE_XCOL", "x"),
          cfg.getOrElse("INPUT_FILE_YCOL", "y"),
          cfg.getOrElse("INPUT_FILE_DELIMITER", "COMMA"))
      // gridded I/O API netCDF (IoapiInputReader.c) — sparse gridded frame
      case "IoapiFile" => graft.sources.Ioapi.read(spark, path, dropZeros = true)._2
      // grid generated in memory from the GRIDDESC catalog, named by
      // INPUT_GRID_NAME (regularGridReader.c:34; SA_ch03_vector.md:320) —
      // cell polygons with COL/ROW attributes, `path` unused
      case "RegularGrid" =>
        Sources.regularGrid(spark, gridByName(req("INPUT_GRID_NAME")))
      case _ =>
        // binary shapefile front door when `path`.shp exists (the
        // reference's universal input); parquet otherwise
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".shp")))
          graft.sources.Shapefile.read(spark, path)
        else spark.read.parquet(path)
    }

    // every CRS of the run is read here: <PFX>_MAP_PRJN with
    // <PFX>_ELLIPSOID appended; None when the layer declares none
    def crs(pfx: String): Option[Proj] = cfg.get(s"${pfx}_MAP_PRJN").map(spec =>
      Proj.parse(cfg.get(s"${pfx}_ELLIPSOID").fold(spec)(e => s"$spec,$e")))

    // grid-CRS target for during-scan reprojection (PolyReader reprojects
    // every input layer into the output map projection at read time,
    // srg_main.c:171,227-230): OUTPUT_FILE_MAP_PRJN wins, else the
    // GRIDDESC coordinate system; OUTPUT_FILE_ELLIPSOID applies to both
    def targetProj(): Option[Proj] = crs("OUTPUT_FILE").orElse(gdEntry().map(e =>
      Proj.fromGriddesc(e.coord,
        cfg.get("OUTPUT_FILE_ELLIPSOID").fold(Ellipsoid.Sphere)(Ellipsoid.parse))))

    // reproject a layer from its declared CRS into the grid CRS; a layer
    // with no declared CRS is already there
    def reprojected(df: DataFrame, pfx: String, kind: WeightKind): DataFrame =
      crs(pfx) match {
        // targetProj() only resolves when a source CRS is declared — it
        // may consult the GRIDDESC entry, which need not exist otherwise
        case Some(from) => targetProj() match {
          case None =>
            // a declared source CRS with no resolvable grid CRS would
            // silently mix projections — fail instead
            throw new IllegalArgumentException(
              s"${pfx}_MAP_PRJN is set but the grid CRS is unknown: set " +
                "OUTPUT_FILE_MAP_PRJN or provide a GRIDDESC entry for " +
                "OUTPUT_GRID_NAME")
          case Some(to) => Reproject.layer(kind, df, from, to, maxSeg)
        }
        case None => df
      }

    def weightLayer(): DataFrame = {
      val base = reprojected(readLayer(req("WEIGHT_FILE_NAME"), weightType),
        "WEIGHT_FILE", weightKind)
      val filtered = applyFilter(base)
      cfg.get("WEIGHT_FUNCTION") match {
        case Some(f) => filtered.withColumn("weight_function", WeightExpr.compile(f))
        case None => filtered
      }
    }

    // OUTPUT_POLY_FILE, read the same way by every mode: any layer format,
    // reprojected from OUTPUT_POLY_MAP_PRJN, its OUTPUT_POLY_ATTRS as out_id
    def outputPolys(): DataFrame =
      reprojected(readLayer(req("OUTPUT_POLY_FILE"), "Polygon"),
          "OUTPUT_POLY", WeightKind.PolyW)
        .withColumnRenamed(cfg.getOrElse("OUTPUT_POLY_ATTRS", "out_id"), "out_id")

    def applyFilter(df: DataFrame): DataFrame =
      cfg.get("FILTER_FILE").filter(_ != "NONE") match {
        // the reference's filter-file contract (FILTER_FILE env,
        // SA_ch03_vector.md:262,1004-1046) — multi-block keyword=value text
        case Some(path) =>
          Filters.filterSpec(df, Filters.parseFilterFile(
            new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(path)), "UTF-8")))
        case None => cfg.get("FILTER_ATTR") match {
          case Some(attr) =>
            Filters.filterSpec(df, Seq(Filters.AttrCond(attr,
              discrete = cfg.getOrElse("FILTER_TYPE", "DISCRETE") == "DISCRETE",
              include = cfg.get("FILTER_INCLUDE").map(_.split(",").toSeq).getOrElse(Nil),
              exclude = cfg.get("FILTER_EXCLUDE").map(_.split(",").toSeq).getOrElse(Nil))))
          case None => df
        }
      }

    // WRF curvilinear grid from GRID_DOT_FILE (variableGridReader.c:
    // 216-470): lon/lat dots project via the grid CRS; READ_XYDOT=1 dots
    // are projected offsets shifted by X_ORIG/Y_ORIG (explicit envs win,
    // else the GRIDDESC entry's origin, never a silent 0 against a
    // georeferenced catalog). The returned GridSpec is CONSISTENT with the
    // dot lattice and feeds the SMOKE header.
    def variableGrid(): (GridSpec, DataFrame) = {
      val dotText = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(req("GRID_DOT_FILE"))), "UTF-8")
      val readXY = cfg.get("READ_XYDOT").contains("1")
      val proj = if (readXY) None else Some(targetProj().getOrElse(
        throw new IllegalArgumentException(
          "VariableGrid lon/lat dots need a grid CRS: set " +
            "OUTPUT_FILE_MAP_PRJN or a GRIDDESC entry")))
      def orig(env: String, pick: GridSpec => Double): Double =
        cfg.get(env).map(_.toDouble)
          .orElse(if (cfg.contains("OUTPUT_GRID_NAME"))
                    gdEntry().map(e => pick(e.grid)) else None)
          .getOrElse(0.0)
      Sources.variableDotGrid(spark, dotText,
        (lon, lat) => proj.map(_.forward(lon, lat)).getOrElse((lon, lat)),
        readXY = readXY,
        xorig = orig("X_ORIG", _.xorig), yorig = orig("Y_ORIG", _.yorig),
        name = cfg.getOrElse("OUTPUT_GRID_NAME", "VARGRID"))
    }

    // gridded .ncf sink shared by the IoapiFile output paths: long rows
    // (var, tstep, layer, row, col, value) under the GRIDDESC header
    def writeNcf(long: DataFrame, vars: Seq[graft.sources.Ioapi.VarDef],
                 path: String, numRecs: Int = 1,
                 sdate: Int = 2007001, stime: Int = 0,
                 tstep: Int = 10000): Unit = {
      import graft.sources.Ioapi
      val h = Ioapi.headerFor(grid(), vars, coord,
        sdate = sdate, stime = stime, tstep = tstep)
      Ioapi.write(long, h, path, numRecs = numRecs)
    }

    val result: Option[DataFrame] = req("MIMS_PROCESSING") match {
      case "SURROGATE" =>
        // OUTPUT_FILE_TYPE, parsed once and checked before any layer is
        // read: the SMOKE header tag (allocate.c:765-779) and the target.
        // Polygon puts the surrogate onto OUTPUT POLYGONS instead of grid
        // cells (surrogate.c:455-470 — data lines carry the output polygon
        // id, remainder rows use id "0"); EGrid swaps ONLY the surrogate
        // computation (staggered diamonds from the same GRIDDESC entry,
        // COL/ROW from the diamond id) — the sinks below, .ncf included,
        // are shared
        val outType = cfg.getOrElse("OUTPUT_FILE_TYPE", "RegularGrid")
        lazy val dots = variableGrid()
        val (tag, target): (String, Surrogate.Target) = outType match {
          case "RegularGrid" => ("#GRID", Surrogate.Grid(grid()))
          case "EGrid" => ("#GRID", Surrogate.EGrid(grid()))
          case "VariableGrid" => ("#VARIABLE_GRID", Surrogate.CellPolys(dots._2))
          case "Polygon" => ("#POLYGON", Surrogate.Polys(outputPolys()))
          case other => throw new IllegalArgumentException(
            s"OUTPUT_FILE_TYPE=$other " +
              "(RegularGrid | EGrid | VariableGrid | Polygon)")
        }
        val counties = reprojected(readLayer(req("DATA_FILE_NAME"), "Polygon"),
            "DATA_FILE", WeightKind.PolyW)
          .withColumnRenamed(cfg.getOrElse("DATA_ID_ATTR", "fips"), "fips")
        val code = cfg.getOrElse("SURROGATE_ID", "100").toInt
        val thr = cfg.getOrElse("DENOMINATOR_THRESHOLD", "0.00001").toDouble
        val weight = cfg.get("WEIGHT_FUNCTION").map(_ => "weight_function")
          .orElse(cfg.get("WEIGHT_ATTR_LIST").map(_.split(",").head.trim)
            .filter(_ != "NONE"))
        val w = weightLayer()
        // QA comment fields append independently (surrogate.c:132-179):
        // WRITE_QASUM gates qasum and is the default for the other two;
        // WRITE_HEADER=NO/N suppresses the header line (beld3smk sets "N")
        val qaBase = cfg.getOrElse("WRITE_QASUM", "YES")
        val qaFields = Smoke.QaFields(
          numerator = cfg.getOrElse("WRITE_SRG_NUMERATOR", qaBase) == "YES",
          denominator = cfg.getOrElse("WRITE_SRG_DENOMINATOR", qaBase) == "YES",
          qasum = qaBase == "YES")
        val hdrOn = !Seq("NO", "N").contains(cfg.getOrElse("WRITE_HEADER", "YES"))
        // keepSkipped: below-threshold counties must REACH the sink so the
        // SURROGATE_FILE renders their #SKIPPED rows (surrogate.c:434-452);
        // everything downstream of the text file sees only live counties.
        // USE_CURVED_LINES=YES switches every length measure to
        // great-circle (polyops.c:440-447, SA_ch03_vector.md:316)
        val srgFull = Surrogate.create(weightKind, w, counties, target,
          domain, zres, code, weight, thr,
          curved = cfg.getOrElse("USE_CURVED_LINES", "NO") == "YES",
          keepSkipped = true)
        val srg = srgFull.where(col("denom") >= thr)
        cfg.get("SURROGATE_FILE").foreach { out =>
          // the grid the header describes: the VariableGrid header carries
          // the DOT-lattice grid spec, never an unrelated regular grid whose
          // dims the body could exceed; Polygon output needs no grid, so
          // without OUTPUT_GRID_NAME its header is omitted rather than
          // embedding an unrelated grid
          val haveGrid = cfg.contains("OUTPUT_GRID_NAME")
          val sinkGrid = target match {
            case Surrogate.CellPolys(_) => Some(dots._1)
            case Surrogate.Polys(_) if !haveGrid => None
            case _ => Some(grid())
          }
          Smoke.write(srgFull,
            sinkGrid.getOrElse(GridSpec("NOGRID", 0, 0, 0, 0, 0, 0)),
            Smoke.projInfoFor(coord), out,
            withQa = qaFields.any, denomThreshold = thr, headerTag = tag,
            fields = qaFields, writeHeader = hdrOn && sinkGrid.isDefined)
        }
        // srg2ncf in one pass (util/srg2ncf/convert_txt2ncf.f) — the .ncf
        // header carries the grid's projection, as the SMOKE header does,
        // and only live counties accumulate (the Fortran skips '#' comment
        // lines)
        cfg.get("SURROGATE_NETCDF_FILE").foreach { p =>
          // convert_txt2ncf's grid is the REGULAR output grid; variable-
          // grid col/row indices would land in the wrong envelope, and
          // output polygons have none
          val g = target match {
            case Surrogate.Grid(g) => g
            case Surrogate.EGrid(g) => g
            case _ => throw new IllegalArgumentException(
              "SURROGATE_NETCDF_FILE requires a RegularGrid/EGrid output " +
                s"(OUTPUT_FILE_TYPE=$outType has no regular cell indices)")
          }
          graft.sources.Ioapi.srg2ncf(srg, g, p, coord)
        }
        Some(srg)

      case "ALLOCATE" if cfg.get("INPUT_FILE_TYPE").contains("IoapiFile") =>
        // allocateIoapi.c: gridded I/O API data regrids onto the output
        // polygons — the gridded side hash-joins on (col, row), no
        // geometry kernel ever touches it
        val (hdr, nrec, griddedAll) = graft.sources.Ioapi.readWithRecs(spark,
          req("INPUT_FILE_NAME"), dropZeros = true)
        // ALLOCATE_ATTRS names the I/O API variables to carry
        // (attachAttributeIoapi selects them); "ALL"/unset keeps every one
        val wanted = cfg.get("ALLOCATE_ATTRS").filter(_ != "ALL")
          .map(_.split(",").map(_.trim).toSeq)
        wanted.foreach { ws =>
          val known = hdr.vars.map(_.name).toSet
          val missing = ws.filterNot(known)
          require(missing.isEmpty,
            s"ALLOCATE_ATTRS names variables not in the file: " +
              s"${missing.mkString(", ")} (file has ${known.mkString(", ")})")
        }
        val gridded = wanted
          .map(ws => griddedAll.where(col("var").isin(ws: _*)))
          .getOrElse(griddedAll)
        val hdrVars = wanted
          .map(ws => hdr.vars.filter(v => ws.contains(v.name)))
          .getOrElse(hdr.vars)
        if (cfg.get("OUTPUT_FILE_TYPE").contains("IoapiFile")) {
          // grid→grid regrid ("convert data from one grid to another",
          // SA_ch03_vector.md:756; beld3smk drives this per tile with
          // ALLOC_MODE_FILE=ALL_AVERAGE): output polys ARE the
          // OUTPUT_GRID_NAME cells. gridToPoly returns Σ v·overlap /
          // inCellArea; AVERAGE rescales to the OUTPUT cell area.
          val g = grid()
          val cells = Sources.regularGrid(spark, g)
            .withColumnRenamed("cell_id", "out_id")
          val avg = cfg.getOrElse("ALLOC_MODE_FILE", "ALL_AGGREGATE") match {
            case "ALL_AVERAGE"   => true
            case "ALL_AGGREGATE" => false
            case other => throw new IllegalArgumentException(
              s"ALLOC_MODE_FILE=$other (IoapiFile output supports " +
                "ALL_AVERAGE | ALL_AGGREGATE)")
          }
          val scale =
            if (avg) (hdr.grid.xcell * hdr.grid.ycell) / (g.xcell * g.ycell)
            else 1.0
          val out = Allocate.gridToPoly(gridded, hdr.grid, cells,
              "out_id", "value", Seq("var", "tstep"))
            .withColumn("value", col("alloc") * scale)
            .withColumn("col", graft.spark.GeoFunctions.cellIdCol(col("out_id"), g))
            .withColumn("row", graft.spark.GeoFunctions.cellIdRow(col("out_id"), g))
            .withColumn("layer", lit(1))
            .select("var", "tstep", "layer", "row", "col", "value")
          // preserve the input's TIME structure, not just the record
          // count — diffioapi's time-group check compares SDATE/STIME/
          // TSTEP and a regrid must not rewrite the run's clock
          cfg.get("OUTPUT_FILE_NAME").foreach(p =>
            writeNcf(out, hdrVars, p, numRecs = nrec,
              sdate = hdr.sdate, stime = hdr.stime, tstep = hdr.tstep))
          Some(out)
        } else {
          val out = Allocate.gridToPoly(gridded, hdr.grid, outputPolys(),
            "out_id", "value", Seq("var"))
          cfg.get("OUTPUT_FILE_NAME").foreach(p =>
            out.coalesce(1).write.mode("overwrite").parquet(p))
          Some(out)
        }

      case "ALLOCATE" =>
        val input = applyFilter(reprojected(
          readLayer(req("INPUT_FILE_NAME"), inputType), "INPUT_FILE", inputKind))
        val modeSpecs = req("ALLOCATE_ATTRS").split(",").map { kv =>
          kv.trim.split("=", -1) match {
            case Array(a, m) => (a, m)
            case _ => throw new IllegalArgumentException(
              s"ALLOCATE_ATTRS entry '${kv.trim}' is not attr=Mode")
          }
        }.toSeq
        val toIoapi = cfg.get("OUTPUT_FILE_TYPE").contains("IoapiFile")
        // NC_DOUBLE (M3DBLE) keeps allocated doubles bit-exact in the file
        def dblVars(names: Seq[String]) = names.map(v =>
          graft.sources.Ioapi.VarDef(v, vtype = graft.sources.NetCDF.NC_DOUBLE))

        if (modeSpecs.exists(_._2 == "AreaPercent")) {
          // OCEANfile mode (alloc_mode ALL_AREAPERCENT, allocateIoapi.c:
          // 500-530; SA_ch03_vector.md:887): fraction of each grid cell
          // covered by each category of one input attribute — one I/O API
          // variable per category value; IoapiFile is the only output
          // format the reference supports for this mode
          require(modeSpecs.size == 1,
            "AreaPercent runs alone (ALL_AREAPERCENT replaces the attr list)")
          require(toIoapi,
            "AreaPercent output supports only OUTPUT_FILE_TYPE=IoapiFile " +
              "(SA_ch03_vector.md:887)")
          val attr = modeSpecs.head._1
          val pct = Allocate.areaPercent(input, attr, grid())
          cfg.get("OUTPUT_FILE_NAME").foreach { p =>
            val cats = pct.select("category").distinct().collect()
              .map(_.get(0).toString).sorted.toSeq
            val long = pct
              .withColumn("var", col("category").cast("string"))
              .withColumn("tstep", lit(0)).withColumn("layer", lit(1))
              .select("var", "tstep", "layer", "row", "col", "pct")
              .withColumnRenamed("pct", "value")
            writeNcf(long, dblVars(cats), p)
          }
          Some(pct)
        } else {
          val modes = modeSpecs.map { case (a, m) =>
            a -> (m match {
              case "Aggregate" => Allocate.Aggregate
              case "Average" => Allocate.Average
              case "DiscreteOverlap" => Allocate.DiscreteOverlap
              case "DiscreteCentroid" => Allocate.DiscreteCentroid
              case other => throw new IllegalArgumentException(
                s"ALLOCATE_ATTRS mode '$other' for $a: expected Aggregate, " +
                  "Average, DiscreteOverlap, DiscreteCentroid or AreaPercent")
            })
          }
          if (toIoapi) {
            // allocateIoapi.c:545-548: the output "polygons" ARE the
            // OUTPUT_GRID_NAME cells (nObjects must equal nrows*ncols);
            // every attribute lands as one M3 variable
            require(modes.forall(m => m._2 == Allocate.Aggregate ||
                                      m._2 == Allocate.Average),
              "IoapiFile output holds numeric M3 variables: use " +
                "Aggregate/Average modes (allocateIoapi.c vtype M3REAL)")
            val g = grid()
            val cells = Sources.regularGrid(spark, g)
              .withColumnRenamed("cell_id", "out_id")
            val out = Allocate.allocate(input, cells, modes, domain, zres)
            cfg.get("OUTPUT_FILE_NAME").foreach { p =>
              val attrs = modes.map(_._1)
              val stackArgs = attrs
                .map(a => s"'$a', CAST(`$a` AS DOUBLE)").mkString(", ")
              val long = out.selectExpr("out_id",
                  s"stack(${attrs.length}, $stackArgs) AS (var, value)")
                .withColumn("col", graft.spark.GeoFunctions.cellIdCol(col("out_id"), g))
                .withColumn("row", graft.spark.GeoFunctions.cellIdRow(col("out_id"), g))
                .withColumn("tstep", lit(0)).withColumn("layer", lit(1))
                .where(col("value").isNotNull)
                .select("var", "tstep", "layer", "row", "col", "value")
              writeNcf(long, dblVars(attrs), p)
            }
            Some(out)
          } else {
            val out = Allocate.allocate(input, outputPolys(), modes, domain, zres)
            cfg.get("OUTPUT_FILE_NAME").foreach(p =>
              out.coalesce(1).write.mode("overwrite").parquet(p))
            Some(out)
          }
        }

      case "OVERLAY" =>
        val input = reprojected(
          readLayer(req("INPUT_FILE_NAME"), inputType), "INPUT_FILE", inputKind)
        // OVERLAY_TYPE dispatch (SA_ch03_vector.md:342-351): the mask is a
        // bbox literal, a named grid's outline, an ASCII polygon file, a
        // polygon layer — reprojected via OVERLAY_MAP_PRJN like any layer
        val shape = cfg.getOrElse("OVERLAY_SHAPE",
          throw new IllegalArgumentException("OVERLAY_SHAPE not set"))
        val inferredType =
          if (shape.count(_ == ',') == 3) "BoundingBox" else "ShapeFile"
        val mask0 = cfg.getOrElse("OVERLAY_TYPE", inferredType) match {
          case "BoundingBox" => Sources.boundingBox(spark, shape)
          case "RegularGrid" =>
            // the named grid's outline rectangle (the overlay region is
            // the grid's extent)
            import spark.implicits._
            val g = gridByName(shape)
            val (x2, y2) = (g.xorig + g.ncols * g.xcell,
                            g.yorig + g.nrows * g.ycell)
            Seq(Seq(Seq(g.xorig, g.yorig, x2, g.yorig, x2, y2, g.xorig, y2)))
              .toDF("geom")
          case "PolygonFile" =>
            Sources.polygonFile(spark, new String(java.nio.file.Files
              .readAllBytes(java.nio.file.Paths.get(shape)), "UTF-8"))
          case _ => readLayer(shape, "Polygon")
        }
        val mask = reprojected(mask0, "OVERLAY", WeightKind.PolyW)
        val out = inputKind match {
          case WeightKind.PointW =>
            SpatialJoin.overlayPoints(input, mask, domain, zres)
          case WeightKind.LineW => SpatialJoin.overlayLines(input, mask)
          case WeightKind.PolyW => SpatialJoin.overlayPolys(input, mask)
        }
        // OVERLAY_OUT_CELLID (overlay.c:155-190): append grid COL/ROW
        val withCell =
          if (cfg.getOrElse("OVERLAY_OUT_CELLID", "NO") == "YES") {
            import graft.spark.GeoFunctions._
            val g = grid()
            out.withColumn("COL", gridCol(col("x"), g))
              .withColumn("ROW", gridRow(col("y"), g))
          } else out
        val selected = cfg.get("OVERLAY_ATTRS").filter(_ != "ALL")
          .map(a => withCell.select(a.split(",").map(_.trim).map(col): _*))
          .getOrElse(withCell)
        // DelimitedFile sink: OVERLAY_OUT_NAME + OVERLAY_OUT_DELIM
        // (COMMA | PIPE | SPACE | SEMICOLON), header per WRITE_HEADER
        val sinkPath = cfg.get("OVERLAY_OUT_NAME").filter(_ != "Stdout")
          .orElse(cfg.get("OUTPUT_FILE_NAME"))
        sinkPath.foreach { p =>
          val delim = cfg.getOrElse("OVERLAY_OUT_DELIM", "COMMA") match {
            case "COMMA" => "," ; case "PIPE" => "|"
            case "SPACE" => " " ; case "SEMICOLON" => ";"
            case other => throw new IllegalArgumentException(
              s"OVERLAY_OUT_DELIM=$other (COMMA|PIPE|SPACE|SEMICOLON)")
          }
          val hdr = !Seq("NO", "N")
            .contains(cfg.getOrElse("WRITE_HEADER", "YES"))
          selected.coalesce(1).write.mode("overwrite")
            .option("header", hdr.toString).option("sep", delim).csv(p)
        }
        Some(selected)

      case "FILTER_SHAPE" =>
        val out = applyFilter(readLayer(req("INPUT_FILE_NAME"), inputType))
        cfg.get("OUTPUT_FILE_NAME").foreach(p =>
          out.write.mode("overwrite").parquet(p))
        Some(out)

      case "CONVERT_SHAPE" =>
        val out = Reproject.layer(inputKind,
          readLayer(req("INPUT_FILE_NAME"), inputType),
          crs("INPUT_FILE").getOrElse(Proj.LatLon),
          crs("OUTPUT_FILE").getOrElse(Proj.LatLon), maxSeg)
        cfg.get("OUTPUT_FILE_NAME").foreach(p =>
          out.write.mode("overwrite").parquet(p))
        Some(out)

      case other =>
        throw new IllegalArgumentException(s"unknown MIMS_PROCESSING=$other")
    }
    result
  }
}
