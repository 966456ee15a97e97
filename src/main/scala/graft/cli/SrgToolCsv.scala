package graft.cli

import java.nio.file.{Files, Paths, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.CellDomain
import graft.grid.{Ellipsoid, GridSpec, Proj}
import graft.functions.{MergeEquation, WeightExpr}
import graft.operators.{Filters, Reproject, WeightKind}
import graft.sources.{GridDesc, Shapefile}

/** The SurrogateTool's CSV control-file contract (SurrogateTool.java:33;
  * docs SA_ch05_surrogate.md:94-138) in front of SrgTool: a control
  * variables CSV names the shapefile catalog, the surrogate specification,
  * the surrogate codes, the generation list and GRIDDESC; this parser maps
  * spec rows to SrgSpec / MergeSpec / GapfillSpec (merge equations via
  * MergeEquation, FILTER FUNCTION via Filters.parseFilterFunction, WEIGHT
  * FUNCTION via WeightExpr) and runs the whole catalog through SrgTool.run,
  * producing per-code SMOKE files and the SRGDESC index.
  *
  * Layer resolution: a catalog entry `name,dir,…` reads `dir/name.shp`
  * through the binary Shapefile reader when present, else
  * `dir/name.parquet`. A layer's kind derives from its schema
  * (`WeightKind.of`: line ⇒ Line, else geom ⇒ Polygon, else Point),
  * mirroring the reference's shape-type dispatch; it picks both the
  * layer's reprojection and its surrogate. External `file|name` refs are
  * unsupported. */
object SrgToolCsv {

  /** spark-submit parity with `java gov.epa.surrogate.SurrogateTool
    * control_variables.csv` (SA_ch05_surrogate.md:650-656). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: SrgToolCsv <control_variables.csv>")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("srgtool-csv").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, args(0))
      println(s"[srgtool] generated ${r.srg.size} surrogates: " +
        r.srgdesc.map { case (c, n, _) => s"$c=$n" }.mkString(", "))
    } finally spark.stop()
  }

  // ------------------------------------------------------------ CSV reader

  /** RFC-4180-ish line splitter (quoted fields may contain commas). */
  def splitCsv(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else inQ = false
        } else sb += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.result(); sb.clear()
        case _   => sb += c
      }
      i += 1
    }
    out += sb.result()
    out.toSeq.map(_.trim)
  }

  private def readCsv(path: Path): Seq[Seq[String]] =
    scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(path))
      .asScala.toSeq.filter(_.trim.nonEmpty).map(splitCsv)

  /** Header-keyed rows (header matching is case-insensitive, like the Java
    * tool's column lookup). */
  private def readCsvRows(path: Path): Seq[Map[String, String]] = {
    val all = readCsv(path)
    val header = all.head.map(_.toUpperCase)
    all.tail.map(r => header.zipAll(r, "", "").toMap)
  }

  // --------------------------------------------------------- file contracts

  /** control_variables.csv: VARIABLE,VALUE[,DESCRIPTION] → map. */
  def readControl(path: Path): Map[String, String] =
    readCsv(path).tail.collect { case row if row.nonEmpty =>
      row.head.toUpperCase -> row.lift(1).getOrElse("")
    }.toMap

  /** shapefile_catalog.csv: SHAPEFILE NAME,DIRECTORY,ELLIPSOID,PROJECTION,… */
  final case class CatalogEntry(name: String, dir: String, projection: String,
                                ellipsoid: String = "")
  def readCatalog(path: Path): Map[String, CatalogEntry] =
    readCsvRows(path).map { r =>
      val e = CatalogEntry(r("SHAPEFILE NAME"), r("DIRECTORY"),
        r.getOrElse("PROJECTION", ""), r.getOrElse("ELLIPSOID", ""))
      e.name -> e
    }.toMap

  /** surrogate_codes.csv: `#SRGDESC=code,name` lines → name → code. */
  def readCodes(path: Path): Map[String, Int] =
    scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(path))
      .asScala.toSeq
      .filter(_.startsWith("#SRGDESC="))
      .map { l =>
        val p = splitCsv(l.stripPrefix("#SRGDESC="))
        p(1) -> p(0).toInt
      }.toMap

  /** surrogate_generation.csv rows: (region, name, code, generate, qa). */
  final case class GenRow(region: String, name: String, code: Int,
                          generate: Boolean, qa: Boolean)
  def readGeneration(path: Path): Seq[GenRow] =
    readCsvRows(path).map { r =>
      GenRow(r("REGION"), r("SURROGATE"), r("SURROGATE CODE").toInt,
        r("GENERATE").equalsIgnoreCase("YES"),
        r.getOrElse("QUALITY ASSURANCE", "YES").equalsIgnoreCase("YES"))
    }

  /** One surrogate_specification.csv row. */
  final case class SpecRow(region: String, name: String, code: Int,
                           dataShapefile: String, dataAttr: String,
                           weightShapefile: String, weightAttr: String,
                           weightFunction: String, filterFunction: String,
                           mergeFunction: String, gapfill: Seq[String])
  def readSpec(path: Path): Seq[SpecRow] =
    readCsvRows(path).map { r =>
      SpecRow(r("REGION"), r("SURROGATE"), r("SURROGATE CODE").toInt,
        r.getOrElse("DATA SHAPEFILE", ""), r.getOrElse("DATA ATTRIBUTE", ""),
        r.getOrElse("WEIGHT SHAPEFILE", ""), r.getOrElse("WEIGHT ATTRIBUTE", ""),
        r.getOrElse("WEIGHT FUNCTION", ""), r.getOrElse("FILTER FUNCTION", ""),
        r.getOrElse("MERGE FUNCTION", ""),
        Seq("SECONDARY SURROGATE", "TERTIARY SURROGATE", "QUARTERNARY SURROGATE")
          .flatMap(k => r.get(k)).filter(_.nonEmpty))
    }

  // ---------------------------------------------------------------- runner

  /** Run a full catalog from its control_variables.csv. Relative file paths
    * resolve against the control file's directory. */
  def run(spark: SparkSession, controlCsv: String,
          domain: CellDomain = CellDomain(0, 0, 8192, 8192),
          res: Int = 4): SrgTool.Result = {
    val ctlPath = Paths.get(controlCsv).toAbsolutePath
    val baseDir = ctlPath.getParent
    def resolve(p: String): Path = {
      val path = Paths.get(p)
      if (path.isAbsolute) path else baseDir.resolve(p).normalize()
    }
    val ctl = readControl(ctlPath)
    def req(k: String): String = ctl.getOrElse(k,
      throw new IllegalArgumentException(s"control variable '$k' not set in $controlCsv"))

    val catalog = readCatalog(resolve(req("SHAPEFILE CATALOG")))
    val specs = readSpec(resolve(req("SURROGATE SPECIFICATION FILE")))
    val codes = readCodes(resolve(req("SURROGATE CODE FILE")))
    val gen = readGeneration(resolve(req("GENERATION CONTROL FILE")))

    val gridName = req("OUTPUT_GRID_NAME")
    val gdText = new String(Files.readAllBytes(resolve(req("GRIDDESC"))), "UTF-8")
    val gdEntry = GridDesc.parse(gdText).grids(gridName)
    val grid: GridSpec = gdEntry.grid
    // OUTPUT_FILE_ELLIPSOID (SA_ch05_surrogate.md control variables) is
    // the grid's ellipsoid; default is the I/O API sphere
    val gridProj = Proj.fromGriddesc(gdEntry.coord,
      ctl.get("OUTPUT_FILE_ELLIPSOID").fold(Ellipsoid.Sphere)(Ellipsoid.parse))
    val maxSeg = ctl.get("MAX_LINE_SEG").map(_.toDouble).getOrElse(0.0)

    def layer(name: String): DataFrame = {
      val e = catalog.getOrElse(name,
        throw new IllegalArgumentException(s"shapefile '$name' not in catalog"))
      val dir = resolve(e.dir)
      val shp = dir.resolve(name + ".shp")
      val raw =
        if (Files.exists(shp)) Shapefile.read(spark, dir.resolve(name).toString)
        else spark.read.parquet(dir.resolve(name + ".parquet").toString)
      // CONVERT_SHAPE into the grid CRS when the catalog declares the
      // layer's projection/ellipsoid (the reference reprojects every layer
      // before intersecting, mims_spatial.c:427-467); an empty PROJECTION
      // column means "already in grid coordinates" (the engine's native
      // contract, unchanged)
      if (e.projection.isEmpty) raw
      else {
        val spec = e.projection +
          (if (e.ellipsoid.nonEmpty) "," + e.ellipsoid else "")
        val from = Proj.parse(spec)
        if (from == gridProj) raw
        else Reproject.layer(WeightKind.of(raw), raw, from, gridProj, maxSeg)
      }
    }

    def codeOf(ref: MergeEquation.Ref): Int =
      codes.getOrElse(ref.name,
        specs.find(_.name == ref.name).map(_.code).getOrElse(
          throw new IllegalArgumentException(s"surrogate '${ref.name}' has no code")))

    val toRun = gen.filter(_.generate).map { g =>
      specs.find(s => s.region == g.region && s.code == g.code).getOrElse(
        throw new IllegalArgumentException(
          s"generation row (${g.region}, ${g.code}) has no specification row"))
    }

    // one data (county) layer per run — the reference's per-row variation is
    // a multi-domain feature our single-domain engine scopes out
    val nonMerge = toRun.filter(_.mergeFunction.isEmpty)
    require(nonMerge.nonEmpty, "empty catalog: no GENERATE=YES row of the " +
      "generation control file names a surrogate to generate (merges need one)")
    val dataNames = nonMerge.map(_.dataShapefile).distinct
    require(dataNames.size == 1,
      s"all generated surrogates must share one DATA SHAPEFILE (got $dataNames)")
    // the DATA ATTRIBUTE comes from the same non-merge rows: a merge-
    // equation row legally leaves it empty, and renaming "" would silently
    // no-op and fail later with a confusing missing-fips error
    val dataAttrs = nonMerge.map(_.dataAttr).distinct
    require(dataAttrs.size == 1 && dataAttrs.head.nonEmpty,
      s"all generated surrogates must share one non-empty DATA ATTRIBUTE (got $dataAttrs)")
    val counties = layer(dataNames.head)
      .withColumnRenamed(dataAttrs.head, "fips")

    val srgSpecs = toRun.filter(_.mergeFunction.isEmpty).map { s =>
      var w = layer(s.weightShapefile)
      if (s.filterFunction.nonEmpty)
        w = Filters.filterSpec(w, Filters.parseFilterFunction(s.filterFunction))
      val weightAttr: Option[String] =
        if (s.weightFunction.nonEmpty) {
          w = w.withColumn("weight_function", WeightExpr.compile(s.weightFunction))
          Some("weight_function")
        } else Some(s.weightAttr).filter(a => a.nonEmpty && a != "NONE")
      SrgTool.SrgSpec(s.code, s.name, WeightKind.of(w), w, weightAttr)
    }

    val equations = toRun.filter(_.mergeFunction.nonEmpty)
      .map(s => s -> MergeEquation.parse(s.mergeFunction))
    val mergeSpecs = equations.collect {
      case (s, MergeEquation.Weighted(Seq((fa, ra), (fb, rb)))) =>
        SrgTool.MergeSpec(s.code, s.name, codeOf(ra), fa, codeOf(rb), fb)
      case (s, MergeEquation.Weighted(Seq((fa, ra)))) =>
        SrgTool.MergeSpec(s.code, s.name, codeOf(ra), fa, codeOf(ra), 0.0)
    }
    val concatSpecs = equations.collect {
      case (s, MergeEquation.Concat(refs)) =>
        SrgTool.ConcatSpec(s.code, s.name, refs.map(codeOf))
    }

    val gapfillSpecs = toRun.filter(_.gapfill.nonEmpty).map { s =>
      SrgTool.GapfillSpec(s.code, s.name,
        s.code +: s.gapfill.map(n => codeOf(MergeEquation.Ref(n, None))))
    }

    val outDir = ctl.get("OUTPUT DIRECTORY").map(p => resolve(p).toString)
    SrgTool.run(spark, counties, grid, domain, res,
      srgSpecs, mergeSpecs, gapfillSpecs,
      outDir = outDir, concats = concatSpecs,
      denomThreshold = ctl.get("DENOMINATOR_THRESHOLD").map(_.toDouble).getOrElse(1e-5),
      proj = graft.io.Smoke.projInfoFor(gdEntry.coord))
  }
}
