package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.grid.GridSpec
import graft.operators.Allocate
import graft.sources.{GridDesc, Ioapi, Sources}

/** beld3smk.exe / beld4smk.exe (beld3smk.c:40-629; SA_ch03_vector.md:
  * 684-710) as a standalone driver: allocate tiled BELD landuse netCDF
  * files onto a modeling grid, under the reference's env contract —
  *
  *   OUTPUT_GRID_NAME    modeling grid (must exist in GRIDDESC)
  *   GRIDDESC            grid description file
  *   INPUT_DATA_DIR      directory holding <prefix>_{a,b,tot}.tile<n>[.nzero].ncf
  *   OUTPUT_FILE_PREFIX  output prefix; writes <prefix>_{a,b,tot}.ncf
  *   TILE_PREFIX         input name prefix (default "b3"; beld4smk = "b4")
  *
  * The reference forks allocator.exe per (tile, file) with
  * ALLOC_MODE_FILE=ALL_AVERAGE, then merges tiles and QA-checks the 100%
  * landuse sum (beld3smk.c:250-300, 496-509). Here each tile is one
  * grid→grid area-weighted average (Allocate.gridToPoly over the closed-
  * form cell cover — the tile data hash-joins on (col, row), no geometry
  * kernel), tiles merge in one (var, cell) sum, and non-intersecting tiles
  * are pruned by a header-bbox check before any data is read into a frame
  * (the reference consults a tile-position shapefile; the tile's own
  * GRIDDESC header IS its position). TMP_DATA_DIR is unused — no
  * intermediate files exist. */
object Beld3Smk {

  final case class Result(outputs: Map[String, String], qa: DataFrame)

  private val Kinds = Seq("a", "b", "tot")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("beld3smk").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, sys.env)
      r.outputs.toSeq.sortBy(_._1).foreach { case (k, p) => println(s"wrote $k: $p") }
      r.qa.collect().foreach { c =>
        // beld3smk.c:502-508 warning shape
        println("WARNING: Land use percentages do not sum to 100 for cell (%d, %d): total = %f"
          .formatLocal(java.util.Locale.US,
            c.getAs[Int]("col"), c.getAs[Int]("row"), c.getAs[Double]("total")))
      }
    } finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Map[String, String]): Result = {
    def req(k: String): String = cfg.getOrElse(k,
      throw new IllegalArgumentException(s"required env $k not set"))
    val gdText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(req("GRIDDESC"))), "UTF-8")
    val entry = GridDesc.parse(gdText).grids(req("OUTPUT_GRID_NAME"))
    val outGrid = entry.grid
    val inDir = req("INPUT_DATA_DIR")
    val prefix = req("OUTPUT_FILE_PREFIX")
    val tilePrefix = cfg.getOrElse("TILE_PREFIX", "b3")

    def intersects(g: GridSpec): Boolean = {
      val ax1 = g.xorig; val ax2 = g.xorig + g.ncols * g.xcell
      val ay1 = g.yorig; val ay2 = g.yorig + g.nrows * g.ycell
      val bx1 = outGrid.xorig; val bx2 = outGrid.xorig + outGrid.ncols * outGrid.xcell
      val by1 = outGrid.yorig; val by2 = outGrid.yorig + outGrid.nrows * outGrid.ycell
      math.min(ax2, bx2) > math.max(ax1, bx1) &&
        math.min(ay2, by2) > math.max(ay1, by1)
    }

    val cells = Sources.regularGrid(spark, outGrid)
      .withColumnRenamed("cell_id", "out_id")
      .transform(graft.spark.PersistTracker.persist)
    val outCellArea = outGrid.xcell * outGrid.ycell

    val namePat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(tilePrefix) +
        "_(a|b|tot)\\.tile(\\d+)(\\.nzero)?\\.ncf")
    val dirFiles = Option(new java.io.File(inDir).listFiles())
      .getOrElse(Array.empty).map(_.getPath).sorted
    val files = dirFiles.flatMap { p =>
      val m = namePat.matcher(new java.io.File(p).getName)
      if (m.matches()) Some((m.group(1), m.group(2).toInt, p)) else None
    }
    require(files.nonEmpty,
      s"$inDir holds no ${tilePrefix}_{a,b,tot}.tile<n>[.nzero].ncf files")

    // per kind: regrid each intersecting tile (ALL_AVERAGE), merge by sum.
    // Each file's bytes parse ONCE (headerOf + readParsed share the parse);
    // non-intersecting tiles never build a frame at all. The merged result
    // is localCheckpoint'ed (the Knn/components discipline) because both
    // the .ncf write and the QA pass consume it.
    val merged: Map[String, MergedKind] =
      Kinds.flatMap { kind =>
        val perTile = files.collect { case (k, _, path) if k == kind =>
          val f = graft.sources.NetCDF.read(path)
          val hdr = Ioapi.headerOf(f)
          if (!intersects(hdr.grid)) None
          else {
            val (_, nrec, df) = Ioapi.readParsed(spark, f, dropZeros = true)
            val scale = (hdr.grid.xcell * hdr.grid.ycell) / outCellArea
            Some((hdr, nrec,
              Allocate.gridToPoly(df, hdr.grid, cells, "out_id", "value",
                  Seq("var", "tstep"))
                .withColumn("value", col("alloc") * scale)
                .select("out_id", "var", "tstep", "value")))
          }
        }.flatten
        if (perTile.isEmpty) None
        else {
          val varDefs = perTile.map(_._1.vars.map(v => (v.name, v.vtype)))
          require(varDefs.distinct.size == 1,
            s"${kind}-file tiles disagree on the variable list")
          // the merged time structure is the widest tile's (BELD3 tiles are
          // time-independent nrec=1, but BELD4/nonstandard tiles carry
          // TSTEP>1 — preserve the records instead of rejecting them); the
          // source header's timing carries through to the output so
          // multi-record files keep their real date-time axis
          val timings = perTile.map(h => (h._1.sdate, h._1.stime, h._1.tstep))
          require(timings.distinct.size == 1,
            s"${kind}-file tiles disagree on SDATE/STIME/TSTEP: ${timings.distinct.mkString(", ")}")
          val all = perTile.map(_._3).reduce(_ unionByName _)
            .groupBy("out_id", "var", "tstep").agg(sum("value").as("value"))
            .localCheckpoint(true)
          val h0 = perTile.head._1
          Some(kind -> MergedKind(h0.vars, perTile.map(_._2).max,
            h0.sdate, h0.stime, h0.tstep, all))
        }
      }.toMap

    def toLong(df: DataFrame): DataFrame = df
      .withColumn("col", graft.spark.GeoFunctions.cellIdCol(col("out_id"), outGrid))
      .withColumn("row", graft.spark.GeoFunctions.cellIdRow(col("out_id"), outGrid))
      .withColumn("layer", lit(1))
      .select("var", "tstep", "layer", "row", "col", "value")

    val outputs = merged.map { case (kind, m) =>
      val path = s"${prefix}_$kind.ncf"
      val h = Ioapi.headerFor(outGrid, m.vars, entry.coord,
        sdate = m.sdate, stime = m.stime, tstep = m.tstep)
      Ioapi.write(toLong(m.df), h, path, numRecs = m.nrec)
      kind -> path
    }

    // 100% landuse QA over the merged a+b variables via the shared
    // Beld.qa100 check, fed the FULL domain cell list so uncovered cells
    // flag at total = 0 (beld3smk.c:496-509). The check is PER RECORD —
    // a multi-record (BELD4-style) merge must total 100 at every tstep,
    // and a cell absent from some tstep fails at 0; the reported row is
    // the cell's most-deviant record.
    val qaTol = cfg.getOrElse("QA_TOLERANCE", "0.01").toDouble
    val qa = (merged.get("a"), merged.get("b")) match {
      case (Some(ma), Some(mb)) =>
        def toColRow(df: DataFrame) = df
          .withColumn("col", graft.spark.GeoFunctions.cellIdCol(col("out_id"), outGrid))
          .withColumn("row", graft.spark.GeoFunctions.cellIdRow(col("out_id"), outGrid))
        val nrecQa = math.max(ma.nrec, mb.nrec)
        val perRec = ma.df.unionByName(mb.df)
          .groupBy("out_id", "tstep").agg(sum("value").as("total"))
        val domain = cells.select("out_id")
          .crossJoin(broadcast(spark.range(nrecQa).toDF("tstep")))
        val failing = domain
          .join(perRec, Seq("out_id", "tstep"), "left_outer")
          .withColumn("total", coalesce(col("total"), lit(0.0)))
          .where(abs(col("total") - 100.0) > qaTol)
        val worstPerCell = failing
          .groupBy("out_id")
          .agg(max_by(col("total"), abs(col("total") - 100.0)).as("total"))
        toColRow(worstPerCell).select("col", "row", "total")
      case _ => spark.emptyDataFrame
    }
    Result(outputs, qa)
  }

  /** One merged output kind: consistent variable list and source-header
    * timing across tiles, widest record count, and the summed frame. */
  private final case class MergedKind(vars: Seq[Ioapi.VarDef], nrec: Int,
                                      sdate: Int, stime: Int, tstep: Int,
                                      df: DataFrame)
}
