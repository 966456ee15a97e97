package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.grid.GridSpec
import graft.sources.NetCDF._

/** EPA Models-3 I/O API files over the NetCDF-3 classic codec — the
  * reference's gridded-data front door (IoapiInputReader.c:1-387 reads the
  * header+grid, allocateIoapi.c:151-989 writes allocation output,
  * util/srg2ncf/convert_txt2ncf.f converts surrogate text to it). The
  * I/O API netCDF convention (dimensions TSTEP/DATE-TIME/LAY/VAR/ROW/COL,
  * the TFLAG variable, and the FDESC3 global attributes) is a published
  * EPA/CMAS spec; this implements it directly, no ioapi C code involved.
  *
  * DataFrame convention: gridded data is (var STRING, tstep INT, layer INT,
  * row INT, col INT, value DOUBLE) — the same shape Allocate.gridToPoly
  * consumes. `tstep` is the 0-based record index; `layer`, `row`, `col`
  * are 1-based like the reference.
  *
  * Scale contract: an I/O API file is a single-node gridded layer (the
  * reference memory-maps it whole); the parse runs on the driver under
  * NetCDF.MaxBytes and the values become a distributed DataFrame. The
  * 100 TB fact side stays parquet and hash-joins on (col, row) — see
  * Allocate.gridToPoly.
  */
object Ioapi {

  val BADVAL: Float = -9.999e36f // I/O API BADVAL3

  final case class VarDef(name: String, units: String = "none",
                          desc: String = "", vtype: Int = NC_FLOAT)

  /** FDESC3 header (fdesc3.h / the I/O API FDESC documentation): the
    * fields diffioapi.c:93-147 compares, plus the variable list. */
  final case class Header(
      gdnam: String,
      ftype: Int,                       // 1 = GRDDED3
      sdate: Int, stime: Int, tstep: Int, // YYYYDDD, HHMMSS, HHMMSS step
      gdtyp: Int,                       // GRIDDESC ctype
      pAlp: Double, pBet: Double, pGam: Double,
      xcent: Double, ycent: Double,
      xorig: Double, yorig: Double, xcell: Double, ycell: Double,
      ncols: Int, nrows: Int, nlays: Int, nthik: Int,
      vgtyp: Int, vgtop: Float, vglvls: Seq[Float],
      vars: Seq[VarDef]) {
    def grid: GridSpec = GridSpec(gdnam, xorig, yorig, xcell, ycell, ncols, nrows)
  }

  /** The header of a gridded file on `grid`, whose map projection is
    * `coord` (GDTYP = its ctype, P_ALP..YCENT = its parameters). */
  def headerFor(grid: GridSpec, vars: Seq[VarDef], coord: GridDesc.CoordSys,
                sdate: Int = 2007001, stime: Int = 0, tstep: Int = 10000,
                nlays: Int = 1): Header =
    Header(grid.name, ftype = 1, sdate, stime, tstep, coord.ctype,
      coord.alpha, coord.beta, coord.gamma, coord.xcent, coord.ycent,
      grid.xorig, grid.yorig, grid.xcell, grid.ycell,
      grid.ncols, grid.nrows, nlays, nthik = 1,
      vgtyp = -9999, vgtop = BADVAL,
      vglvls = (0 to nlays).map(_.toFloat), vars)

  private def padTo(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)

  /** I/O API nextime: advance (YYYYDDD, HHMMSS) by an HHMMSS step. */
  def nextTime(jdate: Int, jtime: Int, step: Int): (Int, Int) = {
    // The negative-step branch of the I/O API nextime contract (circular
    // buffer files) is out of scope; fail loud rather than emit a
    // malformed negative HHMMSS into TFLAG.
    require(step >= 0, s"nextTime: negative TSTEP $step not supported")
    def secs(t: Int) = t / 10000 * 3600 + t / 100 % 100 * 60 + t % 100
    def hhmmss(s: Int) = s / 3600 * 10000 + s % 3600 / 60 * 100 + s % 60
    def daysInYear(y: Int) =
      if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 366 else 365
    var total = secs(jtime) + secs(step)
    var year = jdate / 1000
    var day = jdate % 1000
    while (total >= 86400) {
      total -= 86400; day += 1
      if (day > daysInYear(year)) { day = 1; year += 1 }
    }
    (year * 1000 + day, hhmmss(total))
  }

  // ----------------------------------------------------------------- write

  /** Write a gridded DataFrame as an I/O API GRDDED3 file. Cells absent
    * from `df` are 0 (convert_txt2ncf.f initializes VAL_IN = 0). The
    * record count is max(tstep)+1 unless `numRecs` pins it. */
  def write(df: DataFrame, header: Header, path: String,
            numRecs: Int = -1): Unit = {
    val h = header
    // VAR-LIST packs names into 16-byte fields (NAMLEN3); a longer name
    // would silently truncate and corrupt the list on read-back
    h.vars.foreach(v => require(v.name.length <= 16,
      s"$path: variable name '${v.name}' exceeds I/O API NAMLEN3 (16 chars)"))
    val cells = h.ncols.toLong * h.nrows * h.nlays
    val haveLayer = df.columns.contains("layer")
    val proj = df.select(col("var"), col("tstep").cast("int"),
        (if (haveLayer) col("layer") else lit(1)).cast("int").as("layer"),
        col("row").cast("int"), col("col").cast("int"),
        col("value").cast("double"))
    // Guard BEFORE materializing (Shapefile.guardedCollect discipline): a
    // mistakenly-huge frame must fail the envelope contract without ever
    // reaching the driver. nrec comes from a tiny max-aggregate — one
    // narrow job, no collect.
    val nrec =
      if (numRecs >= 0) numRecs
      else {
        val m = proj.agg(max(col("tstep"))).head()
        if (m.isNullAt(0)) 0 else m.getInt(0) + 1
      }
    require(nrec >= 1, s"$path: no records to write")
    val bytesNeeded = h.vars.map(v => cells * nrec * (if (v.vtype == NC_DOUBLE) 8 else 4)).sum
    require(bytesNeeded <= NetCDF.MaxBytes,
      s"$path: $bytesNeeded data bytes exceed the single-node I/O API envelope")
    // A frame inside the envelope has ≤ cells·nrec·nvars slots; duplicates
    // accumulate (below) so allow 4× headroom, but a fact table that blows
    // past it fails fast at the limit instead of OOMing the driver.
    val maxRows = math.min(cells * nrec * h.vars.length * 4L,
      Int.MaxValue.toLong - 1).toInt
    val rows = proj.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$path: > $maxRows rows for ${h.vars.length} vars × $cells cells × " +
        s"$nrec records — gridded I/O API output is a dimension layer; " +
        "use parquet for fact tables")
    val varIdx = h.vars.map(_.name).zipWithIndex.toMap
    // NC_INT vars accumulate in DOUBLE and truncate once at the end: the
    // reference's REAL VAL_IN truncates at write, not per addend (0.6 +
    // 0.6 stores 1, not 0+0). Floats accumulate in float like the Fortran.
    val acc: Map[String, AnyRef] = h.vars.map { v =>
      v.name -> (if (v.vtype == NC_FLOAT) new Array[Float]((cells * nrec).toInt)
                 else new Array[Double]((cells * nrec).toInt))
    }.toMap
    // duplicate (var,tstep,layer,row,col) rows ACCUMULATE, matching the
    // reference's VAL_IN(I,J) = VAL_IN(I,J) + VAL (convert_txt2ncf.f) —
    // never last-write-wins in nondeterministic collect order. The sort
    // pins the fold order so the float sum is itself deterministic.
    val sorted = rows.sortBy(r => (r.getString(0), r.getInt(1), r.getInt(2),
      r.getInt(3), r.getInt(4), r.getDouble(5)))
    sorted.foreach { r =>
      val vn = r.getString(0)
      require(varIdx.contains(vn), s"$path: variable '$vn' not in header.vars")
      val t = r.getInt(1); val l = r.getInt(2); val rr = r.getInt(3); val cc = r.getInt(4)
      require(t >= 0 && t < nrec, s"$path: tstep $t out of [0,$nrec)")
      require(l >= 1 && l <= h.nlays && rr >= 1 && rr <= h.nrows && cc >= 1 && cc <= h.ncols,
        s"$path: (layer=$l,row=$rr,col=$cc) outside ${h.nlays}×${h.nrows}×${h.ncols}")
      val i = ((t.toLong * h.nlays + (l - 1)) * h.nrows + (rr - 1)).toInt * h.ncols + (cc - 1)
      acc(vn) match {
        case a: Array[Float]  => a(i) += r.getDouble(5).toFloat
        case a: Array[Double] => a(i) += r.getDouble(5)
      }
    }
    val arrays: Map[String, AnyRef] = h.vars.map { v =>
      v.name -> (if (v.vtype == NC_INT)
                   acc(v.name).asInstanceOf[Array[Double]].map(_.toInt)
                 else acc(v.name))
    }.toMap
    // TFLAG(TSTEP, VAR, DATE-TIME)
    val tflag = new Array[Int](nrec * h.vars.length * 2)
    var jd = h.sdate; var jt = h.stime
    var r = 0
    while (r < nrec) {
      var v = 0
      while (v < h.vars.length) {
        tflag((r * h.vars.length + v) * 2) = jd
        tflag((r * h.vars.length + v) * 2 + 1) = jt
        v += 1
      }
      val n = nextTime(jd, jt, h.tstep); jd = n._1; jt = n._2
      r += 1
    }

    val dims = Seq(Dim("TSTEP", 0), Dim("DATE-TIME", 2), Dim("LAY", h.nlays),
      Dim("VAR", h.vars.length), Dim("ROW", h.nrows), Dim("COL", h.ncols))
    val now = 2026227 // fixed CDATE/WDATE (determinism: no wall clock in data paths)
    val gatts = Seq(
      Att("IOAPI_VERSION", padTo("graft-ioapi 1.0", 80)),
      Att("EXEC_ID", padTo("graft", 80)),
      Att("FTYPE", Array(h.ftype)),
      Att("CDATE", Array(now)), Att("CTIME", Array(0)),
      Att("WDATE", Array(now)), Att("WTIME", Array(0)),
      Att("SDATE", Array(h.sdate)), Att("STIME", Array(h.stime)),
      Att("TSTEP", Array(h.tstep)),
      Att("NTHIK", Array(h.nthik)),
      Att("NCOLS", Array(h.ncols)), Att("NROWS", Array(h.nrows)),
      Att("NLAYS", Array(h.nlays)), Att("NVARS", Array(h.vars.length)),
      Att("GDTYP", Array(h.gdtyp)),
      Att("P_ALP", Array(h.pAlp)), Att("P_BET", Array(h.pBet)),
      Att("P_GAM", Array(h.pGam)),
      Att("XCENT", Array(h.xcent)), Att("YCENT", Array(h.ycent)),
      Att("XORIG", Array(h.xorig)), Att("YORIG", Array(h.yorig)),
      Att("XCELL", Array(h.xcell)), Att("YCELL", Array(h.ycell)),
      Att("VGTYP", Array(h.vgtyp)), Att("VGTOP", Array(h.vgtop)),
      Att("VGLVLS", h.vglvls.toArray),
      Att("GDNAM", padTo(h.gdnam, 16)), Att("UPNAM", padTo("GRAFT", 16)),
      Att("VAR-LIST", h.vars.map(v => padTo(v.name, 16)).mkString),
      Att("FILEDESC", padTo("Generated by the graft Spark engine", 80)),
      Att("HISTORY", " "))
    val tflagVar = Var("TFLAG", NC_INT, Seq(0, 3, 1), Seq(
      Att("units", padTo("<YYYYDDD,HHMMSS>", 16)),
      Att("long_name", padTo("TFLAG", 16)),
      Att("var_desc", padTo("Timestep-valid flags: (1) YYYYDDD or (2) HHMMSS", 80))))
    val dataVars = h.vars.map { v =>
      Var(v.name, v.vtype, Seq(0, 2, 4, 5), Seq(
        Att("long_name", padTo(v.name, 16)),
        Att("units", padTo(v.units, 16)),
        Att("var_desc", padTo(if (v.desc.nonEmpty) v.desc else v.name, 80))))
    }
    NetCDF.write(path, NcFile(dims, gatts,
      tflagVar +: dataVars,
      (Map[String, AnyRef]("TFLAG" -> tflag) ++ arrays)))
  }

  // ------------------------------------------------------------------ read

  /** FDESC3 header of an already-parsed file — public so callers that
    * need header-then-maybe-data (tile pruning) parse the bytes ONCE. */
  def headerOf(f: NcFile): Header = {
    def ints(n: String): Array[Int] = f.att(n).getOrElse(
      throw new IllegalArgumentException(s"not an I/O API file: missing $n"))
      .asInstanceOf[Array[Int]]
    def dbls(n: String): Array[Double] = f.att(n).get.asInstanceOf[Array[Double]]
    def flts(n: String): Array[Float] = f.att(n).get.asInstanceOf[Array[Float]]
    def str(n: String): String = f.att(n).get.asInstanceOf[String].trim
    val nvars = ints("NVARS")(0)
    val varList = f.att("VAR-LIST").get.asInstanceOf[String]
    val names = (0 until nvars).map(i => varList.slice(i * 16, i * 16 + 16).trim)
    val vars = names.map { n =>
      val v = f.vars.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"VAR-LIST names '$n' but no such variable"))
      val units = v.atts.find(_.name == "units").map(_.value.asInstanceOf[String].trim).getOrElse("")
      val desc = v.atts.find(_.name == "var_desc").map(_.value.asInstanceOf[String].trim).getOrElse("")
      VarDef(n, units, desc, v.ncType)
    }
    Header(str("GDNAM"), ints("FTYPE")(0),
      ints("SDATE")(0), ints("STIME")(0), ints("TSTEP")(0),
      ints("GDTYP")(0), dbls("P_ALP")(0), dbls("P_BET")(0), dbls("P_GAM")(0),
      dbls("XCENT")(0), dbls("YCENT")(0),
      dbls("XORIG")(0), dbls("YORIG")(0), dbls("XCELL")(0), dbls("YCELL")(0),
      ints("NCOLS")(0), ints("NROWS")(0), ints("NLAYS")(0), ints("NTHIK")(0),
      ints("VGTYP")(0), flts("VGTOP")(0), flts("VGLVLS").toSeq, vars)
  }

  /** Read an I/O API file into (header, gridded DataFrame). `dropZeros`
    * keeps the frame sparse (the join side only needs non-zero cells). */
  def read(spark: SparkSession, path: String,
           dropZeros: Boolean = false): (Header, DataFrame) = {
    val (h, _, df) = readWithRecs(spark, path, dropZeros)
    (h, df)
  }

  /** Like read, also returning the file's record count — a sparse
    * (dropZeros) frame can't recover it when trailing records are all
    * zero, so writers that must preserve the time structure need it. */
  def readWithRecs(spark: SparkSession, path: String,
                   dropZeros: Boolean = false): (Header, Int, DataFrame) =
    readParsed(spark, NetCDF.read(path), dropZeros)

  /** Build the gridded frame from an already-parsed file (no re-read). */
  def readParsed(spark: SparkSession, f: NcFile,
                 dropZeros: Boolean = false): (Header, Int, DataFrame) = {
    val h = headerOf(f)
    val nrec = f.numRecs
    val schema = StructType(Seq(
      StructField("var", StringType, false), StructField("tstep", IntegerType, false),
      StructField("layer", IntegerType, false), StructField("row", IntegerType, false),
      StructField("col", IntegerType, false), StructField("value", DoubleType, false)))
    val rows = scala.collection.mutable.ArrayBuffer[Row]()
    h.vars.foreach { v =>
      val data = f.data(v.name)
      var t = 0
      while (t < nrec) {
        var l = 0
        while (l < h.nlays) {
          var r = 0
          while (r < h.nrows) {
            var c = 0
            while (c < h.ncols) {
              val i = ((t.toLong * h.nlays + l) * h.nrows + r).toInt * h.ncols + c
              val value = data match {
                case a: Array[Float]  => a(i).toDouble
                case a: Array[Double] => a(i)
                case a: Array[Int]    => a(i).toDouble
              }
              if (!dropZeros || value != 0.0)
                rows += Row(v.name, t, l + 1, r + 1, c + 1, value)
              c += 1
            }
            r += 1
          }
          l += 1
        }
        t += 1
      }
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq,
        math.max(1, math.min(rows.length / 10000 + 1,
          spark.sparkContext.defaultParallelism))), schema)
    (h, nrec, df)
  }

  // -------------------------------------------------------------- srg2ncf

  /** srg2ncf (util/srg2ncf/convert_txt2ncf.f): surrogate rows → a one-
    * variable FRACTION gridded file; VAL_IN(col,row) accumulates frac over
    * counties (the Fortran's `VAL_IN(I,J) = VAL_IN(I,J) + VAL`). */
  def srg2ncf(srg: DataFrame, grid: GridSpec, path: String,
              coord: GridDesc.CoordSys, vtype: Int = NC_FLOAT): Unit = {
    val gridded = srg.groupBy("col", "row")
      .agg(sum("frac").as("value"))
      .withColumn("var", lit("FRACTION"))
      .withColumn("tstep", lit(0))
      .withColumn("layer", lit(1))
    // vtype NC_FLOAT matches the Fortran's M3REAL; NC_DOUBLE (M3DBLE) keeps
    // the fractions bit-exact through the file
    val h = headerFor(grid,
      Seq(VarDef("FRACTION", "fraction", "Surrogate fraction", vtype)), coord)
    write(gridded, h, path, numRecs = 1)
  }

  // ------------------------------------------------------------ diffioapi

  /** Header compare (diffioapi.c:93-147): same grouped checks, same
    * messages; empty result = headers match. `mxrec` is passed separately
    * (the C gets it from desc3c). */
  def headerDiff(a: Header, b: Header, mxrecA: Int, mxrecB: Int): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    if (a.ftype != b.ftype)
      out += "File types do not match between original and new files"
    else if (a.pAlp != b.pAlp || a.pBet != b.pBet || a.pGam != b.pGam ||
             a.xcent != b.xcent || a.ycent != b.ycent)
      out += "Map projections do not match between original and new files"
    else if (a.xorig != b.xorig || a.yorig != b.yorig || a.xcell != b.xcell ||
             a.ycell != b.ycell || a.ncols != b.ncols || a.nrows != b.nrows)
      out += "Grid descriptions do not match between original and new files"
    else if (a.nlays != b.nlays || a.vgtyp != b.vgtyp || a.vgtop != b.vgtop)
      out += "Layer structures do not match between original and new files"
    else if (a.sdate != b.sdate || a.stime != b.stime || a.tstep != b.tstep ||
             mxrecA != mxrecB)
      out += "Start times, time steps, or durations do not match between original and new files"
    else if (a.vars.length != b.vars.length)
      out += "Original and new files have different number of variables"
    else if (a.vars.map(_.name) != b.vars.map(_.name))
      out += "Variable names do not match between original and new files"
    out.toSeq
  }

  /** Per-cell percent diff (diffioapi.c:244-276): flag cells where
    * |100·(new−orig)/orig| > tolerance and orig ≠ 0 — a cell with orig = 0
    * is never flagged, exactly like the C ("NOTE: what if origVal is
    * zero?"). Inputs are dense gridded frames; a side missing a cell
    * contributes 0 (the dense array's fill value). */
  def diffCells(orig: DataFrame, newer: DataFrame,
                tolerance: Double = 0.01, ordered: Boolean = true): DataFrame = {
    val keys = Seq("var", "tstep", "layer", "row", "col")
    val a = orig.select((keys.map(col) :+ col("value").as("orig_val")): _*)
    val b = newer.select((keys.map(col) :+ col("value").as("new_val")): _*)
    val joined = a.join(b, keys, "full_outer")
      .withColumn("orig_val", coalesce(col("orig_val"), lit(0.0)))
      .withColumn("new_val", coalesce(col("new_val"), lit(0.0)))
      .withColumn("pctdiff",
        lit(100.0) * (col("new_val") - col("orig_val")) / col("orig_val"))
      .where(col("orig_val") =!= 0.0 && abs(col("pctdiff")) > tolerance)
    if (ordered) joined.orderBy("var", "tstep", "layer", "row", "col")
    else joined
  }
}
