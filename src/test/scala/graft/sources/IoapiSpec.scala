package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.grid.GridSpec
import graft.sources.Ioapi._

/** I/O API layer over the NetCDF codec: header round trip, TFLAG time
  * arithmetic, value exactness, srg2ncf accumulation, and the diffioapi
  * header/cell comparisons (diffioapi.c:93-276). */
class IoapiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("ioapi-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String =
    graft.Scratch.dir("ioapispec").resolve(name).toString

  private val grid = GridSpec("TSPEC", 100.0, -200.0, 50.0, 50.0, 4, 3)

  private def sampleGridded = {
    import spark.implicits._
    // 2 vars × 2 tsteps × 2 layers × 3 rows × 4 cols, integral values
    // (exact in float)
    val rows = for {
      v <- Seq("NO2", "O3"); t <- 0 to 1; l <- 1 to 2
      r <- 1 to 3; c <- 1 to 4
    } yield (v, t, l, r, c,
      (v.length * 100 + t * 37 + l * 11 + r * 5 + c).toDouble)
    rows.toDF("var", "tstep", "layer", "row", "col", "value")
  }

  test("nextime arithmetic: hour steps, day and year rollover, leap year") {
    assert(nextTime(2007001, 0, 10000) == ((2007001, 10000)))
    assert(nextTime(2007001, 230000, 10000) == ((2007002, 0)))
    assert(nextTime(2007365, 230000, 10000) == ((2008001, 0)))
    // 2008 is a leap year: day 366 exists
    assert(nextTime(2008365, 230000, 10000) == ((2008366, 0)))
    assert(nextTime(2008366, 230000, 10000) == ((2009001, 0)))
    // 90-minute step
    assert(nextTime(2007001, 13000, 13000) == ((2007001, 30000)))
    // negative TSTEP (circular-buffer convention) fails loud instead of
    // emitting a malformed negative HHMMSS into TFLAG
    val e = intercept[IllegalArgumentException] { nextTime(2007001, 0, -10000) }
    assert(e.getMessage.contains("negative TSTEP"))
  }

  test("write → read round trip: header, TFLAG, and exact values") {
    val p = tmp("sample.ncf")
    val h = headerFor(grid,
      Seq(VarDef("NO2", "ppmV", "nitrogen dioxide"), VarDef("O3", "ppmV", "ozone")),
      GridDesc.CoordSys("LAM", 2, 30, 60, -90, -90, 40), nlays = 2)
    Ioapi.write(sampleGridded, h, p)

    val (h2, df) = Ioapi.read(spark, p)
    assert(h2 == h)
    // all 2·2·2·3·4 = 96 cells come back with exact values
    val got = df.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
      r.getInt(3), r.getInt(4)) -> r.getDouble(5)).toMap
    val want = sampleGridded.collect().map(r => (r.getString(0), r.getInt(1),
      r.getInt(2), r.getInt(3), r.getInt(4)) -> r.getDouble(5)).toMap
    assert(got == want)

    // TFLAG advanced one hour between the two records for every variable
    val f = NetCDF.read(p)
    val tflag = f.data("TFLAG").asInstanceOf[Array[Int]]
    assert(tflag.toSeq == Seq(2007001, 0, 2007001, 0, 2007001, 10000, 2007001, 10000))
  }

  test("write guards the byte envelope BEFORE collecting to the driver") {
    import spark.implicits._
    // a grid whose cells alone blow the 1 GiB envelope: the contract must
    // fire off a tiny max(tstep) aggregate + arithmetic — were the old
    // collect-first order still in place, the 500M-row frame below would
    // OOM the driver before the require
    val huge = GridSpec("THUGE", 0, 0, 1, 1, 40000, 40000)
    val h = headerFor(huge, Seq(VarDef("V", "u", "v")), GridDesc.CoordSys.Default)
    val big = spark.range(500L * 1000 * 1000)
      .select(lit("V").as("var"), lit(0).as("tstep"), lit(1).as("layer"),
        lit(1).as("row"), (col("id") % 40000 + 1).cast("int").as("col"),
        lit(1.0).as("value"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      Ioapi.write(big, h, tmp("huge.ncf"))
    }
    assert(e.getMessage.contains("envelope"))
    // fail-fast: the guard must not have scanned the 500M rows
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
  }

  test("write guards the row count: a fact-table-sized frame fails at the limit") {
    import spark.implicits._
    // tiny grid (2×2, 1 var, nrec pinned to 1) → maxRows = 16; a frame
    // with far more rows than the grid has slots must fail the bounded
    // collect instead of materializing
    val g2 = GridSpec("T2", 0, 0, 1, 1, 2, 2)
    val h = headerFor(g2, Seq(VarDef("V", "u", "v")), GridDesc.CoordSys.Default)
    val many = spark.range(1000)
      .select(lit("V").as("var"), lit(0).as("tstep"), lit(1).as("layer"),
        lit(1).as("row"), lit(1).as("col"), lit(1.0).as("value"))
    val e = intercept[IllegalArgumentException] {
      Ioapi.write(many, h, tmp("many.ncf"), numRecs = 1)
    }
    assert(e.getMessage.contains("parquet for fact tables"))
  }

  test("dropZeros keeps the frame sparse") {
    import spark.implicits._
    val p = tmp("sparse.ncf")
    val h = headerFor(grid, Seq(VarDef("X")), GridDesc.CoordSys.Default)
    Ioapi.write(Seq(("X", 0, 1, 2, 3, 42.0))
      .toDF("var", "tstep", "layer", "row", "col", "value"), h, p)
    val (_, dense) = Ioapi.read(spark, p)
    val (_, sparse) = Ioapi.read(spark, p, dropZeros = true)
    assert(dense.count() == 12 && sparse.count() == 1)
    val r = sparse.collect().head
    assert((r.getInt(3), r.getInt(4), r.getDouble(5)) == ((2, 3, 42.0)))
  }

  test("write accumulates duplicate cell rows deterministically") {
    import spark.implicits._
    // three rows land on the same (var,tstep,layer,row,col): the file
    // must hold their sum (convert_txt2ncf.f's VAL_IN accumulation), not
    // whichever row happened to collect last
    val p = tmp("dup.ncf")
    val h = headerFor(grid, Seq(VarDef("X", vtype = NetCDF.NC_DOUBLE)), GridDesc.CoordSys.Default)
    val dup = Seq(
      ("X", 0, 1, 2, 3, 1.25), ("X", 0, 1, 2, 3, 2.5), ("X", 0, 1, 2, 3, 4.0),
      ("X", 0, 1, 1, 1, 7.0)
    ).toDF("var", "tstep", "layer", "row", "col", "value").repartition(4)
    Ioapi.write(dup, h, p)
    val (_, df) = Ioapi.read(spark, p, dropZeros = true)
    val m = df.collect().map(r => (r.getInt(4), r.getInt(3)) -> r.getDouble(5)).toMap
    assert(m == Map((3, 2) -> 7.75, (1, 1) -> 7.0))
  }

  test("NC_INT duplicates sum in double and truncate once, like REAL VAL_IN") {
    import spark.implicits._
    val p = tmp("dupint.ncf")
    val h = headerFor(grid, Seq(VarDef("N", vtype = NetCDF.NC_INT)), GridDesc.CoordSys.Default)
    // 0.6 + 0.6 must store 1 (truncate the SUM), not 0 + 0
    val dup = Seq(("N", 0, 1, 1, 1, 0.6), ("N", 0, 1, 1, 1, 0.6))
      .toDF("var", "tstep", "layer", "row", "col", "value")
    Ioapi.write(dup, h, p, numRecs = 1)
    val (_, df) = Ioapi.read(spark, p, dropZeros = true)
    assert(df.collect().map(_.getDouble(5)).toSeq == Seq(1.0))
  }

  test("srg2ncf accumulates fractions per cell like convert_txt2ncf") {
    import spark.implicits._
    val srg = Seq(
      ("A", 1, 1, 0.25), ("B", 1, 1, 0.5), // two counties share cell (1,1)
      ("A", 3, 2, 0.75)
    ).toDF("fips", "col", "row", "frac")
    val p = tmp("srg.ncf")
    Ioapi.srg2ncf(srg, grid, p, GridDesc.CoordSys.Default)
    val (h, df) = Ioapi.read(spark, p, dropZeros = true)
    assert(h.vars.map(_.name) == Seq("FRACTION"))
    assert(h.tstep == 10000 && h.sdate == 2007001) // the Fortran's constants
    val m = df.collect().map(r => (r.getInt(4), r.getInt(3)) -> r.getDouble(5)).toMap
    assert(m == Map((1, 1) -> 0.75, (3, 2) -> 0.75))
  }

  test("headerDiff reproduces diffioapi's grouped checks") {
    val h = headerFor(grid, Seq(VarDef("NO2")), GridDesc.CoordSys.Default)
    assert(headerDiff(h, h, 2, 2).isEmpty)
    assert(headerDiff(h, h.copy(ftype = 2), 2, 2).head.contains("File types"))
    assert(headerDiff(h, h.copy(pAlp = 31), 2, 2).head.contains("Map projections"))
    assert(headerDiff(h, h.copy(ncols = 5), 2, 2).head.contains("Grid descriptions"))
    assert(headerDiff(h, h.copy(nlays = 2, vglvls = Seq(0f, 0.5f, 1f)), 2, 2)
      .head.contains("Layer structures"))
    assert(headerDiff(h, h, 2, 3).head.contains("durations"))
    assert(headerDiff(h, h.copy(vars = Seq(VarDef("NO2"), VarDef("O3"))), 2, 2)
      .head.contains("number of variables"))
    assert(headerDiff(h, h.copy(vars = Seq(VarDef("SO2"))), 2, 2)
      .head.contains("Variable names"))
  }

  test("diffCells: zero-orig never flags; tolerance respected") {
    import spark.implicits._
    def df(vals: (Int, Double)*) = vals.toSeq.map { case (c, v) =>
      ("X", 0, 1, 1, c, v) }.toDF("var", "tstep", "layer", "row", "col", "value")
    val orig = df(1 -> 100.0, 2 -> 0.0, 3 -> 50.0, 4 -> 10.0)
    val newer = df(1 -> 100.5, 2 -> 99.0, 3 -> 50.0, 4 -> 10.0005)
    // tolerance 0.01%: cell 1 differs 0.5%, cell 2 has orig=0 (never
    // flagged), cell 3 identical, cell 4 differs 0.005% (under tolerance)
    val flagged = diffCells(orig, newer, tolerance = 0.01).collect()
    assert(flagged.map(_.getAs[Int]("col")).toSeq == Seq(1))
    assert(flagged.head.getAs[Double]("pctdiff") == 0.5)
  }
}
