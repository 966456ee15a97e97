package graft.cli

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo
import graft.operators.{Allocate, Surrogate, WeightKind}

/** End-to-end driver parity: the env-var contract (SpatialAllocator) and the
  * SurrogateTool meta-pipeline (SrgTool) on fixture layers. */
class CliSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("cli-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String =
    graft.Scratch.dir(name).toString

  test("SpatialAllocator SURROGATE mode matches the direct operator and writes SMOKE") {
    val dataDir = tmp("cli-data")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dataDir/counties")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dataDir/points")
    val smoke = s"$dataDir/srg100.txt"

    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "DATA_FILE_NAME" -> s"$dataDir/counties",
      "DATA_ID_ATTR" -> "fips",
      "WEIGHT_FILE_NAME" -> s"$dataDir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "100",
      "SURROGATE_FILE" -> smoke)).get

    val direct = graft.operators.Surrogate.pointSurrogate(
      TpchGeo.points(spark, sfDir), TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 100)
    assert(out.collect().map(_.toString).sorted.toSeq ==
           direct.collect().map(_.toString).sorted.toSeq)

    val lines = Files.readAllLines(java.nio.file.Paths.get(smoke))
    assert(lines.get(0).startsWith("#GRID\tTEST8"))
    assert(lines.size() > 10)
    // SMOKE round-trip: parse back, frac matches
    import spark.implicits._
    val back = graft.io.Smoke.parse(spark,
      spark.createDataset(scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala.toSeq))
    assert(back.count() == direct.count())
  }

  test("CELL_RES and CELL_DOMAIN outside the cell index's range fail fast, naming the variable") {
    // resolution in [0, CellIndex.MaxRes] like the SQL surface; a domain of
    // four numbers with positive width and height
    Seq("CELL_RES" -> "29", "CELL_RES" -> "-1", "CELL_DOMAIN" -> "0,0,0,10",
        "CELL_DOMAIN" -> "0,0,10", "CELL_DOMAIN" -> "0,10,10,5").foreach { kv =>
      val e = intercept[IllegalArgumentException](SpatialAllocator.run(spark,
        Map("MIMS_PROCESSING" -> "SURROGATE", kv)))
      assert(e.getMessage.contains(kv._1), s"$kv: ${e.getMessage}")
    }
  }

  test("SURROGATE threshold renders #SKIPPED rows; GRIDDESC projection reaches both sinks") {
    import graft.sources.Ioapi
    val dir = tmp("cli-skip")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dir/counties")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """! coords
        |'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'TEST8'
        |'LAM', 0, 0, 1000, 1000, 8, 8, 1
        |' '""".stripMargin.getBytes("UTF-8"))

    // pick a threshold that splits the counties: those below max(denom)
    // must render as #SKIPPED (surrogate.c:434-452) yet stay out of the
    // returned table and the .ncf accumulation
    val full = graft.operators.Surrogate.pointSurrogate(
      TpchGeo.points(spark, sfDir), TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 100, keepSkipped = true)
    val denoms = full.select("fips", "denom").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(denoms.values.toSet.size > 1, "fixture needs distinct denominators")
    val thr = denoms.values.max
    val live = denoms.filter(_._2 >= thr).keySet
    val skipped = denoms.keySet -- live
    assert(live.nonEmpty && skipped.nonEmpty)

    val smoke = s"$dir/srg100.txt"; val ncf = s"$dir/srg100.ncf"
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "DATA_ID_ATTR" -> "fips",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "100",
      "DENOMINATOR_THRESHOLD" -> thr.toString,
      "SURROGATE_FILE" -> smoke,
      "SURROGATE_NETCDF_FILE" -> ncf)).get

    // returned table: live counties only
    assert(out.select("fips").distinct().collect()
      .map(_.getString(0)).toSet == live)

    // SMOKE file: GRIDDESC projection in the header, #SKIPPED rows for
    // every below-threshold county, live counties un-prefixed
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(smoke)).asScala
    val header = lines.head
    assert(header.contains("LAMBERT") &&
           header.contains("33.000000\t45.000000\t-97.000000"))
    val skippedFips = lines.filter(_.startsWith("#SKIPPED"))
      .map(_.split("\t")(1)).toSet
    assert(skippedFips == skipped)
    assert(lines.exists(l => !l.startsWith("#") && live.contains(l.split("\t")(1))))

    // .ncf: projection header populated from GRIDDESC; only live counties
    // accumulate (the Fortran skips '#' comment lines)
    val (h, back) = Ioapi.read(spark, ncf, dropZeros = true)
    assert(h.gdtyp == 2 && h.pAlp == 33.0 && h.pBet == 45.0 &&
           h.pGam == -97.0 && h.xcent == -97.0 && h.ycent == 40.0)
    val want = out.groupBy("col", "row").agg(sum("frac").as("s")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val got = back.collect()
      .map(r => (r.getInt(4), r.getInt(3)) -> r.getDouble(5)).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6, s"$k") }
  }

  test("SpatialAllocator OVERLAY + FILTER_SHAPE + CONVERT_SHAPE modes run") {
    val dataDir = tmp("cli-ov")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dataDir/points")

    val ov = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "OVERLAY",
      "INPUT_FILE_NAME" -> s"$dataDir/points",
      "INPUT_FILE_TYPE" -> "Point",
      "OVERLAY_SHAPE" -> "500,500,2500,2500")).get
    val n = ov.count()
    assert(n > 0 && n < TpchGeo.points(spark, sfDir).count())

    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dataDir/counties")
    val filt = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "FILTER_SHAPE",
      "INPUT_FILE_NAME" -> s"$dataDir/counties",
      "FILTER_ATTR" -> "fips",
      "FILTER_INCLUDE" -> "4700[1-4]")).get
    assert(filt.count() == 4)

    val conv = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "CONVERT_SHAPE",
      "INPUT_FILE_NAME" -> s"$dataDir/points",
      "INPUT_FILE_TYPE" -> "Point",
      "INPUT_FILE_MAP_PRJN" -> "latlon",
      "OUTPUT_FILE_MAP_PRJN" -> "+proj=merc,+lon_0=0")).get
    assert(conv.count() == TpchGeo.points(spark, sfDir).count())
  }

  test("CONVERT_SHAPE reprojects a PointFile CSV's x/y as points") {
    val dir = tmp("cli-convpf")
    val csv = s"$dir/points.csv"
    val pts = Seq((1, -97.0, 40.0), (2, -90.5, 35.25), (3, -104.75, 45.5))
    Files.write(java.nio.file.Paths.get(csv), pts
      .map { case (i, lon, lat) => s"$i,$lon,$lat" }
      .mkString("id,lon,lat\n", "\n", "\n").getBytes("UTF-8"))
    val lcc = "+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97"
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "CONVERT_SHAPE",
      "INPUT_FILE_NAME" -> csv,
      "INPUT_FILE_TYPE" -> "PointFile",
      "INPUT_FILE_XCOL" -> "lon",
      "INPUT_FILE_YCOL" -> "lat",
      "INPUT_FILE_MAP_PRJN" -> "latlon",
      "OUTPUT_FILE_MAP_PRJN" -> lcc)).get
    val (from, to) = (graft.grid.Proj.parse("latlon"), graft.grid.Proj.parse(lcc))
    val got = out.select("id", "x", "y").collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == pts.map(_._1).toSet)
    pts.foreach { case (i, lon, lat) =>
      val (gx, gy) = from.inverse(lon, lat)
      assert(got(i) == to.forward(gx, gy), s"point $i")
    }
  }

  test("CONVERT_SHAPE reads INPUT_FILE_ELLIPSOID and OUTPUT_FILE_ELLIPSOID with the map projections") {
    import graft.grid.{Ellipsoid, Ellipsoidal}
    val dir = tmp("cli-convell")
    val lcc = "+proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97"
    val nad83 = Ellipsoidal.LccE(33, 45, 40, -97, Ellipsoid.GRS80)
    val pts = Seq((1, -90.5, 35.25), (2, -104.75, 45.5), (3, -97.0, 40.0))
    def csv(name: String, xy: ((Double, Double)) => (Double, Double)): String = {
      val path = s"$dir/$name.csv"
      Files.write(java.nio.file.Paths.get(path), pts
        .map { case (i, lon, lat) => val (x, y) = xy((lon, lat)); s"$i,$x,$y" }
        .mkString("id,x,y\n", "\n", "\n").getBytes("UTF-8"))
      path
    }
    def convert(path: String, crs: (String, String)*): Map[Int, (Double, Double)] =
      SpatialAllocator.run(spark, Map(
        "MIMS_PROCESSING" -> "CONVERT_SHAPE",
        "INPUT_FILE_NAME" -> path,
        "INPUT_FILE_TYPE" -> "PointFile") ++ crs).get
        .select("id", "x", "y").collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // NAD83 LCC metres → lon/lat, and lon/lat → NAD83 LCC metres
    val toLonLat = convert(csv("lcc", (nad83.forward _).tupled),
      "INPUT_FILE_MAP_PRJN" -> lcc, "INPUT_FILE_ELLIPSOID" -> "+datum=NAD83",
      "OUTPUT_FILE_MAP_PRJN" -> "latlon")
    val toLcc = convert(csv("lonlat", identity),
      "INPUT_FILE_MAP_PRJN" -> "latlon",
      "OUTPUT_FILE_MAP_PRJN" -> lcc, "OUTPUT_FILE_ELLIPSOID" -> "+datum=NAD83")
    pts.foreach { case (i, lon, lat) =>
      val (x, y) = nad83.forward(lon, lat)
      assert(toLonLat(i) == nad83.inverse(x, y), s"point $i to lon/lat")
      assert(toLcc(i) == (x, y), s"point $i to LCC")
    }
  }

  test("an unknown OUTPUT_FILE_TYPE fails naming the four targets, also without SURROGATE_FILE") {
    val dir = tmp("cli-badout")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dir/counties")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    val ncf = s"$dir/srg100.ncf"
    val e = intercept[IllegalArgumentException](SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "OUTPUT_FILE_TYPE" -> "Egrid",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_NETCDF_FILE" -> ncf)))
    Seq("Egrid", "RegularGrid", "EGrid", "VariableGrid", "Polygon")
      .foreach(v => assert(e.getMessage.contains(v), e.getMessage))
    assert(!Files.exists(java.nio.file.Paths.get(ncf)))
  }

  test("ALLOCATE reads a shapefile OUTPUT_POLY_FILE and names its OUTPUT_POLY_ATTRS out_id") {
    import graft.sources.Shapefile
    val dir = tmp("cli-alloc-shp")
    TpchGeo.tracts(spark, sfDir).write.mode("overwrite").parquet(s"$dir/tracts")
    Shapefile.writePolygons(TpchGeo.counties(spark), s"$dir/counties",
      "geom", Seq(Shapefile.DbfCol("fips", 'C', 5)))
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "ALLOCATE",
      "INPUT_FILE_NAME" -> s"$dir/tracts",
      "OUTPUT_POLY_FILE" -> s"$dir/counties",
      "OUTPUT_POLY_ATTRS" -> "fips",
      "ALLOCATE_ATTRS" -> "p_size=Aggregate")).get
    def byId(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.select(col("out_id").cast("string"), col("p_size")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = byId(out)
    val want = byId(Allocate.allocate(TpchGeo.tracts(spark, sfDir),
      TpchGeo.counties(spark).withColumnRenamed("fips", "out_id"),
      Seq("p_size" -> Allocate.Aggregate), TpchGeo.domain, TpchGeo.zres))
    assert(want.nonEmpty && got.keySet == want.keySet)
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) <= 1e-9 * math.abs(v), s"$k: ${got(k)} vs $v")
    }
  }

  test("ALLOCATE_ATTRS: an entry that is not attr=Mode or names an unknown mode fails naming it") {
    val dir = tmp("cli-alloc-attrs")
    TpchGeo.tracts(spark, sfDir).write.mode("overwrite").parquet(s"$dir/tracts")
    def fails(attrs: String): String = intercept[IllegalArgumentException](
      SpatialAllocator.run(spark, Map(
        "MIMS_PROCESSING" -> "ALLOCATE",
        "INPUT_FILE_NAME" -> s"$dir/tracts",
        "OUTPUT_POLY_FILE" -> s"$dir/tracts",
        "ALLOCATE_ATTRS" -> attrs))).getMessage
    assert(fails("p_size").contains("'p_size' is not attr=Mode"))
    assert(fails("p_size=Aggregate, p_partkey").contains("'p_partkey'"))
    assert(fails("p_size=Aggregate=Average").contains("'p_size=Aggregate=Average'"))
    val unknown = fails("p_size=Sum")
    assert(unknown.contains("'Sum'") && unknown.contains("p_size"), unknown)
    Seq("Aggregate", "Average", "DiscreteOverlap", "DiscreteCentroid", "AreaPercent")
      .foreach(m => assert(unknown.contains(m), unknown))
  }

  test("SrgTool runs a 3-spec catalog concurrently with post-passes and SRGDESC") {
    val outDir = tmp("srgtool")
    val r = SrgTool.run(spark, TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      specs = Seq(
        SrgTool.SrgSpec(100, "points", SrgTool.PointW, TpchGeo.points(spark, sfDir)),
        SrgTool.SrgSpec(120, "tracts", SrgTool.PolyW, TpchGeo.tracts(spark, sfDir),
          Some("p_size")),
        SrgTool.SrgSpec(240, "roads", SrgTool.LineW, TpchGeo.roads(spark, sfDir))),
      merges = Seq(SrgTool.MergeSpec(500, "pop_mix", 100, 0.5, 120, 0.5)),
      gapfills = Seq(SrgTool.GapfillSpec(600, "filled", Seq(240, 100))),
      outDir = Some(outDir))

    assert(r.srg.keySet == Set(100, 120, 240, 500, 600))
    // every normalized county sums to 1 (within normalize tol)
    r.srg(500).groupBy("fips").agg(sum("frac").as("s")).collect().foreach { row =>
      assert(math.abs(row.getAs[Double]("s") - 1.0) < 1e-9)
    }
    assert(r.qaSummary.columns.toSet.contains("fips"))
    val desc = Files.readAllLines(java.nio.file.Paths.get(s"$outDir/SRGDESC.txt"))
    assert(desc.get(0) == "#SRGDESC" && desc.size() == 6)
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/srg_500.txt")))
  }

  test("ALLOCATE mode reads a real I/O API .ncf input (allocateIoapi path)") {
    import spark.implicits._
    import graft.sources.Ioapi
    val dir = tmp("cli-ioapi")
    // gridded input file over TEST8
    val gridded = (for (t <- 0 to 1; r <- 1 to 8; c <- 1 to 8)
      yield ("PM", t, 1, r, c, ((t * 7 + (r - 1) * 8 + c) % 20).toDouble))
      .toDF("var", "tstep", "layer", "row", "col", "value")
    val ncf = s"$dir/gridded.ncf"
    Ioapi.write(gridded, Ioapi.headerFor(TpchGeo.grid, Seq(Ioapi.VarDef("PM")), graft.sources.GridDesc.CoordSys.Default), ncf)
    TpchGeo.tracts(spark, sfDir)
      .withColumnRenamed("p_partkey", "out_id")
      .write.mode("overwrite").parquet(s"$dir/tracts")

    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "ALLOCATE",
      "INPUT_FILE_TYPE" -> "IoapiFile",
      "INPUT_FILE_NAME" -> ncf,
      "OUTPUT_POLY_FILE" -> s"$dir/tracts",
      "OUTPUT_GRID_NAME" -> "TEST8")).get

    val direct = graft.operators.Allocate.gridToPoly(gridded, TpchGeo.grid,
      TpchGeo.tracts(spark, sfDir).withColumnRenamed("p_partkey", "out_id"),
      "out_id", "value", Seq("var"))
    assert(out.collect().map(_.toString).sorted.toSeq ==
           direct.collect().map(_.toString).sorted.toSeq)
    assert(out.count() > 0)
  }

  test("ALLOCATE writes I/O API output: grid-cell allocate and AreaPercent (OCEANfile)") {
    import graft.sources.{Ioapi, Sources}
    val dir = tmp("cli-allocncf")
    val tracts = TpchGeo.tracts(spark, sfDir).withColumn("category",
      substring(col("p_partkey").cast("string"), -1, 1))
    tracts.write.mode("overwrite").parquet(s"$dir/tracts")

    // OUTPUT_FILE_TYPE=IoapiFile: output polys ARE the grid cells
    // (allocateIoapi.c:545-548), every attr becomes one M3 variable
    val ncf = s"$dir/alloc.ncf"
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "ALLOCATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "INPUT_FILE_NAME" -> s"$dir/tracts",
      "INPUT_FILE_TYPE" -> "Polygon",
      "ALLOCATE_ATTRS" -> "p_size=Aggregate",
      "OUTPUT_FILE_TYPE" -> "IoapiFile",
      "OUTPUT_FILE_NAME" -> ncf)).get
    val (h, back) = Ioapi.read(spark, ncf, dropZeros = true)
    assert(h.vars.map(_.name) == Seq("p_size") &&
           h.vars.head.vtype == graft.sources.NetCDF.NC_DOUBLE)
    val direct = graft.operators.Allocate.allocate(tracts,
      Sources.regularGrid(spark, TpchGeo.grid).withColumnRenamed("cell_id", "out_id"),
      Seq("p_size" -> graft.operators.Allocate.Aggregate),
      TpchGeo.domain, TpchGeo.zres)
    val want = direct.where(col("p_size") =!= 0.0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = back.collect().map(r =>
      ((r.getInt(3) - 1).toLong * 8 + (r.getInt(4) - 1)) -> r.getDouble(5)).toMap
    assert(got == want && got.nonEmpty)
    assert(out.count() == direct.count())

    // AreaPercent → OCEANfile: one variable per category value
    val ocean = s"$dir/ocean.ncf"
    SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "ALLOCATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "INPUT_FILE_NAME" -> s"$dir/tracts",
      "INPUT_FILE_TYPE" -> "Polygon",
      "ALLOCATE_ATTRS" -> "category=AreaPercent",
      "OUTPUT_FILE_TYPE" -> "IoapiFile",
      "OUTPUT_FILE_NAME" -> ocean))
    val (h2, back2) = Ioapi.read(spark, ocean, dropZeros = true)
    val directPct = graft.operators.Allocate.areaPercent(tracts, "category", TpchGeo.grid)
    assert(h2.vars.map(_.name).toSet ==
      directPct.select("category").distinct().collect().map(_.getString(0)).toSet)
    val wantPct = directPct.collect()
      .map(r => (r.getString(2), r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val gotPct = back2.collect()
      .map(r => (r.getString(0), r.getInt(4), r.getInt(3)) -> r.getDouble(5)).toMap
    assert(gotPct == wantPct && gotPct.nonEmpty)
  }

  test("SURROGATE OUTPUT_FILE_TYPE=VariableGrid builds the grid from GRID_DOT_FILE") {
    val dir = tmp("cli-vargrid")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dir/counties")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    val ys = for (r <- 0 until 9; _ <- 0 until 9) yield r * 1000.0
    val xs = for (r <- 0 until 9; c <- 0 until 9) yield c * 1000.0 + r * 20.0
    Files.write(java.nio.file.Paths.get(s"$dir/dots.txt"),
      ("NCOLS = 9\nNROWS = 9\nYDOT =\n" + ys.mkString(",") +
        "\nXDOT =\n" + xs.mkString(",") + "\n").getBytes("UTF-8"))
    val smoke = s"$dir/srg190.txt"
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "OUTPUT_FILE_TYPE" -> "VariableGrid",
      "GRID_DOT_FILE" -> s"$dir/dots.txt",
      "READ_XYDOT" -> "1",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "190",
      "SURROGATE_FILE" -> smoke)).get
    val (_, cells) = graft.sources.Sources.variableDotGrid(spark,
      new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/dots.txt")),
        "UTF-8"), (a, b) => (a, b), readXY = true)
    val direct = Surrogate.create(WeightKind.PointW,
      TpchGeo.points(spark, sfDir), TpchGeo.counties(spark),
      Surrogate.CellPolys(cells), TpchGeo.domain, TpchGeo.zres, 190)
    assert(out.collect().map(_.toString).sorted.toSeq ==
           direct.collect().map(_.toString).sorted.toSeq)
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(smoke)).asScala
    // header carries the DOT-lattice dims (8x8 cells), named by the grid
    assert(lines.head.startsWith("#VARIABLE_GRID\tTEST8"))
    assert(lines.head.split("\t")(6) == "8" && lines.head.split("\t")(7) == "8")
    // srg2ncf is grid-shaped only: VariableGrid output must fail fast
    val e = intercept[IllegalArgumentException](SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "OUTPUT_FILE_TYPE" -> "VariableGrid",
      "GRID_DOT_FILE" -> s"$dir/dots.txt",
      "READ_XYDOT" -> "1",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_NETCDF_FILE" -> s"$dir/bad.ncf")))
    assert(e.getMessage.contains("SURROGATE_NETCDF_FILE"))
  }

  test("SURROGATE OUTPUT_FILE_TYPE=EGrid runs against the staggered diamonds") {
    val dir = tmp("cli-egrid")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dir/counties")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'EG'
        |'LAM', 0, 0, 1000, 1000, 9, 17, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    val smoke = s"$dir/srg180.txt"
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "EG",
      "OUTPUT_FILE_TYPE" -> "EGrid",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "180",
      "SURROGATE_FILE" -> smoke)).get
    val direct = Surrogate.create(WeightKind.PointW,
      TpchGeo.points(spark, sfDir), TpchGeo.counties(spark),
      Surrogate.EGrid(graft.grid.GridSpec("EG", 0, 0, 1000, 1000, 9, 17)),
      TpchGeo.domain, TpchGeo.zres, 180)
    assert(out.collect().map(_.toString).sorted.toSeq ==
           direct.collect().map(_.toString).sorted.toSeq)
    assert(out.count() > 0)
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(smoke)).asScala
    assert(lines.head.startsWith("#GRID\tEG"))
  }

  test("WEIGHT/DATA_FILE_MAP_PRJN reproject input layers into the grid CRS") {
    val dir = tmp("cli-reproj")
    // lon/lat layers: counties as 2-degree tiles, points in degrees
    TpchGeo.countiesLL(spark).write.mode("overwrite").parquet(s"$dir/countiesLL")
    val ptsLL = TpchGeo.points(spark, sfDir)
      .withColumn("x", col("x") / 1000.0).withColumn("y", col("y") / 1000.0)
    ptsLL.write.mode("overwrite").parquet(s"$dir/pointsLL")
    // the output grid lives in spherical Mercator meters
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'MER'
        |3, 0, 0, 0, 0, 0
        |' '
        |'TESTM'
        |'MER', 0, 0, 112000, 112000, 8, 8, 1
        |' '""".stripMargin.getBytes("UTF-8"))

    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TESTM",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "OUTPUT_FILE_MAP_PRJN" -> "proj=merc",
      "DATA_FILE_NAME" -> s"$dir/countiesLL",
      "DATA_FILE_MAP_PRJN" -> "proj=latlon",
      "WEIGHT_FILE_NAME" -> s"$dir/pointsLL",
      "WEIGHT_FILE_TYPE" -> "Point",
      "WEIGHT_FILE_MAP_PRJN" -> "proj=latlon",
      "CELL_DOMAIN" -> "0,0,1048576,1048576",
      "SURROGATE_ID" -> "100")).get

    val from = graft.grid.Proj.parse("proj=latlon")
    val to = graft.grid.Proj.parse("proj=merc")
    val gridM = graft.grid.GridSpec("TESTM", 0, 0, 112000, 112000, 8, 8)
    val dom = graft.cells.CellDomain(0, 0, 1048576, 1048576)
    val direct = graft.operators.Surrogate.pointSurrogate(
      graft.operators.Reproject.points(ptsLL, from, to),
      graft.operators.Reproject.polygons(TpchGeo.countiesLL(spark), from, to, 0),
      gridM, dom, TpchGeo.zres, 100)
    assert(out.count() > 0)
    assert(out.collect().map(_.toString).sorted.toSeq ==
           direct.collect().map(_.toString).sorted.toSeq)
  }

  test("SURROGATE OUTPUT_FILE_TYPE=Polygon writes out_poly_id lines (#POLYGON)") {
    val dir = tmp("cli-polyout")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dir/counties")
    TpchGeo.tracts(spark, sfDir).write.mode("overwrite").parquet(s"$dir/tracts")
    import spark.implicits._
    (for { qy <- 0 to 1; qx <- 0 to 1 } yield {
      val x0 = 1000.0 + qx * 3000; val y0 = 1000.0 + qy * 3000
      (1 + qx + qy * 2,
        Seq(Seq(x0, y0, x0 + 3000, y0, x0 + 3000, y0 + 3000, x0, y0 + 3000)))
    }).toDF("out_id", "geom").write.mode("overwrite").parquet(s"$dir/outpolys")

    val smoke = s"$dir/srg170.txt"
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "OUTPUT_FILE_TYPE" -> "Polygon",
      "OUTPUT_POLY_FILE" -> s"$dir/outpolys",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "WEIGHT_FILE_NAME" -> s"$dir/tracts",
      "WEIGHT_FILE_TYPE" -> "Polygon",
      "SURROGATE_ID" -> "170",
      "SURROGATE_FILE" -> smoke)).get

    val direct = Surrogate.create(WeightKind.PolyW,
      TpchGeo.tracts(spark, sfDir), TpchGeo.counties(spark),
      Surrogate.Polys(spark.read.parquet(s"$dir/outpolys")),
      TpchGeo.domain, TpchGeo.zres, 170)
    assert(out.collect().map(_.toString).sorted.toSeq ==
           direct.collect().map(_.toString).sorted.toSeq)

    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(java.nio.file.Paths.get(smoke)).asScala
    assert(lines.head.startsWith("#POLYGON\tTEST8"))
    // data lines carry code, fips, out_poly_id, frac — exactly 4 fields
    // before the QA comment
    val data = lines.tail.filterNot(_.startsWith("#"))
    assert(data.nonEmpty)
    data.foreach { l =>
      val f = l.split("\t")
      assert(f(4) == "!" && f(2).matches("\\d+"), l)
    }
    // point weights flow through the same front door
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    val outP = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "OUTPUT_FILE_TYPE" -> "Polygon",
      "OUTPUT_POLY_FILE" -> s"$dir/outpolys",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "171")).get
    assert(outP.count() > 0)
    // every county's fracs sum to ≤ 1 (points outside all output polys
    // stay in the denominator)
    val sums = outP.groupBy("fips").agg(sum("frac").as("s"))
      .collect().map(_.getDouble(1))
    assert(sums.forall(s => s > 0.0 && s <= 1.0 + 1e-12))
  }

  test("INPUT_FILE_TYPE=RegularGrid generates the input grid from GRIDDESC") {
    val dir = tmp("cli-reggrid")
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'INGRID'
        |'LAM', 0, 0, 1000, 1000, 4, 4, 1
        |'TEST8'
        |'LAM', 0, 0, 1000, 1000, 8, 8, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    // overlay the generated 4×4 grid cells against a bbox mask covering
    // the lower-left quadrant: exactly cells fully/partly inside survive
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "OVERLAY",
      "INPUT_FILE_TYPE" -> "RegularGrid",
      "INPUT_GRID_NAME" -> "INGRID",
      "INPUT_FILE_NAME" -> "unused",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "OVERLAY_SHAPE" -> "100,100,1900,1900")).get
    // cells intersecting [100,1900]²: the 2×2 lower-left block
    val ids = out.select("cell_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 4L, 5L))
  }

  test("FILTER_FILE drives FILTER_SHAPE with the reference's block format") {
    val dir = tmp("cli-filterfile")
    val parts = spark.read.parquet(s"$sfDir/part.parquet")
    parts.write.mode("overwrite").parquet(s"$dir/parts")
    Files.write(java.nio.file.Paths.get(s"$dir/filter.txt"),
      """# keep Brand#3x except Brand#33, and mid-size parts
        |ATTRIBUTE_NAME=p_brand
        |ATTRIBUTE_TYPE=DISCRETE
        |INCLUDE_VALUES=Brand#3*
        |EXCLUDE_VALUES=Brand#33
        |
        |ATTRIBUTE_NAME=p_size
        |ATTRIBUTE_TYPE=CONTINUOUS
        |INCLUDE_VALUES=10-40
        |""".stripMargin.getBytes("UTF-8"))
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "FILTER_SHAPE",
      "INPUT_FILE_NAME" -> s"$dir/parts",
      "INPUT_FILE_TYPE" -> "Polygon",
      "FILTER_FILE" -> s"$dir/filter.txt")).get
    // same conditions as q09's env-var filter spec
    val direct = graft.operators.Filters.filterSpec(parts, Seq(
      graft.operators.Filters.AttrCond("p_brand", discrete = true,
        include = Seq("Brand#3*"), exclude = Seq("Brand#33")),
      graft.operators.Filters.AttrCond("p_size", discrete = false,
        include = Seq("10-40"))))
    assert(out.count() == direct.count() && out.count() > 0)
    // FILTER_FILE=NONE is a no-op
    val none = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "FILTER_SHAPE",
      "INPUT_FILE_NAME" -> s"$dir/parts",
      "INPUT_FILE_TYPE" -> "Polygon",
      "FILTER_FILE" -> "NONE")).get
    assert(none.count() == parts.count())
  }

  test("OVERLAY_TYPE grid/polygon-file masks and the DelimitedFile sink") {
    val dir = tmp("cli-ovtype")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'MASK2'
        |'LAM', 0, 0, 1000, 1000, 2, 2, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    // RegularGrid mask: the named grid's outline ([0,2000]²)
    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "OVERLAY",
      "INPUT_FILE_NAME" -> s"$dir/points",
      "INPUT_FILE_TYPE" -> "Point",
      "OVERLAY_TYPE" -> "RegularGrid",
      "OVERLAY_SHAPE" -> "MASK2",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "OVERLAY_OUT_NAME" -> s"$dir/out_pipe",
      "OVERLAY_OUT_DELIM" -> "PIPE")).get
    val inside = TpchGeo.points(spark, sfDir)
      .where(col("x") < 2000 && col("y") < 2000).count()
    assert(out.count() == inside && inside > 0)
    // the sink wrote pipe-delimited lines with a header
    val part = new java.io.File(s"$dir/out_pipe").listFiles()
      .find(_.getName.endsWith(".csv")).get
    val lines = Files.readAllLines(part.toPath)
    assert(lines.get(0).contains("o_orderkey|"))
    assert(lines.size() == inside + 1)

    // PolygonFile mask: ASCII x/y contour of the same square
    Files.write(java.nio.file.Paths.get(s"$dir/mask.txt"),
      "0 0\n0 2000\n2000 2000\n2000 0\n".getBytes("UTF-8"))
    val out2 = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "OVERLAY",
      "INPUT_FILE_NAME" -> s"$dir/points",
      "INPUT_FILE_TYPE" -> "Point",
      "OVERLAY_TYPE" -> "PolygonFile",
      "OVERLAY_SHAPE" -> s"$dir/mask.txt")).get
    assert(out2.count() == inside)
  }

  test("DiffIoapi drives headerDiff + diffCells under the reference env contract") {
    import graft.sources.{Ioapi, NetCDF}
    import spark.implicits._
    val dir = tmp("cli-diffioapi")
    val g = graft.grid.GridSpec("TD", 0, 0, 1000, 1000, 2, 2)
    val h = Ioapi.headerFor(g, Seq(Ioapi.VarDef("V", vtype = NetCDF.NC_DOUBLE)),
      graft.sources.GridDesc.CoordSys.Default)
    val base = Seq(("V", 0, 1, 1, 1, 10.0), ("V", 0, 1, 1, 2, 20.0),
                   ("V", 0, 1, 2, 1, 0.0),  ("V", 0, 1, 2, 2, 40.0))
      .toDF("var", "tstep", "layer", "row", "col", "value")
    val pert = Seq(("V", 0, 1, 1, 1, 10.0), ("V", 0, 1, 1, 2, 30.0),
                   ("V", 0, 1, 2, 1, 5.0),  ("V", 0, 1, 2, 2, 40.0))
      .toDF("var", "tstep", "layer", "row", "col", "value")
    Ioapi.write(base, h, s"$dir/orig.ncf", numRecs = 1)
    Ioapi.write(pert, h, s"$dir/new.ncf", numRecs = 1)

    val r = DiffIoapi.run(spark, Map("ORIG_FILE" -> s"$dir/orig.ncf",
      "NEW_FILE" -> s"$dir/new.ncf", "TOLERANCE" -> "0.01"))
    assert(r.headerIssues.isEmpty)
    // (1,2) +50% flagged; (2,1) orig=0 NEVER flagged (diffioapi.c:264)
    val d = r.cellDiffs.collect().map(x =>
      (x.getAs[Int]("row"), x.getAs[Int]("col")) -> x.getAs[Double]("pctdiff")).toMap
    assert(d == Map((1, 2) -> 50.0))

    // header mismatch short-circuits with the C's message
    val h2 = h.copy(xcell = 500.0)
    Ioapi.write(base, h2, s"$dir/othergrid.ncf", numRecs = 1)
    val r2 = DiffIoapi.run(spark, Map("ORIG_FILE" -> s"$dir/orig.ncf",
      "NEW_FILE" -> s"$dir/othergrid.ncf", "TOLERANCE" -> "0.01"))
    assert(r2.headerIssues.exists(_.contains("Grid descriptions do not match")))
  }

  test("ALLOCATE IoapiFile→IoapiFile regrids grid to grid (ALL_AVERAGE)") {
    import graft.sources.{Ioapi, NetCDF}
    import spark.implicits._
    val dir = tmp("cli-regrid")
    // fine grid 2×2 of 1000; coarse output 1×1 of 2000 → avg of the 4 cells
    val fine = graft.grid.GridSpec("FINE", 0, 0, 1000, 1000, 2, 2)
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'COARSE'
        |'LAM', 0, 0, 2000, 2000, 1, 1, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    val data = Seq(("V", 0, 1, 1, 1, 10.0), ("V", 0, 1, 1, 2, 20.0),
                   ("V", 0, 1, 2, 1, 30.0), ("V", 0, 1, 2, 2, 44.0))
      .toDF("var", "tstep", "layer", "row", "col", "value")
    Ioapi.write(data, Ioapi.headerFor(fine,
      Seq(Ioapi.VarDef("V", vtype = NetCDF.NC_DOUBLE)), graft.sources.GridDesc.CoordSys.Default),
      s"$dir/fine.ncf", numRecs = 1)

    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "ALLOCATE",
      "INPUT_FILE_NAME" -> s"$dir/fine.ncf",
      "INPUT_FILE_TYPE" -> "IoapiFile",
      "OUTPUT_FILE_TYPE" -> "IoapiFile",
      "ALLOC_MODE_FILE" -> "ALL_AVERAGE",
      "OUTPUT_GRID_NAME" -> "COARSE",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "OUTPUT_FILE_NAME" -> s"$dir/coarse.ncf")).get
    assert(out.collect().map(_.getAs[Double]("value")).toSeq == Seq(26.0))
    val (h, back) = Ioapi.read(spark, s"$dir/coarse.ncf", dropZeros = true)
    assert(h.ncols == 1 && h.nrows == 1 && h.pAlp == 33.0)
    assert(back.collect().map(_.getDouble(5)).toSeq == Seq(26.0)) // (10+20+30+44)/4
  }

  test("ALLOCATE_ATTRS selects I/O API variables; unknown names fail fast") {
    import graft.sources.{Ioapi, NetCDF}
    import spark.implicits._
    val dir = tmp("cli-attrs")
    val fine = graft.grid.GridSpec("FINE", 0, 0, 1000, 1000, 2, 2)
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'COARSE'
        |'LAM', 0, 0, 2000, 2000, 1, 1, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    val data = (for (v <- Seq("V1", "V2"); r <- 1 to 2; c <- 1 to 2)
      yield (v, 0, 1, r, c, (r * 2 + c).toDouble))
      .toDF("var", "tstep", "layer", "row", "col", "value")
    Ioapi.write(data, Ioapi.headerFor(fine,
      Seq(Ioapi.VarDef("V1", vtype = NetCDF.NC_DOUBLE),
          Ioapi.VarDef("V2", vtype = NetCDF.NC_DOUBLE)), graft.sources.GridDesc.CoordSys.Default),
      s"$dir/in.ncf", numRecs = 1)

    val base = Map(
      "MIMS_PROCESSING" -> "ALLOCATE",
      "INPUT_FILE_NAME" -> s"$dir/in.ncf",
      "INPUT_FILE_TYPE" -> "IoapiFile",
      "OUTPUT_FILE_TYPE" -> "IoapiFile",
      "ALLOC_MODE_FILE" -> "ALL_AVERAGE",
      "OUTPUT_GRID_NAME" -> "COARSE",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "OUTPUT_FILE_NAME" -> s"$dir/out.ncf")
    val out = SpatialAllocator.run(spark, base + ("ALLOCATE_ATTRS" -> "V2")).get
    assert(out.select("var").distinct().collect().map(_.getString(0)).toSeq == Seq("V2"))
    val (h, _) = Ioapi.read(spark, s"$dir/out.ncf")
    assert(h.vars.map(_.name) == Seq("V2"))

    val e = intercept[IllegalArgumentException](
      SpatialAllocator.run(spark, base + ("ALLOCATE_ATTRS" -> "V9")))
    assert(e.getMessage.contains("V9"))
  }

  test("Beld3Smk merges intersecting tiles onto the grid and QA-checks 100%") {
    import graft.sources.{Ioapi, NetCDF}
    import spark.implicits._
    val dir = tmp("cli-beldsmk")
    // output grid TESTB: 2×2 cells of 1000 over [0,2000]²
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'TESTB'
        |'LAM', 0, 0, 1000, 1000, 2, 2, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    // two half-domain tiles of 500-size cells + one far tile (pruned):
    // each output cell averages 4 tile cells exactly (x/4 is dyadic)
    val left  = graft.grid.GridSpec("T1", 0, 0, 500, 500, 2, 4)
    val right = graft.grid.GridSpec("T2", 1000, 0, 500, 500, 2, 4)
    val far   = graft.grid.GridSpec("T3", 90000, 0, 500, 500, 2, 4)
    def tileRows(v: (Int, Int) => Double) = (for {
      r <- 1 to 4; c <- 1 to 2
    } yield ("LU", 0, 1, r, c, v(c, r))).toDF("var", "tstep", "layer", "row", "col", "value")
    def hdrFor(g: graft.grid.GridSpec, vn: String) = Ioapi.headerFor(g,
      Seq(Ioapi.VarDef(vn, vtype = NetCDF.NC_DOUBLE)), graft.sources.GridDesc.CoordSys.Default)
    def renamed(df: org.apache.spark.sql.DataFrame, vn: String) =
      df.withColumn("var", lit(vn))
    // v_a = 60 everywhere except tile2's upper-right out-cell patch = 61;
    // v_b = 40 → totals 100 except out cell (2,2) = 101
    val aLeft  = renamed(tileRows((_, _) => 60.0), "v_a")
    val aRight = renamed(tileRows((c, r) => if (r >= 3) 61.0 else 60.0), "v_a")
    val bAll   = (g: String) => renamed(tileRows((_, _) => 40.0), "v_b")
    val totAll = renamed(tileRows((c, r) => (c + r).toDouble), "FOREST")
    Ioapi.write(aLeft, hdrFor(left, "v_a"), s"$dir/b3_a.tile1.nzero.ncf", numRecs = 1)
    Ioapi.write(aRight, hdrFor(right, "v_a"), s"$dir/b3_a.tile2.nzero.ncf", numRecs = 1)
    Ioapi.write(renamed(tileRows((_, _) => 60.0), "v_a"),
      hdrFor(far, "v_a"), s"$dir/b3_a.tile3.nzero.ncf", numRecs = 1)
    Ioapi.write(bAll("l"), hdrFor(left, "v_b"), s"$dir/b3_b.tile1.nzero.ncf", numRecs = 1)
    Ioapi.write(bAll("r"), hdrFor(right, "v_b"), s"$dir/b3_b.tile2.nzero.ncf", numRecs = 1)
    Ioapi.write(totAll, hdrFor(left, "FOREST"), s"$dir/b3_tot.tile1.nzero.ncf", numRecs = 1)
    Ioapi.write(totAll, hdrFor(right, "FOREST"), s"$dir/b3_tot.tile2.nzero.ncf", numRecs = 1)

    val r = Beld3Smk.run(spark, Map(
      "OUTPUT_GRID_NAME" -> "TESTB",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "INPUT_DATA_DIR" -> dir,
      "OUTPUT_FILE_PREFIX" -> s"$dir/out"))
    assert(r.outputs.keySet == Set("a", "b", "tot"))

    // merged _a: cells in out row 2 that came from tile2 average 61
    val (ha, backA) = Ioapi.read(spark, s"$dir/out_a.ncf", dropZeros = true)
    assert(ha.gdtyp == 2 && ha.pAlp == 33.0) // GRIDDESC projection
    val a = backA.collect().map(x => (x.getInt(4), x.getInt(3)) -> x.getDouble(5)).toMap
    assert(a == Map((1, 1) -> 60.0, (2, 1) -> 60.0, (1, 2) -> 60.0, (2, 2) -> 61.0))
    val (_, backB) = Ioapi.read(spark, s"$dir/out_b.ncf", dropZeros = true)
    assert(backB.collect().forall(_.getDouble(5) == 40.0))

    // QA: only (2,2) deviates (total 101)
    val qa = r.qa.collect().map(x =>
      (x.getAs[Int]("col"), x.getAs[Int]("row")) -> x.getAs[Double]("total")).toMap
    assert(qa == Map((2, 2) -> 101.0))
  }

  test("Beld3Smk multi-record tiles: per-record QA, source timing preserved") {
    import graft.sources.{Ioapi, NetCDF}
    import spark.implicits._
    val dir = tmp("cli-beldsmk2")
    Files.write(java.nio.file.Paths.get(s"$dir/GRIDDESC.txt"),
      """'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'TESTB'
        |'LAM', 0, 0, 1000, 1000, 2, 2, 1
        |' '""".stripMargin.getBytes("UTF-8"))
    val left  = graft.grid.GridSpec("T1", 0, 0, 500, 500, 2, 4)
    val right = graft.grid.GridSpec("T2", 1000, 0, 500, 500, 2, 4)
    // two records per tile; non-default source timing must carry through
    def hdrFor(g: graft.grid.GridSpec, vn: String) = Ioapi.headerFor(g,
      Seq(Ioapi.VarDef(vn, vtype = NetCDF.NC_DOUBLE)), graft.sources.GridDesc.CoordSys.Default,
      sdate = 2011123, stime = 10000, tstep = 20000)
    def rows(vn: String, v: (Int, Int, Int) => Double) = (for {
      t <- 0 to 1; r <- 1 to 4; c <- 1 to 2
    } yield (vn, t, 1, r, c, v(t, c, r))).toDF("var", "tstep", "layer", "row", "col", "value")
    // tstep 0 totals 100 everywhere; tstep 1 totals 101 in out cell (2,2)
    // (right tile rows ≥ 3 carry 56 instead of 55) — per-record QA must
    // flag exactly that cell, not drown the domain in cross-record sums
    Ioapi.write(rows("v_a", (t, _, _) => if (t == 0) 60.0 else 55.0),
      hdrFor(left, "v_a"), s"$dir/b3_a.tile1.nzero.ncf", numRecs = 2)
    Ioapi.write(rows("v_a", (t, _, r) =>
        if (t == 0) 60.0 else if (r >= 3) 56.0 else 55.0),
      hdrFor(right, "v_a"), s"$dir/b3_a.tile2.nzero.ncf", numRecs = 2)
    Ioapi.write(rows("v_b", (t, _, _) => if (t == 0) 40.0 else 45.0),
      hdrFor(left, "v_b"), s"$dir/b3_b.tile1.nzero.ncf", numRecs = 2)
    Ioapi.write(rows("v_b", (t, _, _) => if (t == 0) 40.0 else 45.0),
      hdrFor(right, "v_b"), s"$dir/b3_b.tile2.nzero.ncf", numRecs = 2)

    val r = Beld3Smk.run(spark, Map(
      "OUTPUT_GRID_NAME" -> "TESTB",
      "GRIDDESC" -> s"$dir/GRIDDESC.txt",
      "INPUT_DATA_DIR" -> dir,
      "OUTPUT_FILE_PREFIX" -> s"$dir/out"))

    // both records survive the merge with the SOURCE header's time axis
    val (ha, backA) = Ioapi.read(spark, s"$dir/out_a.ncf", dropZeros = true)
    assert((ha.sdate, ha.stime, ha.tstep) == ((2011123, 10000, 20000)))
    val byRec = backA.collect().groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    assert(byRec.keySet == Set(0, 1) && byRec.values.forall(_ == 4))

    // per-record QA: only the one deviating (cell, record) surfaces
    val qa = r.qa.collect().map(x =>
      (x.getAs[Int]("col"), x.getAs[Int]("row")) -> x.getAs[Double]("total")).toMap
    assert(qa == Map((2, 2) -> 101.0))
  }

  test("SURROGATE mode writes srg2ncf output; shapefile front door works") {
    import graft.sources.{Ioapi, Shapefile}
    val dir = tmp("cli-ncfout")
    // counties as a REAL shapefile — readLayer must take the .shp branch
    Shapefile.writePolygons(TpchGeo.counties(spark), s"$dir/counties",
      "geom", Seq(Shapefile.DbfCol("fips", 'C', 5)))
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    val ncf = s"$dir/srg100.ncf"

    val out = SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "DATA_ID_ATTR" -> "fips",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "100",
      "SURROGATE_NETCDF_FILE" -> ncf)).get

    val (h, back) = Ioapi.read(spark, ncf, dropZeros = true)
    assert(h.vars.map(_.name) == Seq("FRACTION"))
    // per-cell FRACTION equals the surrogate's per-cell frac sum
    val want = out.groupBy("col", "row")
      .agg(sum("frac").as("s")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val got = back.collect()
      .map(r => (r.getInt(4), r.getInt(3)) -> r.getDouble(5)).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-6, s"$k") } // float32 storage
  }

  test("SURROGATE without GRIDDESC writes the SMOKE header's projection into the .ncf") {
    import graft.sources.Ioapi
    val dir = tmp("cli-ncfproj")
    TpchGeo.counties(spark).write.mode("overwrite").parquet(s"$dir/counties")
    TpchGeo.points(spark, sfDir).write.mode("overwrite").parquet(s"$dir/points")
    val (smoke, ncf) = (s"$dir/srg100.txt", s"$dir/srg100.ncf")
    SpatialAllocator.run(spark, Map(
      "MIMS_PROCESSING" -> "SURROGATE",
      "OUTPUT_GRID_NAME" -> "TEST8",
      "DATA_FILE_NAME" -> s"$dir/counties",
      "DATA_ID_ATTR" -> "fips",
      "WEIGHT_FILE_NAME" -> s"$dir/points",
      "WEIGHT_FILE_TYPE" -> "Point",
      "SURROGATE_ID" -> "100",
      "SURROGATE_FILE" -> smoke,
      "SURROGATE_NETCDF_FILE" -> ncf))
    // #GRID name xorig yorig xcell ycell ncols nrows nthik proj units
    //       alpha beta gamma xcent ycent
    val hdr = Files.readAllLines(java.nio.file.Paths.get(smoke)).get(0).split("\t")
    val (h, _) = Ioapi.read(spark, ncf)
    assert(hdr(9) == "LAMBERT" && h.gdtyp == 2, s"${hdr(9)} vs GDTYP ${h.gdtyp}")
    assert(Seq(h.pAlp, h.pBet, h.pGam, h.xcent, h.ycent) ==
      hdr.slice(11, 16).map(_.toDouble).toSeq)
  }
}
