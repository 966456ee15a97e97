package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo
import graft.functions.MergeEquation
import graft.operators.Filters
import graft.sources.Shapefile

/** Golden run of the SurrogateTool CSV contract: control variables +
  * shapefile catalog (real .shp/.dbf + parquet layers) + specification
  * (weight attr, weight function, filter function, merge equation,
  * concatenation, gapfill columns) + codes + generation list + GRIDDESC
  * → SMOKE files + SRGDESC, like SurrogateTool.java end-to-end. */
class SrgToolCsvSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("srgtoolcsv-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("merge equation grammar (EquationParser.java semantics)") {
    assert(MergeEquation.parse("0.5*Housing Change+0.5*Population") ==
      MergeEquation.Weighted(Seq(
        (0.5, MergeEquation.Ref("Housing Change", None)),
        (0.5, MergeEquation.Ref("Population", None)))))
    assert(MergeEquation.parse("Population[USA];Population[MEXICO]") ==
      MergeEquation.Concat(Seq(
        MergeEquation.Ref("Population", Some("USA")),
        MergeEquation.Ref("Population", Some("MEXICO")))))
    intercept[IllegalArgumentException](
      MergeEquation.parse("0.2*A+0.3*B+0.5*C")) // max 2 weighted terms
    intercept[IllegalArgumentException](
      MergeEquation.parse("0.5*../file|Forest+0.5*Rural")) // external refs
  }

  test("filter function grammar (ATTR=…, ATTR!=…, ranges, globs, ;)") {
    val conds = Filters.parseFilterFunction("LENGTH=100-200;NAME=C*;ROAD_TYPE!=2")
    assert(conds == Seq(
      Filters.AttrCond("LENGTH", discrete = false, include = Seq("100-200")),
      Filters.AttrCond("NAME", discrete = true, include = Seq("C*")),
      Filters.AttrCond("ROAD_TYPE", discrete = true, exclude = Seq("2"))))
    assert(Filters.parseFilterFunction("GRID_CODE=61,81,82") ==
      Seq(Filters.AttrCond("GRID_CODE", discrete = true,
        include = Seq("61", "81", "82"))))
  }

  test("full catalog run: CSVs + shapefiles -> SMOKE files + SRGDESC") {
    val dir = graft.Scratch.dir("srgtoolcsv")
    val out = dir.resolve("output")
    def write(name: String, text: String): Unit =
      Files.write(dir.resolve(name), text.getBytes("UTF-8"))

    // layers: counties + tracts as REAL shapefiles, points as parquet
    Shapefile.writePolygons(TpchGeo.counties(spark), dir.resolve("counties").toString,
      "geom", Seq(Shapefile.DbfCol("fips", 'C', 5)))
    Shapefile.writePolygons(TpchGeo.tracts(spark, sfDir), dir.resolve("tracts").toString,
      "geom", Seq(Shapefile.DbfCol("p_partkey", 'N', 12), Shapefile.DbfCol("p_size", 'N', 8)))
    TpchGeo.points(spark, sfDir).write.mode("overwrite")
      .parquet(dir.resolve("points.parquet").toString)

    write("control_variables.csv",
      """VARIABLE,VALUE,DESCRIPTION
        |GENERATION CONTROL FILE,./surrogate_generation.csv,gen list
        |SURROGATE SPECIFICATION FILE,./surrogate_specification.csv,spec
        |SHAPEFILE CATALOG,./shapefile_catalog.csv,catalog
        |SURROGATE CODE FILE,./surrogate_codes.csv,codes
        |OUTPUT_GRID_NAME,TEST8,grid
        |GRIDDESC,./GRIDDESC.txt,griddesc
        |OUTPUT DIRECTORY,./output,out
        |DENOMINATOR_THRESHOLD,0.00001,threshold
        |""".stripMargin)
    write("shapefile_catalog.csv",
      """SHAPEFILE NAME,DIRECTORY,ELLIPSOID,PROJECTION,DESCRIPTION
        |counties,.,"+a=6370997.0,+b=6370997.0","proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97",counties
        |tracts,.,"+a=6370997.0,+b=6370997.0","proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97",tracts
        |points,.,"+a=6370997.0,+b=6370997.0","proj=lcc,+lat_1=33,+lat_2=45,+lat_0=40,+lon_0=-97",points
        |""".stripMargin)
    write("surrogate_codes.csv",
      """#CODE,NAME
        |#SRGDESC=100,Population
        |#SRGDESC=120,Tract Size
        |#SRGDESC=125,Tract Size Doubled
        |#SRGDESC=140,Mixed
        |#SRGDESC=150,Concat
        |""".stripMargin)
    write("surrogate_specification.csv",
      """REGION,SURROGATE,SURROGATE CODE,DATA SHAPEFILE,DATA ATTRIBUTE,WEIGHT SHAPEFILE,WEIGHT ATTRIBUTE,WEIGHT FUNCTION,FILTER FUNCTION,MERGE FUNCTION,SECONDARY SURROGATE,TERTIARY SURROGATE,QUARTERNARY SURROGATE,DETAILS
        |USA,Population,100,counties,fips,points,NONE,,,,,,,page count
        |USA,Tract Size,120,counties,fips,tracts,p_size,,p_size=10-40,,,,,tract p_size
        |USA,Tract Size Doubled,125,counties,fips,tracts,,2*p_size,p_size=10-40,,,,,function twin
        |USA,Mixed,140,counties,fips,,,,,0.5*Population+0.5*Tract Size,Population,,,merged
        |USA,Concat,150,counties,fips,,,,,Population;Tract Size,,,,concat
        |""".stripMargin)
    write("surrogate_generation.csv",
      """REGION,SURROGATE,SURROGATE CODE,GENERATE,QUALITY ASSURANCE
        |USA,Population,100,YES,YES
        |USA,Tract Size,120,YES,YES
        |USA,Tract Size Doubled,125,YES,YES
        |USA,Mixed,140,YES,YES
        |USA,Concat,150,YES,YES
        |""".stripMargin)
    write("GRIDDESC.txt",
      """! coords
        |'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'TEST8'
        |'LAM', 0, 0, 1000, 1000, 8, 8, 1
        |' '""".stripMargin)

    val result = SrgToolCsv.run(spark, dir.resolve("control_variables.csv").toString,
      TpchGeo.domain, TpchGeo.zres)

    // SRGDESC + one SMOKE file per code
    val srgdesc = new String(Files.readAllBytes(out.resolve("SRGDESC.txt")), "UTF-8")
    Seq(100, 120, 125, 140, 150).foreach { c =>
      assert(srgdesc.contains(s"$c,"), s"SRGDESC missing $c:\n$srgdesc")
      assert(Files.exists(out.resolve(s"srg_$c.txt")), s"missing srg_$c.txt")
    }
    assert(srgdesc.contains("Population") && srgdesc.contains("Mixed"))

    // 2*p_size scales numerator and denominator identically -> same fracs
    def fracs(c: Int): Map[(String, Int, Int), Double] =
      result.srg(c).collect().map(r => (r.getAs[String]("fips"),
        r.getAs[Int]("col"), r.getAs[Int]("row")) -> r.getAs[Double]("frac")).toMap
    val f120 = fracs(120); val f125 = fracs(125)
    assert(f120.nonEmpty && f120.keySet == f125.keySet)
    f120.foreach { case (k, v) => assert(math.abs(v - f125(k)) < 1e-12, s"$k") }

    // concat = union of 100 and 120 under code 150
    assert(result.srg(150).count() ==
      result.srg(100).count() + result.srg(120).count())
    assert(result.srg(150).select("srg_code").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(150))

    // merged surrogate is normalized: every county sums to ~1
    val sums = result.srg(140).groupBy("fips")
      .agg(org.apache.spark.sql.functions.sum("frac").as("s"))
      .collect().map(_.getAs[Double]("s"))
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9))

    // SMOKE file round-trips through the parser
    val back = graft.io.Smoke.parse(spark,
      spark.read.textFile(out.resolve("srg_100.txt").toString))
    assert(back.count() > 0)
  }

  test("NAD83 catalog: lat-lon layers reproject through ellipsoidal LCC") {
    import graft.grid.{Ellipsoid, Ellipsoidal, Proj}
    import graft.operators.Reproject
    val lccE = Ellipsoidal.LccE(33, 45, 40, -97, Ellipsoid.GRS80)

    def writeRun(dir: java.nio.file.Path, catalogProj: String,
                 outputEllipsoid: String, planar: Boolean): Unit = {
      def write(name: String, text: String): Unit =
        Files.write(dir.resolve(name), text.getBytes("UTF-8"))
      val counties = TpchGeo.counties(spark)
      val points = TpchGeo.points(spark, sfDir)
      // the NAD83 twin stores every layer in geographic NAD83 coordinates;
      // the tool must CONVERT_SHAPE them back through ellipsoidal LCC
      val (cn, pt) =
        if (planar) (counties, points)
        else (Reproject.polygons(counties, lccE, Proj.LatLon),
              Reproject.points(points, lccE, Proj.LatLon))
      Shapefile.writePolygons(cn, dir.resolve("counties").toString,
        "geom", Seq(Shapefile.DbfCol("fips", 'C', 5)))
      pt.write.mode("overwrite").parquet(dir.resolve("points.parquet").toString)
      write("control_variables.csv",
        s"""VARIABLE,VALUE,DESCRIPTION
           |GENERATION CONTROL FILE,./surrogate_generation.csv,gen list
           |SURROGATE SPECIFICATION FILE,./surrogate_specification.csv,spec
           |SHAPEFILE CATALOG,./shapefile_catalog.csv,catalog
           |SURROGATE CODE FILE,./surrogate_codes.csv,codes
           |OUTPUT_GRID_NAME,TEST8,grid
           |GRIDDESC,./GRIDDESC.txt,griddesc
           |OUTPUT_FILE_ELLIPSOID,$outputEllipsoid,datum
           |""".stripMargin)
      write("shapefile_catalog.csv",
        s"""SHAPEFILE NAME,DIRECTORY,ELLIPSOID,PROJECTION,DESCRIPTION
           |counties,.,"+datum=NAD83","$catalogProj",counties
           |points,.,"+datum=NAD83","$catalogProj",points
           |""".stripMargin)
      write("surrogate_codes.csv", "#CODE,NAME\n#SRGDESC=100,Population\n")
      write("surrogate_specification.csv",
        """REGION,SURROGATE,SURROGATE CODE,DATA SHAPEFILE,DATA ATTRIBUTE,WEIGHT SHAPEFILE,WEIGHT ATTRIBUTE,WEIGHT FUNCTION,FILTER FUNCTION,MERGE FUNCTION,SECONDARY SURROGATE,TERTIARY SURROGATE,QUARTERNARY SURROGATE,DETAILS
          |USA,Population,100,counties,fips,points,NONE,,,,,,,page count
          |""".stripMargin)
      write("surrogate_generation.csv",
        """REGION,SURROGATE,SURROGATE CODE,GENERATE,QUALITY ASSURANCE
          |USA,Population,100,YES,YES
          |""".stripMargin)
      // grid is the SAME TEST8 window, declared as NAD83 LCC via
      // OUTPUT_FILE_ELLIPSOID
      write("GRIDDESC.txt",
        """! coords
          |'LAM'
          |2, 33, 45, -97, -97, 40
          |' '
          |'TEST8'
          |'LAM', 0, 0, 1000, 1000, 8, 8, 1
          |' '""".stripMargin)
    }

    def fracs(r: SrgTool.Result): Map[(String, Int, Int), Double] =
      r.srg(100).collect().map(row => (row.getAs[String]("fips"),
        row.getAs[Int]("col"), row.getAs[Int]("row")) -> row.getAs[Double]("frac")).toMap

    val dPlanar = graft.Scratch.dir("srgnad83_planar")
    writeRun(dPlanar, "", "+datum=NAD83", planar = true)
    val rPlanar = SrgToolCsv.run(spark,
      dPlanar.resolve("control_variables.csv").toString, TpchGeo.domain, TpchGeo.zres)

    val dNad = graft.Scratch.dir("srgnad83_ll")
    writeRun(dNad, "proj=latlong", "+datum=NAD83", planar = false)
    val rNad = SrgToolCsv.run(spark,
      dNad.resolve("control_variables.csv").toString, TpchGeo.domain, TpchGeo.zres)

    val a = fracs(rPlanar); val b = fracs(rNad)
    assert(a.nonEmpty && a.keySet == b.keySet,
      s"cells differ: ${(a.keySet diff b.keySet) ++ (b.keySet diff a.keySet)}")
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9, s"$k: $v vs ${b(k)}") }
  }

  test("a generation list with every row at GENERATE=NO is rejected as empty") {
    val dir = graft.Scratch.dir("srgtoolcsv_empty")
    def write(name: String, text: String): Unit =
      Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    write("control_variables.csv",
      """VARIABLE,VALUE,DESCRIPTION
        |GENERATION CONTROL FILE,./surrogate_generation.csv,gen list
        |SURROGATE SPECIFICATION FILE,./surrogate_specification.csv,spec
        |SHAPEFILE CATALOG,./shapefile_catalog.csv,catalog
        |SURROGATE CODE FILE,./surrogate_codes.csv,codes
        |OUTPUT_GRID_NAME,TEST8,grid
        |GRIDDESC,./GRIDDESC.txt,griddesc
        |""".stripMargin)
    write("shapefile_catalog.csv",
      """SHAPEFILE NAME,DIRECTORY,ELLIPSOID,PROJECTION,DESCRIPTION
        |counties,.,,,counties
        |points,.,,,points
        |""".stripMargin)
    write("surrogate_codes.csv", "#CODE,NAME\n#SRGDESC=100,Population\n")
    write("surrogate_specification.csv",
      """REGION,SURROGATE,SURROGATE CODE,DATA SHAPEFILE,DATA ATTRIBUTE,WEIGHT SHAPEFILE,WEIGHT ATTRIBUTE,WEIGHT FUNCTION,FILTER FUNCTION,MERGE FUNCTION,SECONDARY SURROGATE,TERTIARY SURROGATE,QUARTERNARY SURROGATE,DETAILS
        |USA,Population,100,counties,fips,points,NONE,,,,,,,page count
        |""".stripMargin)
    write("surrogate_generation.csv",
      """REGION,SURROGATE,SURROGATE CODE,GENERATE,QUALITY ASSURANCE
        |USA,Population,100,NO,YES
        |""".stripMargin)
    write("GRIDDESC.txt",
      """! coords
        |'LAM'
        |2, 33, 45, -97, -97, 40
        |' '
        |'TEST8'
        |'LAM', 0, 0, 1000, 1000, 8, 8, 1
        |' '""".stripMargin)
    val e = intercept[IllegalArgumentException](SrgToolCsv.run(spark,
      dir.resolve("control_variables.csv").toString, TpchGeo.domain, TpchGeo.zres))
    assert(e.getMessage.contains("empty catalog"), e.getMessage)
  }
}
