package graft.io

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.grid.GridCatalog

/** Golden-string parity with the reference's fprintf formats
  * (surrogate.c:436-519, allocate.c:794-812). */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").appName("smoke-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("header matches the reference #GRID format") {
    val h = Smoke.header(GridCatalog.M08_NASH, Smoke.ProjInfo())
    assert(h == "#GRID\tM08_NASH\t540000.000000\t-168000.000000\t8000.000000" +
      "\t8000.000000\t45\t66\t1\tLAMBERT\tmeters\t30.000000\t60.000000" +
      "\t-100.000000\t-100.000000\t40.000000")
    assert(Smoke.parseHeader(h) == GridCatalog.M08_NASH)
  }

  test("ratioPoly and toLinesPoly agree on lexicographic out_id order") {
    val s = spark
    import s.implicits._
    // ids 2 and 10: numeric order would put 2 first, string order "10" < "2";
    // if the two disagreed, the county's last rendered row would not carry
    // the total and a spurious #REMAINDER would appear
    val numer = Seq(("A", 10, 1.0), ("A", 2, 3.0)).toDF("fips", "out_id", "numer")
    val denom = Seq(("A", 4.0)).toDF("fips", "denom")
    val srg = graft.operators.Surrogate.ratioPoly(numer, denom, 170)
    // rows sorted by numeric id; the qasum values carry the string order
    val rows = srg.collect().map(r =>
      (r.getAs[Int]("out_id"), r.getAs[Double]("frac"), r.getAs[Double]("qasum")))
      .sortBy(_._1)
    assert(rows.toSeq == Seq((2, 0.75, 1.0), (10, 0.25, 0.25)))
    // toLines renders polygon output when the table has an out_id column
    val lines = Smoke.toLines(srg)
    assert(!lines.exists(_.startsWith("#REMAINDER")), lines.mkString("\n"))
  }

  test("toLinesPoly renders polygon-output lines, remainder id 0, skipped prefix") {
    val s = spark
    import s.implicits._
    // county A: two output polys summing to 0.75 → remainder 0.25 with id 0
    // county B: below-threshold denominator → #SKIPPED prefix
    val srg = Seq(
      (170, "A", "12", 0.5, 2.0, 4.0, 0.5),
      (170, "A", "34", 0.25, 1.0, 4.0, 0.75),
      (170, "B", "12", 1.0, 1e-7, 1e-7, 1.0)
    ).toDF("srg_code", "fips", "out_id", "frac", "numer", "denom", "qasum")
    // toLines renders polygon output when the table has an out_id column
    val lines = Smoke.toLines(srg).sorted
    assert(lines.exists(_.startsWith("  170\tA\t12\t0.50000000\t!")))
    assert(lines.exists(_.startsWith("#REMAINDER   170\tA\t0\t0.25000000\t!")))
    assert(lines.exists(_.startsWith("#SKIPPED   170\tB\t12\t1.00000000\t!")))
  }

  test("QaFields append independently like WRITE_SRG_NUMERATOR/DENOMINATOR/QASUM") {
    val s = spark
    import s.implicits._
    val srg = Seq((100, "A", 1, 1, 0.5, 2.0, 4.0, 0.5))
      .toDF("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")
    def line(f: Smoke.QaFields) =
      Smoke.toLines(srg, fields = f).head
    assert(line(Smoke.QaFields.All).endsWith("\t!\t2.000000\t4.000000\t0.500000"))
    // qasum only: numerator/denominator fields are EMPTY, not zero
    assert(line(Smoke.QaFields(false, false, true)).endsWith("0.50000000\t!\t0.500000"))
    assert(line(Smoke.QaFields(true, false, false)).endsWith("0.50000000\t!\t2.000000"))
    // all off: no comment at all
    assert(Smoke.toLines(srg, fields = Smoke.QaFields.None).head
      .endsWith("0.50000000"))
  }

  test("header tag tracks the output type; parseHeader accepts all three") {
    import graft.grid.GridSpec
    val g = GridSpec("T", 0, 0, 1000, 1000, 2, 2)
    val p = Smoke.ProjInfo()
    assert(Smoke.header(g, p).startsWith("#GRID\tT\t"))
    assert(Smoke.header(g, p, "#VARIABLE_GRID").startsWith("#VARIABLE_GRID\tT\t"))
    assert(Smoke.header(g, p, "#POLYGON").startsWith("#POLYGON\tT\t"))
    Seq("#GRID", "#VARIABLE_GRID", "#POLYGON").foreach { tag =>
      assert(Smoke.parseHeader(Smoke.header(g, p, tag)) == g)
    }
  }

  test("the default coordinate system renders SMOKE's default #GRID projection") {
    assert(Smoke.projInfoFor(graft.sources.GridDesc.CoordSys.Default) == Smoke.ProjInfo())
  }

  test("projInfoFor maps GRIDDESC ctypes like allocate.c's cname table") {
    import graft.sources.GridDesc.CoordSys
    val lcc = Smoke.projInfoFor(CoordSys("LAM", 2, 33, 45, -97, -97, 40))
    assert(lcc == Smoke.ProjInfo("LAMBERT", "meters", 33, 45, -97, -97, 40))
    val ll = Smoke.projInfoFor(CoordSys("LL", 1, 0, 0, 0, 0, 0))
    assert(ll.name == "LAT-LON" && ll.units == "degrees")
    // POLGRD3 writes (gamma, alpha, beta) — allocate.c:791-810
    val pol = Smoke.projInfoFor(CoordSys("POL", 6, 1, 2, 3, -98, 90))
    assert(pol == Smoke.ProjInfo("POLGRD3", "meters", 3, 1, 2, -98, 90))
  }

  test("data / remainder / skipped rows render and round-trip") {
    import spark.implicits._
    // county 47001 sums to 0.75 → remainder; 47002 below threshold → skipped
    val srg = Seq(
      (100, "47001", 2, 1, 0.5,  5.0, 10.0, 0.5),
      (100, "47001", 1, 2, 0.25, 2.5, 10.0, 0.75),
      (100, "47002", 1, 1, 1.0,  1e-7, 1e-7, 1.0)
    ).toDF("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")

    val lines = Smoke.toLines(srg).sorted.toSeq
    assert(lines.contains(
      "  100\t47001\t    2\t    1\t0.50000000\t!\t5.000000\t10.000000\t0.500000"))
    assert(lines.contains(
      "#REMAINDER   100\t47001\t    0\t    0\t0.25000000\t!\t2.500000\t10.000000\t0.250000"))
    assert(lines.count(_.startsWith("#SKIPPED")) == 1)

    // parse drops comment rows, returns the data rows
    val back = Smoke.parse(spark, spark.createDataset(lines))
    assert(back.count() == 2)
    val r = back.where("col = 2").collect().head
    assert(r.getAs[Double]("frac") == 0.5 && r.getAs[Double]("denom") == 10.0)
  }

  // the title keeps the name of a removed distributed writer; the case
  // drives the file sink
  test("distributed writeParts round-trips through Smoke.parse") {
    import spark.implicits._
    val srg = graft.operators.Surrogate.pointSurrogate(
      graft.fixtures.TpchGeo.points(spark, graft.TestData.sf("0.001")),
      graft.fixtures.TpchGeo.counties(spark),
      graft.fixtures.TpchGeo.grid, graft.fixtures.TpchGeo.domain,
      graft.fixtures.TpchGeo.zres, 100)
    val f = graft.Scratch.dir("smokeparts").resolve("srg.txt").toString
    Smoke.write(srg, GridCatalog.TEST8, Smoke.ProjInfo(), f)

    val back = Smoke.parse(spark, spark.read.textFile(f))
    assert(back.count() == srg.count())
    val a = srg.select("srg_code", "fips", "col", "row", "frac")
      .orderBy("fips", "row", "col").collect().map(_.toString).toSeq
    // parsed fracs round-trip through %10.8f — compare at that precision
    val b = back.select("srg_code", "fips", "col", "row", "frac")
      .orderBy("fips", "row", "col").collect().map(_.toString).toSeq
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) =>
      assert(x.split(",").take(4).sameElements(y.split(",").take(4)), s"$x vs $y")
    }
    assert(Smoke.parseHeader(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(f)).get(0)) == GridCatalog.TEST8)
  }

  test("write flushes #REMAINDER after its county's data rows (surrogate.c order)") {
    import spark.implicits._
    val srg = Seq(
      (100, "47001", 2, 1, 0.5,  5.0, 10.0, 0.5),
      (100, "47001", 1, 2, 0.25, 2.5, 10.0, 0.75),
      (100, "47002", 1, 1, 1.0,  4.0, 4.0, 1.0)
    ).toDF("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")
    val f = graft.Scratch.dir("srgrem").resolve("srgrem.txt").toString
    Smoke.write(srg, GridCatalog.TEST8, Smoke.ProjInfo(), f)
    val ls = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
    val body = (1 until ls.size).map(ls.get)
    val remIdx = body.indexWhere(_.startsWith("#REMAINDER"))
    val lastData47001 = body.lastIndexWhere(l => !l.startsWith("#") && l.contains("47001"))
    assert(remIdx > lastData47001, body.mkString("\n"))
    assert(remIdx < body.indexWhere(_.contains("47002")))
  }

  test("write owns the row order: scrambled input, same bytes") {
    import org.apache.spark.sql.functions.desc
    val s = spark
    import s.implicits._
    def bytes(path: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    def tmp(name: String) = graft.Scratch.dir(name).resolve(s"$name.txt").toString
    def scramble(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.repartition(5).sortWithinPartitions(cols.map(desc): _*)
    // 47001: Σfrac 0.75 → #REMAINDER; 47003: denominator below the
    // threshold → #SKIPPED; 47002 sums to 1
    val grid = Seq(
      (100, "47001", 1, 1, 0.25, 1.0, 4.0, 0.25),
      (100, "47001", 2, 1, 0.25, 1.0, 4.0, 0.5),
      (100, "47001", 1, 2, 0.25, 1.0, 4.0, 0.75),
      (100, "47002", 3, 3, 0.5, 2.0, 4.0, 0.5),
      (100, "47002", 2, 4, 0.5, 2.0, 4.0, 1.0),
      (100, "47003", 5, 5, 0.5, 1e-7, 2e-7, 0.5),
      (100, "47003", 6, 5, 0.5, 1e-7, 2e-7, 1.0)
    ).toDF("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")
    val (g1, g2) = (tmp("srg-in"), tmp("srg-scrambled"))
    Smoke.write(grid, GridCatalog.TEST8, Smoke.ProjInfo(), g1)
    Smoke.write(scramble(grid, "fips", "row"), GridCatalog.TEST8, Smoke.ProjInfo(), g2)
    val gl = new String(bytes(g1), "UTF-8")
    assert(gl.contains("#REMAINDER") && gl.contains("#SKIPPED"), gl)
    assert(bytes(g1).sameElements(bytes(g2)), gl)

    val poly = polyTable
    val (p1, p2) = (tmp("srgpoly-in"), tmp("srgpoly-scrambled"))
    Smoke.write(poly, GridCatalog.TEST8, Smoke.ProjInfo(), p1, headerTag = "#POLYGON")
    Smoke.write(scramble(poly, "fips", "out_id"), GridCatalog.TEST8,
      Smoke.ProjInfo(), p2, headerTag = "#POLYGON")
    val pl = new String(bytes(p1), "UTF-8")
    assert(pl.contains("#REMAINDER") && pl.contains("#SKIPPED"), pl)
    assert(bytes(p1).sameElements(bytes(p2)), pl)
  }

  // polygon output: 47001 sums to 0.5 → #REMAINDER with id 0; 47003's
  // denominator is below the threshold → #SKIPPED; ids order as strings
  private def polyTable = {
    val s = spark
    import s.implicits._
    Seq(
      (170, "47001", "2", 0.25, 1.0, 4.0, 0.5),
      (170, "47001", "10", 0.25, 1.0, 4.0, 0.25),
      (170, "47002", "7", 1.0, 4.0, 4.0, 1.0),
      (170, "47003", "12", 0.5, 1e-7, 2e-7, 0.5),
      (170, "47003", "3", 0.5, 1e-7, 2e-7, 1.0)
    ).toDF("srg_code", "fips", "out_id", "frac", "numer", "denom", "qasum")
  }

  private val polyBody = Seq(
    "  170\t47001\t10\t0.25000000\t!\t1.000000\t4.000000\t0.250000",
    "  170\t47001\t2\t0.25000000\t!\t1.000000\t4.000000\t0.500000",
    "#REMAINDER   170\t47001\t0\t0.50000000\t!\t2.000000\t4.000000\t0.500000",
    "  170\t47002\t7\t1.00000000\t!\t4.000000\t4.000000\t1.000000",
    "#SKIPPED   170\t47003\t12\t0.50000000\t!\t0.000000\t0.000000\t0.500000",
    "#SKIPPED   170\t47003\t3\t0.50000000\t!\t0.000000\t0.000000\t1.000000")

  test("write renders a polygon table as #POLYGON lines (surrogate.c:455-470)") {
    val f = graft.Scratch.dir("srgpoly").resolve("srgpoly.txt").toString
    Smoke.write(polyTable, GridCatalog.TEST8, Smoke.ProjInfo(), f,
      headerTag = "#POLYGON")
    val expected = (Smoke.header(GridCatalog.TEST8, Smoke.ProjInfo(), "#POLYGON")
      +: polyBody).mkString("", "\n", "\n")
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
      "UTF-8") == expected)
  }

  // the title keeps the name of a removed distributed writer
  test("writeParts on a polygon table round-trips its data rows") {
    val out = graft.Scratch.dir("smokepolyparts").resolve("srgpoly.txt").toString
    Smoke.write(polyTable, GridCatalog.TEST8, Smoke.ProjInfo(), out,
      headerTag = "#POLYGON")
    val all = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out))).asScala.toSeq
    val lines = all.tail
    assert(lines == polyBody, lines.mkString("\n"))
    // Smoke.parse reads grid rows only (`col row` targets), so the polygon
    // data rows are split here
    val data = lines.filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(f => (f(0).trim.toInt, f(1), f(2), f(3).toDouble)).toSet
    val live = polyTable.where("denom >= 1e-5").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet
    assert(data == live)
    assert(all.head.startsWith("#POLYGON\tTEST8\t"))
  }

  test("write renders a checkpointed table from one job") {
    val srg = graft.operators.Surrogate.pointSurrogate(
      graft.fixtures.TpchGeo.points(spark, graft.TestData.sf("0.001")),
      graft.fixtures.TpchGeo.counties(spark),
      graft.fixtures.TpchGeo.grid, graft.fixtures.TpchGeo.domain,
      graft.fixtures.TpchGeo.zres, 100).localCheckpoint()
    val f = graft.Scratch.dir("smokejobs").resolve("srg.txt").toString
    val (_, jobs) = graft.Jobs.of(spark)(
      Smoke.write(srg, GridCatalog.TEST8, Smoke.ProjInfo(), f))
    assert(jobs == 1, s"Smoke.write started $jobs jobs")
  }

  test("write produces a deterministically ordered file") {
    import spark.implicits._
    val srg = Seq(
      (100, "47002", 1, 1, 1.0, 4.0, 4.0, 1.0),
      (100, "47001", 2, 1, 1.0, 3.0, 3.0, 1.0)
    ).toDF("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")
    val f = graft.Scratch.dir("srg").resolve("srg.txt").toString
    Smoke.write(srg, GridCatalog.TEST8, Smoke.ProjInfo(), f)
    val ls = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
    assert(ls.get(0).startsWith("#GRID\tTEST8"))
    assert(ls.get(1).contains("47001") && ls.get(2).contains("47002"))
  }

  test("#SKIPPED rows flow end-to-end from the pipeline (surrogate.c:434-452)") {
    import graft.fixtures.TpchGeo
    import graft.operators.Surrogate
    val sf = graft.TestData.sf("0.001")
    // pick a threshold strictly between the smallest and largest county
    // point count so the run has BOTH skipped and kept counties
    val counts = graft.operators.SpatialJoin
      .pointInPoly(TpchGeo.points(spark, sf), TpchGeo.counties(spark),
        TpchGeo.domain, TpchGeo.zres)
      .groupBy("fips").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val thresh = counts.values.min + 0.5
    assert(counts.values.max > thresh, "fixture needs a spread of county sizes")
    val expectSkipped = counts.filter(_._2 < thresh).keySet
    assert(expectSkipped.nonEmpty)

    val srg = Surrogate.pointSurrogate(TpchGeo.points(spark, sf),
      TpchGeo.counties(spark), TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      srgCode = 100, denomThreshold = thresh, keepSkipped = true)
    val f = graft.Scratch.dir("skipped")
      .resolve("srg.txt").toString
    Smoke.write(srg, GridCatalog.TEST8, Smoke.ProjInfo(), f, withQa = true,
      denomThreshold = thresh)

    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))).asScala.toSeq
    val skippedLines = lines.filter(_.startsWith("#SKIPPED "))
    assert(skippedLines.nonEmpty, "file must contain visible #SKIPPED rows")
    // every below-threshold county renders ALL its rows with the prefix;
    // kept counties render none
    val fipsOf = (l: String) =>
      l.replaceAll("^#(SKIPPED|REMAINDER) ", "").split("\t")(1).trim
    assert(skippedLines.map(fipsOf).toSet == expectSkipped)
    val keptData = lines.filter(l => !l.startsWith("#") && l.contains("\t"))
    assert(keptData.map(fipsOf).toSet.intersect(expectSkipped).isEmpty)

    // round trip: the SMOKE reader drops #SKIPPED like the reference's
    // merge/gapfill readers (SurrogateFileReader.java)
    val back = Smoke.parse(spark, spark.read.textFile(f))
    val backFips = back.select("fips").distinct().collect()
      .map(_.getString(0)).toSet
    assert(backFips == counts.keySet -- expectSkipped)
  }
}
