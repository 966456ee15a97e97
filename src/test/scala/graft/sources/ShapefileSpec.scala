package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.geom.Geo.BBox

/** Shapefile/DBF binary I/O: a hand-assembled byte golden (independent of
  * the writer), writer↔reader round trips, the bbox window, and the full
  * polySurrogate pipeline fed from a .shp/.dbf pair. */
class ShapefileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("shp-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpBase(name: String): String =
    graft.Scratch.dir("shpspec").resolve(name).toString

  /** Hand-build a one-polygon shapefile (unit square 0..10, ESRI clockwise,
    * closed) + a dbf with one N(0) field and one C field — bytes composed
    * here from the public spec, NOT via Shapefile.write. */
  private def goldenPolygonBytes(base: String): Unit = {
    // content: type(4) + bbox(32) + numParts(4) + numPoints(4) + parts(4) + 5 pts(80)
    val content = 4 + 32 + 4 + 4 + 4 + 80
    val total = 100 + 8 + content
    val b = ByteBuffer.allocate(total)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994); b.putInt(24, total / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000); b.putInt(32, 5)
    b.putDouble(36, 0); b.putDouble(44, 0); b.putDouble(52, 10); b.putDouble(60, 10)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(100, 1); b.putInt(104, content / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    val cs = 108
    b.putInt(cs, 5)
    b.putDouble(cs + 4, 0); b.putDouble(cs + 12, 0)
    b.putDouble(cs + 20, 10); b.putDouble(cs + 28, 10)
    b.putInt(cs + 36, 1); b.putInt(cs + 40, 5)
    b.putInt(cs + 44, 0)
    // clockwise closed ring: (0,0) (0,10) (10,10) (10,0) (0,0)
    val pts = Array(0.0, 0, 0, 10, 10, 10, 10, 0, 0, 0)
    var off = cs + 48
    pts.foreach { v => b.putDouble(off, v); off += 8 }
    Files.write(Paths.get(base + ".shp"), b.array())

    // dbf: fields POP N(8,0), NAME C(6); one record (42, "ward")
    val headerSize = 32 + 32 * 2 + 1
    val recSize = 1 + 8 + 6
    val d = ByteBuffer.allocate(headerSize + recSize + 1).order(ByteOrder.LITTLE_ENDIAN)
    d.put(0, 0x03.toByte); d.putInt(4, 1)
    d.putShort(8, headerSize.toShort); d.putShort(10, recSize.toShort)
    val n1 = "POP".getBytes("US-ASCII")
    n1.indices.foreach(i => d.put(32 + i, n1(i)))
    d.put(32 + 11, 'N'.toByte); d.put(32 + 16, 8.toByte); d.put(32 + 17, 0.toByte)
    val n2 = "NAME".getBytes("US-ASCII")
    n2.indices.foreach(i => d.put(64 + i, n2(i)))
    d.put(64 + 11, 'C'.toByte); d.put(64 + 16, 6.toByte)
    d.put(96, 0x0d.toByte)
    val rec = " " + "      42" + "ward  "
    val rb = rec.getBytes("US-ASCII")
    rb.indices.foreach(i => d.put(97 + i, rb(i)))
    d.put(97 + recSize, 0x1a.toByte)
    Files.write(Paths.get(base + ".dbf"), d.array())
  }

  test("golden bytes: polygon + typed DBF attributes parse correctly") {
    val base = tmpBase("golden")
    goldenPolygonBytes(base)
    val df = Shapefile.read(spark, base)
    assert(df.columns.toSeq == Seq("rid", "geom", "POP", "NAME"))
    val r = df.collect().head
    assert(r.getAs[Int]("rid") == 1)
    assert(r.getAs[Long]("POP") == 42L)
    assert(r.getAs[String]("NAME") == "ward")
    val rings = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom")
    assert(rings.length == 1)
    // closing duplicate dropped, ESRI-CW flipped to engine-CCW (positive area)
    val flat = rings.head.toArray
    assert(flat.length == 8)
    assert(graft.geom.Geo.signedArea(flat) == 100.0)
  }

  test("polygon writer/reader round trip preserves rings and attrs") {
    import spark.implicits._
    val src = Seq(
      (1L, 7L, Seq(Seq(0.0, 0, 4, 0, 4, 4, 0, 4))),
      // square with a CW hole (engine convention)
      (2L, 9L, Seq(Seq(10.0, 10, 20, 10, 20, 20, 10, 20),
                   Seq(12.0, 12, 12, 14, 14, 14, 14, 12)))
    ).toDF("id", "w", "geom")
    val base = tmpBase("round")
    Shapefile.writePolygons(src, base, "geom",
      Seq(Shapefile.DbfCol("id", 'N', 10), Shapefile.DbfCol("w", 'N', 10)))
    val back = Shapefile.read(spark, base).orderBy("rid").collect()
    assert(back.length == 2)
    val g2 = back(1).getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("geom")
    assert(g2.map(_.toSeq) ==
      Seq(Seq(10.0, 10, 20, 10, 20, 20, 10, 20), Seq(12.0, 12, 12, 14, 14, 14, 14, 12)))
    assert(back(1).getAs[Long]("w") == 9L)
  }

  test("point and line round trips; N-with-decimals maps to double") {
    import spark.implicits._
    val pts = Seq((5L, 1.5, 2.25), (6L, -3.0, 4.0)).toDF("sid", "x", "y")
    val pb = tmpBase("pts")
    Shapefile.writePoints(pts, pb, "x", "y",
      Seq(Shapefile.DbfCol("sid", 'N', 10), Shapefile.DbfCol("x", 'N', 12, 4)))
    val backP = Shapefile.read(spark, pb).orderBy("rid").collect()
    assert(backP(0).getAs[Double]("x") == 1.5 && backP(0).getAs[Double]("y") == 2.25)
    assert(backP(1).getAs[Double]("x") == -3.0)
    // the N(12,4) copy of x parses as double
    assert(backP(0).schema("x").dataType.typeName == "double")

    val lns = Seq((1L, Seq(0.0, 1, 10, 1)), (2L, Seq(5.0, 5, 5, 9, 8, 9))).toDF("rid0", "line")
    val lb = tmpBase("lns")
    Shapefile.writeLines(lns, lb, "line", Seq(Shapefile.DbfCol("rid0", 'N', 10)))
    val backL = Shapefile.read(spark, lb).orderBy("rid").collect()
    assert(backL(0).getAs[scala.collection.Seq[Double]]("line") == Seq(0.0, 1, 10, 1))
    assert(backL(1).getAs[scala.collection.Seq[Double]]("line") == Seq(5.0, 5, 5, 9, 8, 9))
  }

  test("property: random multi-ring polygons round-trip bit-exactly") {
    import spark.implicits._
    var seed = 0xabcdefL
    def next(): Double = {
      seed = graft.text.TextHash.mix64(seed)
      (seed >>> 11).toDouble / (1L << 53).toDouble * 1000.0
    }
    // 40 polygons: CCW outer rect + a CW hole, arbitrary double coords
    val src = (0 until 40).map { i =>
      val x0 = next(); val y0 = next(); val w = next() / 10 + 1; val h = next() / 10 + 1
      val outer = Seq(x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h)
      val hole = Seq(x0 + w / 4, y0 + h / 4, x0 + w / 4, y0 + h / 2,
                     x0 + w / 2, y0 + h / 2, x0 + w / 2, y0 + h / 4)
      (i.toLong, Seq(outer, hole))
    }.toDF("id", "geom")
    val base = tmpBase("prop")
    Shapefile.writePolygons(src, base, "geom", Seq(Shapefile.DbfCol("id", 'N', 10)))
    val back = Shapefile.read(spark, base)
      .select("id", "geom").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](1).map(_.toSeq))
      .toMap
    val orig = src.collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](1).map(_.toSeq))
      .toMap
    assert(back == orig, "IEEE doubles must survive the binary round trip untouched")
  }

  test("dbf2asc dumps the attribute table as CSV") {
    val base = tmpBase("golden2")
    goldenPolygonBytes(base)
    assert(Shapefile.dbfToCsv(base) == Seq("POP,NAME", "42,ward"))
  }

  test("fractionalVeg reads a landuse-fraction CSV with x/y doubles") {
    val f = graft.Scratch.dir("veg").resolve("veg.csv")
    java.nio.file.Files.write(f,
      "x,y,forest,water\n100,200,0.25,0.5\n300,400,0.75,0.0\n".getBytes("UTF-8"))
    val df = Sources.fractionalVeg(spark, f.toString)
    assert(df.count() == 2)
    val r = df.orderBy("x").collect().head
    assert(r.getAs[Double]("x") == 100.0 && r.getAs[Double]("forest") == 0.25)
  }

  test("bbox window skips non-intersecting shapes during scan") {
    import spark.implicits._
    val src = Seq(
      (1L, Seq(Seq(0.0, 0, 4, 0, 4, 4, 0, 4))),
      (2L, Seq(Seq(100.0, 100, 104, 100, 104, 104, 100, 104)))
    ).toDF("id", "geom")
    val base = tmpBase("win")
    Shapefile.writePolygons(src, base, "geom", Seq(Shapefile.DbfCol("id", 'N', 10)))
    val windowed = Shapefile.read(spark, base, Some(BBox(0, 0, 50, 50)))
    assert(windowed.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("polySurrogate fed from a .shp/.dbf pair matches the in-memory path") {
    import graft.fixtures.TpchGeo
    val sf = graft.TestData.sf("0.001")
    val tracts = TpchGeo.tracts(spark, sf)
    val base = tmpBase("tracts")
    Shapefile.writePolygons(tracts, base, "geom",
      Seq(Shapefile.DbfCol("p_partkey", 'N', 12), Shapefile.DbfCol("p_size", 'N', 8)))
    val viaShp = graft.operators.Surrogate.polySurrogate(
      Shapefile.read(spark, base), TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 120, Some("p_size"))
    val direct = graft.operators.Surrogate.polySurrogate(
      tracts, TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 120, Some("p_size"))
    val a = viaShp.collect().map(_.toString).sorted.toSeq
    val b = direct.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("writer guard fails fast: limit runs BEFORE collect") {
    import spark.implicits._
    // 100M lazily-generated rows: if the guard collected first this would
    // OOM/stall; limit-first means only max+1 rows ever materialize
    val huge = spark.range(100000000L).toDF("id")
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      Shapefile.guardedCollect(huge, "spec", max = 5)
    }
    assert(e.getMessage.contains("> 5 rows"))
    assert((System.nanoTime() - t0) / 1e9 < 30.0,
      "guard must not materialize the full DataFrame")
    // at-the-limit succeeds
    assert(Shapefile.guardedCollect(huge.limit(5), "spec", max = 5).length == 5)
  }

  test("DBF writer rejects >10-byte and duplicate field names") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a_very_long_name", "b")
    val base = tmpBase("badnames")
    val e1 = intercept[IllegalArgumentException] {
      Shapefile.writePoints(df.withColumn("x", lit(0.0)).withColumn("y", lit(0.0)),
        base, "x", "y", Seq(Shapefile.DbfCol("a_very_long_name", 'N', 10)))
    }
    assert(e1.getMessage.contains("10-byte"))
    val e2 = intercept[IllegalArgumentException] {
      Shapefile.writePoints(df.withColumn("x", lit(0.0)).withColumn("y", lit(0.0)),
        base, "x", "y",
        Seq(Shapefile.DbfCol("b", 'N', 10), Shapefile.DbfCol("b", 'N', 8)))
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("lenient DBF numeric parse: '42.' and overflow degrade, not crash") {
    // hand-build a dbf with one N(20,0) field and three records:
    // '42.' (foreign integral-with-dot), a 20-digit overflow, plain '7'
    val base = tmpBase("lenient")
    val headerSize = 32 + 32 + 1
    val recSize = 1 + 20
    val vals = Seq("42.", "99999999999999999999", "7")
    val d = ByteBuffer.allocate(headerSize + recSize * 3 + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    d.put(0, 0x03.toByte); d.putInt(4, 3)
    d.putShort(8, headerSize.toShort); d.putShort(10, recSize.toShort)
    val nm = "VAL".getBytes("US-ASCII")
    nm.indices.foreach(i => d.put(32 + i, nm(i)))
    d.put(32 + 11, 'N'.toByte); d.put(32 + 16, 20.toByte); d.put(32 + 17, 0.toByte)
    d.put(64, 0x0d.toByte)
    vals.zipWithIndex.foreach { case (v, r) =>
      val off = headerSize + r * recSize
      d.put(off, ' '.toByte)
      val padded = " " * (20 - v.length) + v
      padded.getBytes("US-ASCII").zipWithIndex.foreach { case (bb, i) =>
        d.put(off + 1 + i, bb) }
    }
    d.put(headerSize + recSize * 3, 0x1a.toByte)
    Files.write(Paths.get(base + ".dbf"), d.array())
    // pair it with a 3-point shp so read() attaches the attributes
    import spark.implicits._
    val pts = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y")
    val shpSrc = tmpBase("lenient_shp")
    Shapefile.writePoints(pts, shpSrc, "x", "y", Nil)
    Files.copy(Paths.get(shpSrc + ".shp"), Paths.get(base + ".shp"))
    val got = Shapefile.read(spark, base).orderBy("rid")
      .select("VAL").collect().map(r => Option(r.get(0)))
    // '42.' degrades via the double path; 20 nines saturate to Long.MaxValue
    assert(got.toSeq == Seq(Some(42L), Some(Long.MaxValue), Some(7L)))
  }
}
