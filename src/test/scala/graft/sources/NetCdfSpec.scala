package graft.sources

import java.io.ByteArrayOutputStream
import java.io.DataOutputStream
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NetCDF._

/** NetCDF-3 classic codec: a hand-assembled byte golden (independent of the
  * writer, straight from the Unidata spec grammar), round trips across
  * CDF-1/CDF-2, record-variable layout including the single-record-var
  * unpadded special case. */
class NetCdfSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    graft.Scratch.dir("ncspec").resolve(name).toString

  /** Build a minimal CDF-1 file byte-by-byte per the spec:
    * dim x=3; :title = "hello"; int v(x) = 7, 8, 9. */
  private def goldenBytes(): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val d = new DataOutputStream(bo)
    def name(s: String): Unit = {
      d.writeInt(s.length); d.writeBytes(s)
      (s.length until ((s.length + 3) / 4) * 4).foreach(_ => d.writeByte(0))
    }
    d.writeBytes("CDF"); d.writeByte(1) // magic
    d.writeInt(0)                       // numrecs
    d.writeInt(0x0A); d.writeInt(1)     // dim_list
    name("x"); d.writeInt(3)
    d.writeInt(0x0C); d.writeInt(1)     // gatt_list
    name("title"); d.writeInt(NC_CHAR); d.writeInt(5)
    d.writeBytes("hello"); (0 until 3).foreach(_ => d.writeByte(0))
    d.writeInt(0x0B); d.writeInt(1)     // var_list
    name("v"); d.writeInt(1); d.writeInt(0) // 1 dim, dim id 0
    d.writeInt(0); d.writeInt(0)        // empty vatt list (ABSENT)
    d.writeInt(NC_INT); d.writeInt(12)  // vsize
    val begin = bo.size() + 4           // begin comes right after itself
    d.writeInt(begin)
    d.writeInt(7); d.writeInt(8); d.writeInt(9)
    bo.toByteArray
  }

  test("golden bytes: hand-assembled CDF-1 parses correctly") {
    val p = tmp("golden.nc")
    Files.write(Paths.get(p), goldenBytes())
    val f = NetCDF.read(p)
    assert(f.dims == Seq(Dim("x", 3)))
    assert(f.att("title").contains("hello"))
    assert(f.vars.map(_.name) == Seq("v"))
    assert(f.data("v").asInstanceOf[Array[Int]].toSeq == Seq(7, 8, 9))
  }

  private def sampleFile: NcFile = {
    val dims = Seq(Dim("t", 0), Dim("x", 3), Dim("pair", 2))
    val gatts = Seq(
      Att("title", "graft sample"),
      Att("ints", Array(1, -2, 3)),
      Att("dbl", Array(3.5, -0.25)),
      Att("flt", Array(1.5f)))
    val vars = Seq(
      Var("fixed_d", NC_DOUBLE, Seq(1), Seq(Att("units", "m"))),
      Var("fixed_s", NC_SHORT, Seq(2), Nil),
      Var("rec_i", NC_INT, Seq(0, 2), Nil),
      Var("rec_f", NC_FLOAT, Seq(0, 1), Nil))
    val data = Map[String, AnyRef](
      "fixed_d" -> Array(1.0, 2.5, -3.25),
      "fixed_s" -> Array[Short](7, -8),
      "rec_i" -> Array(10, 11, 20, 21), // 2 records × pair
      "rec_f" -> Array(0.5f, 1.5f, 2.5f, 10.5f, 11.5f, 12.5f))
    NcFile(dims, gatts, vars, data)
  }

  private def assertSame(a: NcFile, b: NcFile): Unit = {
    assert(b.dims == a.dims)
    assert(b.vars.map(v => (v.name, v.ncType, v.dims)) ==
           a.vars.map(v => (v.name, v.ncType, v.dims)))
    a.gatts.foreach { g =>
      val got = b.att(g.name).get
      (g.value, got) match {
        case (x: String, y: String) => assert(x == y, g.name)
        case (x: Array[Int], y: Array[Int]) => assert(x.toSeq == y.toSeq, g.name)
        case (x: Array[Float], y: Array[Float]) => assert(x.toSeq == y.toSeq, g.name)
        case (x: Array[Double], y: Array[Double]) => assert(x.toSeq == y.toSeq, g.name)
        case (x, y) => assert(x == y, g.name)
      }
    }
    a.data.keys.foreach { k =>
      (a.data(k), b.data(k)) match {
        case (x: Array[Int], y: Array[Int]) => assert(x.toSeq == y.toSeq, k)
        case (x: Array[Short], y: Array[Short]) => assert(x.toSeq == y.toSeq, k)
        case (x: Array[Float], y: Array[Float]) => assert(x.toSeq == y.toSeq, k)
        case (x: Array[Double], y: Array[Double]) => assert(x.toSeq == y.toSeq, k)
        case (x: Array[Byte], y: Array[Byte]) => assert(x.toSeq == y.toSeq, k)
      }
    }
  }

  test("CDF-1 round trip: dims, attrs, fixed + record vars of every type") {
    val p = tmp("rt1.nc")
    NetCDF.write(p, sampleFile, forceWide = Some(false))
    assert(Files.readAllBytes(Paths.get(p))(3) == 1)
    val back = NetCDF.read(p)
    assert(back.numRecs == 2)
    assertSame(sampleFile, back)
  }

  test("CDF-2 (64-bit offsets) round trip") {
    val p = tmp("rt2.nc")
    NetCDF.write(p, sampleFile, forceWide = Some(true))
    assert(Files.readAllBytes(Paths.get(p))(3) == 2)
    val back = NetCDF.read(p)
    assert(back.numRecs == 2)
    assertSame(sampleFile, back)
  }

  test("single record variable uses the unpadded-record special case") {
    // per-record size = 3 shorts = 6 bytes, NOT a multiple of 4: the spec
    // says a lone record variable packs records contiguously
    val f = NcFile(
      Seq(Dim("t", 0), Dim("x", 3)), Nil,
      Seq(Var("s", NC_SHORT, Seq(0, 1), Nil)),
      Map("s" -> Array[Short](1, 2, 3, 4, 5, 6, 7, 8, 9))) // 3 records
    val p = tmp("single.nc")
    NetCDF.write(p, f, forceWide = Some(false))
    val back = NetCDF.read(p)
    assert(back.numRecs == 3)
    assert(back.data("s").asInstanceOf[Array[Short]].toSeq == (1 to 9).map(_.toShort))
    // header: magic+numrecs 8, dim_list 8+12+12, empty gatts 8, var_list
    // 8 + (name 8 + ndims 4 + dimids 8 + atts 8 + type/vsize/begin 12) = 96;
    // then 3 records × 6 bytes, contiguous (no padding)
    assert(Files.size(Paths.get(p)) == 96 + 18)
  }

  test("reader rejects out-of-range nc_type tags with the codec's error") {
    // variable type field sits 12 bytes before the data (begin, vsize,
    // type ints); patch NC_INT → 7 (a CDF-5 type)
    val bytes = goldenBytes()
    val vtypeOff = bytes.length - 24
    assert(java.nio.ByteBuffer.wrap(bytes).getInt(vtypeOff) == NC_INT)
    java.nio.ByteBuffer.wrap(bytes).putInt(vtypeOff, 7)
    val p = tmp("badvtype.nc")
    Files.write(Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException](NetCDF.read(p))
    assert(e.getMessage.contains("unsupported nc_type 7") &&
           e.getMessage.contains("variable 'v'"))
    // attribute type field: header prefix (28) + gatt tag/count (8) +
    // name "title" (12) → offset 48
    val bytes2 = goldenBytes()
    assert(java.nio.ByteBuffer.wrap(bytes2).getInt(48) == NC_CHAR)
    java.nio.ByteBuffer.wrap(bytes2).putInt(48, 9)
    val p2 = tmp("badatype.nc")
    Files.write(Paths.get(p2), bytes2)
    val e2 = intercept[IllegalArgumentException](NetCDF.read(p2))
    assert(e2.getMessage.contains("unsupported nc_type 9") &&
           e2.getMessage.contains("attribute 'title'"))
  }

  test("reader rejects netCDF-4/HDF5 and non-netCDF files") {
    val p = tmp("bad.nc")
    Files.write(Paths.get(p), Array[Byte](0x89.toByte, 'H', 'D', 'F'))
    val e = intercept[IllegalArgumentException](NetCDF.read(p))
    assert(e.getMessage.contains("not a NetCDF classic file"))
    val p5 = tmp("v5.nc")
    Files.write(Paths.get(p5), Array[Byte]('C', 'D', 'F', 5))
    val e5 = intercept[IllegalArgumentException](NetCDF.read(p5))
    assert(e5.getMessage.contains("unsupported"))
  }
}
