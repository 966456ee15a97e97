package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

/** Adversarial DBF round-trip fuzz (the NetCdfPropertySpec discipline
  * applied to the other binary codec): randomized field names, types,
  * widths, decimal counts, orders, and null patterns must survive
  * write → read bit-exactly with correct Spark types — and byte-patched
  * foreign-writer quirks (the lenient N-field parse at
  * Shapefile.scala:203-208) must parse, not crash. */
class ShapefileFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("shp-fuzz").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpBase(tag: String): String =
    graft.Scratch.dir("shpfuzz").resolve(tag).toString

  private sealed trait FSpec {
    def col: Shapefile.DbfCol
    def sparkType: DataType
    def gen(rnd: Random): Any // null allowed
  }
  private case class NInt(name: String, len: Int) extends FSpec {
    def col = Shapefile.DbfCol(name, 'N', len)
    def sparkType = LongType
    def gen(rnd: Random): Any =
      if (rnd.nextInt(8) == 0) null
      else {
        // digit count ≤ len-1 so a sign always fits
        val digits = rnd.nextInt(math.min(len - 1, 17)) + 1
        val m = (1 to digits).map(_ => rnd.nextInt(10)).mkString.toLong
        java.lang.Long.valueOf(if (rnd.nextBoolean()) m else -m)
      }
  }
  private case class NDec(name: String, len: Int, dec: Int, typ: Char) extends FSpec {
    def col = Shapefile.DbfCol(name, typ, len, dec)
    def sparkType = DoubleType
    def gen(rnd: Random): Any =
      if (rnd.nextInt(8) == 0) null
      else {
        // exact decimal with ≤ 15 significant digits: formats back to the
        // same string at this dec, so the double round-trips bit-exactly
        val intDigits = math.min(len - dec - 2, 9) // '.', sign
        val ip = (1 to math.max(1, rnd.nextInt(intDigits) + 1))
          .map(_ => rnd.nextInt(10)).mkString
        val fp = (1 to dec).map(_ => rnd.nextInt(10)).mkString
        val s = (if (rnd.nextBoolean()) "-" else "") + ip + "." + fp
        java.lang.Double.valueOf(s.toDouble)
      }
  }
  private case class CStr(name: String, len: Int) extends FSpec {
    def col = Shapefile.DbfCol(name, 'C', len)
    def sparkType = StringType
    private val alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-"
    def gen(rnd: Random): Any = {
      val n = rnd.nextInt(len + 1)
      // no leading/trailing blanks (fixed-width DBF pads/trims them away)
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
  }
  private case class LBool(name: String) extends FSpec {
    def col = Shapefile.DbfCol(name, 'L', 1)
    def sparkType = BooleanType
    def gen(rnd: Random): Any =
      if (rnd.nextInt(6) == 0) null else java.lang.Boolean.valueOf(rnd.nextBoolean())
  }

  private def randomField(i: Int, rnd: Random): FSpec = {
    val name = s"f${i}_" + ("abcdefgh" (rnd.nextInt(8)))
    rnd.nextInt(5) match {
      case 0 => NInt(name, rnd.nextInt(17) + 2)      // width 2..18
      case 1 =>
        val dec = rnd.nextInt(6) + 1
        NDec(name, dec + 3 + rnd.nextInt(8), dec, 'N')
      case 2 =>
        val dec = rnd.nextInt(4) + 1
        NDec(name, dec + 3 + rnd.nextInt(8), dec, 'F')
      case 3 => CStr(name, rnd.nextInt(30) + 1)      // width 1..30
      case _ => LBool(name)
    }
  }

  test("property: 30 randomized DBF layouts round-trip with typed schema") {
    val rnd = new Random(20260817L)
    for (iter <- 1 to 30) {
      val fields = (0 until rnd.nextInt(6) + 1).map(randomField(_, rnd))
      val key = NInt("k", 9)
      val all: Seq[FSpec] = key +: fields
      val nRows = rnd.nextInt(40) + 1
      val data = (0 until nRows).map { r =>
        val vals = all.map {
          case NInt("k", _) => java.lang.Long.valueOf(r.toLong)
          case f            => f.gen(rnd)
        }
        Row.fromSeq(vals ++ Seq(r * 2.0, r * 3.0))
      }
      val schema = StructType(
        all.map(f => StructField(f.col.name, f.sparkType, nullable = true)) ++
          Seq(StructField("px", DoubleType), StructField("py", DoubleType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2), schema)
      val base = tmpBase(s"rt$iter")
      // write attrs in a shuffled order — descriptor order ≠ schema order
      val attrs = rnd.shuffle(all).map(_.col)
      Shapefile.writePoints(df, base, "px", "py", attrs)

      val back = Shapefile.read(spark, base).orderBy("k").collect()
      assert(back.length === nRows, s"iter $iter: row count")
      val backSchema = back.head.schema
      for (f <- all)
        assert(backSchema(f.col.name).dataType === f.sparkType,
          s"iter $iter: type of ${f.col.name}")
      for ((row, r) <- back.zipWithIndex; f <- all) {
        val expected = data(r).get(schema.fieldIndex(f.col.name))
        val got = row.get(row.fieldIndex(f.col.name))
        val exp = if (expected == null) null else expected
        assert(got === exp, s"iter $iter row $r field ${f.col.name} (${f.col})")
      }
    }
  }

  test("C values longer than the declared width truncate to it (documented)") {
    import spark.implicits._
    val df = Seq((0L, "abcdefghij", 1.0, 1.0)).toDF("k", "c", "px", "py")
    val base = tmpBase("ctrunc")
    Shapefile.writePoints(df, base, "px", "py",
      Seq(Shapefile.DbfCol("k", 'N', 9), Shapefile.DbfCol("c", 'C', 4)))
    val back = Shapefile.read(spark, base).collect()
    assert(back.head.getAs[String]("c") === "abcd")
  }

  test("no silent truncation: numeric overflow, long names, dup names fail") {
    import spark.implicits._
    val df = Seq((0L, 123456L, 1.0, 1.0)).toDF("k", "v", "px", "py")
    val base = tmpBase("guard")
    // numeric value wider than the field
    assertThrows[IllegalArgumentException] {
      Shapefile.writePoints(df, base, "px", "py",
        Seq(Shapefile.DbfCol("k", 'N', 9), Shapefile.DbfCol("v", 'N', 4)))
    }
    // field name beyond dBASE's 10 bytes
    assertThrows[IllegalArgumentException] {
      Shapefile.writePoints(df.withColumnRenamed("v", "averylongname"),
        base, "px", "py", Seq(Shapefile.DbfCol("averylongname", 'N', 9)))
    }
    // duplicate descriptor names
    assertThrows[IllegalArgumentException] {
      Shapefile.writePoints(df, base, "px", "py",
        Seq(Shapefile.DbfCol("k", 'N', 9), Shapefile.DbfCol("k", 'N', 9)))
    }
  }

  test("foreign-writer quirks parse leniently: '42.' and huge-width N fields") {
    import spark.implicits._
    val df = Seq((0L, 7L, 1.0, 1.0)).toDF("k", "v", "px", "py")
    val base = tmpBase("foreign")
    Shapefile.writePoints(df, base, "px", "py",
      Seq(Shapefile.DbfCol("k", 'N', 9), Shapefile.DbfCol("v", 'N', 5)))
    val p = Paths.get(base + ".dbf")
    val bytes = Files.readAllBytes(p)
    // record layout: headerSize = 32 + 32*2 + 1 = 97; fields k(9) then v(5)
    val vOff = 97 + 1 + 9
    for ((patched, expect) <- Seq("  42." -> 42L, " 1e2 " -> 100L,
                                  "   x3" -> null)) {
      val b = bytes.clone()
      patched.getBytes("US-ASCII").copyToArray(b, vOff)
      Files.write(p, b)
      val got = Shapefile.read(spark, base).collect().head.getAs[Any]("v")
      assert(got === expect, s"patched '$patched'")
    }
  }
}
