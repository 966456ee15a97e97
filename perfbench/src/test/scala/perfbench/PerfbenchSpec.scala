package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{Pages, TpchGeo}
import graft.operators.Surrogate

/** The benchmark's own tests: seeded inputs are reproducible and each
  * output check rejects a deliberately perturbed result. Run with
  * `sbt test` from perfbench/. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work: Path = Files.createTempDirectory(
    java.nio.file.Paths.get("target").toAbsolutePath, "perfbench-spec")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", 2L)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Order-independent digest of a table: row count, XOR and low-bit sum
    * of each row's xxhash64. */
  private def digest(df: DataFrame): String = {
    val h = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
    val r = h.agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xFFFFL))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  test("one seed gives one input digest, another seed a different one") {
    def pages(seed: Long) = digest(Inputs.pages(spark, 5000, seed, 3))
    def polys(seed: Long) = digest(Inputs.polygonTable(spark, Inputs.polygons(40, seed), 3))
    def roads(seed: Long) = digest(Inputs.roads(spark, 300, seed, 3))
    for (d <- Seq(pages _, polys _, roads _)) {
      assert(d(7) == d(7))
      assert(d(7) != d(8))
    }
  }

  test("generated polygons are simple, integer and inside the domain") {
    for (p <- Inputs.polygons(200, 11)) {
      val xs = p.ring.grouped(2).map(_(0)).toSeq
      val ys = p.ring.grouped(2).map(_(1)).toSeq
      assert(p.ring.forall(v => v == math.rint(v)))
      assert(xs.min > 0 && xs.max < 8000 && ys.min > 0 && ys.max < 8000)
      assert(p.ring.length / 2 >= 30 && p.ring.length / 2 <= 256)
    }
  }

  private def perturbFrac(cs: Seq[Checks.Cell]) =
    cs.updated(0, cs.head.copy(frac = cs.head.frac * (1 + 1e-6)))

  test("pages check passes the program's output and rejects perturbed ones") {
    val n = 20000L
    val cs = Checks.cells(Surrogate.pointSurrogate(
      Pages.geotag(Inputs.pages(spark, n, 5, 2)), TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 100).collect().toSeq)
    val geotagged = Inputs.geotaggedCount(n, 5)
    assert(Checks.pagesSurrogate(cs, geotagged).isEmpty)
    assert(Checks.pagesSurrogate(perturbFrac(cs), geotagged).nonEmpty)
    assert(Checks.pagesSurrogate(cs.updated(0, cs.head.copy(numer = cs.head.numer + 1)), geotagged).nonEmpty)
    assert(Checks.pagesSurrogate(cs, geotagged + 1).nonEmpty)
    assert(Checks.pagesSurrogate(cs.tail, geotagged).nonEmpty)
  }

  test("polygon check passes the program's output and rejects perturbed ones") {
    val polys = Inputs.polygons(30, 5)
    val total = polys.map(_.weight).sum
    val cs = Checks.cells(Surrogate.polySurrogate(
      Inputs.polygonTable(spark, polys, 2), TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 200, Some("weight")).collect().toSeq)
    assert(Checks.polySurrogate(cs, total).isEmpty)
    assert(Checks.polySurrogate(perturbFrac(cs), total).nonEmpty)
    assert(Checks.polySurrogate(cs, total * (1 + 1e-6)).nonEmpty)
    assert(Checks.polySurrogate(cs :+ cs.head, total).nonEmpty)
  }

  test("catalog check passes the program's files and rejects perturbed ones") {
    val wl = new Catalog(spark, 5, work, nPages = 4000, nPolys = 20, nRoads = 200)
    wl.generate()
    val (_, errs) = wl.pass(1)
    assert(errs.isEmpty, errs)
    val dir = work.resolve("catalog_out").resolve("pass-1")
    assert(Checks.catalog(dir, wl.Codes).isEmpty)

    def edit(p: Path)(f: Seq[String] => Seq[String]): Unit = {
      val before = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      Files.write(p, f(before).asJava, StandardCharsets.UTF_8)
      assert(Checks.catalog(dir, wl.Codes).nonEmpty)
      Files.write(p, before.asJava, StandardCharsets.UTF_8)
      assert(Checks.catalog(dir, wl.Codes).isEmpty)
    }
    val desc = dir.resolve("SRGDESC.txt")
    edit(desc)(ls => ls :+ ls.last)                          // a code listed twice
    edit(desc)(ls => ls.dropRight(1))                        // a code missing
    val smoke = dir.resolve("srg_100.txt")
    def firstData(ls: Seq[String]) = ls.indexWhere(l => l.nonEmpty && !l.startsWith("#"))
    edit(smoke)(ls => ls.patch(firstData(ls), Nil, 1))       // a cell dropped
    edit(smoke) { ls =>                                      // a fraction changed
      val i = firstData(ls)
      val f = ls(i).split("\t", -1)
      f(4) = "%10.8f".formatLocal(java.util.Locale.US, f(4).trim.toDouble + 0.001)
      ls.updated(i, f.mkString("\t"))
    }
    edit(smoke)(ls => ls.tail)                               // header lost
  }
}
