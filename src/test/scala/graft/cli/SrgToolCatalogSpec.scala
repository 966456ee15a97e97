package graft.cli

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** Guards on SrgTool.run over CliSpec's catalog (3 specs, 1 merge,
  * 1 gapfill on the sf0.001 fixtures): each surrogate table is planned and
  * run once, so the catalog's Spark job count stays bounded, and its SMOKE
  * files stay byte-identical to the ones the lazy-plan driver wrote. */
class SrgToolCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("srgtool-catalog-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sha256(path: String): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(Paths.get(path)))
      .map("%02x".format(_)).mkString

  // SHA-256 of each SMOKE file as the lazy-plan driver wrote it (each sink
  // re-ran its surrogate's whole lineage: 159 jobs). SRGDESC is left out:
  // it embeds the output path.
  private val parentDigests = Map(
    100 -> "d87858b4db5f9b3635ab832fade731154bf845293f68a425bee5eff5a6abb7b7",
    120 -> "e764494fff8dbde8771124ac3d1e3908ede4ca9da4f29c08ac6379ccaed99db5",
    240 -> "7ada40cfb4b169ad87d877f21b8127cc7734d4bfe20562b61b04a5a069b006d1",
    500 -> "7392e389284c37a385e9549941e0e8734fad6b832f2ea98410ab4fde14d47907",
    600 -> "3d905f1cdbb560e03578d056ba7d109524567429fde7a8055efab799119ca49b")

  test("catalog runs each surrogate once: bounded job count, SMOKE files unchanged") {
    val outDir = graft.Scratch.dir("srgtool-catalog").toString
    val specs = Seq(
      SrgTool.SrgSpec(100, "points", SrgTool.PointW, TpchGeo.points(spark, sfDir)),
      SrgTool.SrgSpec(120, "tracts", SrgTool.PolyW, TpchGeo.tracts(spark, sfDir),
        Some("p_size")),
      SrgTool.SrgSpec(240, "roads", SrgTool.LineW, TpchGeo.roads(spark, sfDir)))
    val (r, jobs) = graft.Jobs.of(spark)(SrgTool.run(spark, TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, specs,
      merges = Seq(SrgTool.MergeSpec(500, "pop_mix", 100, 0.5, 120, 0.5)),
      gapfills = Seq(SrgTool.GapfillSpec(600, "filled", Seq(240, 100))),
      outDir = Some(outDir)))
    // 38 jobs when each table runs once and each grid surrogate shuffles
    // once on fips for its tail; the lazy-plan catalog ran 159
    assert(jobs <= 40, s"SrgTool.run started $jobs jobs")
    assert(r.srg.keySet == parentDigests.keySet)
    parentDigests.foreach { case (code, digest) =>
      assert(sha256(s"$outDir/srg_$code.txt") == digest, s"srg_$code.txt")
    }
  }

  test("duplicate output codes are rejected, naming the code") {
    val pts = TpchGeo.points(spark, sfDir)
    val e = intercept[IllegalArgumentException](SrgTool.run(spark,
      TpchGeo.counties(spark), TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      Seq(SrgTool.SrgSpec(100, "points_a", SrgTool.PointW, pts),
          SrgTool.SrgSpec(100, "points_b", SrgTool.PointW, pts))))
    assert(e.getMessage.contains("100"), e.getMessage)
    // a gapfill may reuse a spec's code, but two gapfills may not share one
    val g = intercept[IllegalArgumentException](SrgTool.run(spark,
      TpchGeo.counties(spark), TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      Seq(SrgTool.SrgSpec(100, "points", SrgTool.PointW, pts)),
      gapfills = Seq(SrgTool.GapfillSpec(600, "fill_a", Seq(100)),
        SrgTool.GapfillSpec(600, "fill_b", Seq(100)))))
    assert(g.getMessage.contains("600"), g.getMessage)
  }

  test("an empty catalog is rejected as empty") {
    val e = intercept[IllegalArgumentException](SrgTool.run(spark,
      TpchGeo.counties(spark), TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      Nil))
    assert(e.getMessage.contains("empty catalog"), e.getMessage)
  }

  test("srgdesc names the spec, merge and gapfill codes without an outDir") {
    val pts = TpchGeo.points(spark, sfDir)
    val r = SrgTool.run(spark, TpchGeo.counties(spark),
      TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      Seq(SrgTool.SrgSpec(100, "points_a", SrgTool.PointW, pts),
          SrgTool.SrgSpec(110, "points_b", SrgTool.PointW, pts)),
      merges = Seq(SrgTool.MergeSpec(500, "pop_mix", 100, 0.5, 110, 0.5)),
      gapfills = Seq(SrgTool.GapfillSpec(600, "filled", Seq(500, 100))))
    assert(r.srgdesc == Seq((100, "points_a", ""), (110, "points_b", ""),
      (500, "pop_mix", ""), (600, "filled", "")))
  }
}
