package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SitemapsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .appName("sitemaps-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("entries: loc/lastmod/priority parsed, optional leaves degrade") {
    val s = spark
    import s.implicits._
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>https://a.example.org/1</loc><lastmod>1970-01-03</lastmod><priority>0.8</priority></url>
        |<url><loc>https://a.example.org/2</loc></url>
        |<url><loc>https://a.example.org/3</loc><lastmod>2020-01-01</lastmod></url>
        |</urlset>""".stripMargin
    val out = Sitemaps.entries(
        Seq(("a.example.org", xml)).toDF("domain", "sitemap_xml"), "sitemap_xml")
      .orderBy("loc")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    assert(out.toSeq === Seq(
      ("a.example.org", "https://a.example.org/1", 2L, "0.8"),
      ("a.example.org", "https://a.example.org/2", -1L, ""),
      ("a.example.org", "https://a.example.org/3", 18262L, "")))
  }

  test("indexLocs: sitemap-index fan-out") {
    val s = spark
    import s.implicits._
    val xml =
      """<sitemapindex>
        |<sitemap><loc>https://a.example.org/sitemap1.xml</loc><lastmod>2020-01-01</lastmod></sitemap>
        |<sitemap><loc>https://a.example.org/sitemap2.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val out = Sitemaps.indexLocs(
        Seq(("a.example.org", xml)).toDF("domain", "sitemap_xml"), "sitemap_xml")
      .orderBy("loc").collect().map(_.getString(1))
    assert(out.toSeq === Seq("https://a.example.org/sitemap1.xml",
      "https://a.example.org/sitemap2.xml"))
  }

  test("fixture roundtrip: every doc of the domain comes back in id order") {
    val s = spark
    import s.implicits._
    // stand-in documents table written to a temp dir, smallest shape
    val dir = graft.Scratch.dir("smspec").toString
    Seq((0L, "t0"), (97L, "t1"), (194L, "t2"), (1L, "u0"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sm = graft.fixtures.Pages.sitemaps(spark, dir)
    assert(sm.count() === 2) // domains host0 and host1
    val out = Sitemaps.entries(sm, "sitemap_xml")
      .where($"domain" === "host0.example.org")
      .orderBy("loc").collect()
    // docs 0, 97, 194 all map to host0; loc string order: 0, 194, 97
    assert(out.map(_.getString(1)).toSeq === Seq(
      "https://host0.example.org/doc/0",
      "https://host0.example.org/doc/194",
      "https://host0.example.org/doc/97"))
    // lastmod_day: epoch day of 2020-01-01 + (id % 365); 2020-01-01 = 18262
    assert(out.map(_.getLong(2)).sorted.toSeq ===
      Seq(18262L, 18262L + 97L, 18262L + 194L).sorted)
  }
}
