package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.{Pages, TpchGeo}
import graft.operators.SpatialJoin

/** North-rule per-row invariant: byte-identical `text` (and `html`) per url
  * through every shuffle of the spatial pipeline. Exact string/byte
  * comparison against the pre-pipeline rows — stronger than the hash check
  * the DuckDB oracle performs. */
class PagesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("pages-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("text and html are byte-identical per url through geotag + spatial join + shuffle") {
    val pages = Pages.pages(spark, sfDir)
    val before = pages.select("url", "text", "html").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getAs[Array[Byte]](2)))
      .toMap

    val after = SpatialJoin.pointInPoly(
        Pages.geotag(pages), TpchGeo.counties(spark),
        TpchGeo.domain, TpchGeo.zres)
      .repartition(8, F.col("fips"))       // force a wide exchange
      .sortWithinPartitions("url")         // and a per-partition sort
      .select("url", "text", "html").collect()

    assert(after.nonEmpty, "pipeline produced no rows")
    after.foreach { r =>
      val url = r.getString(0)
      val (t0, h0) = before(url)
      assert(r.getString(1) == t0, s"text mutated for $url")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), h0),
        s"html bytes mutated for $url")
    }
  }

  test("geotag parses the id natively and tags the same rows as the regex") {
    val pages = Pages.pages(spark, sfDir)
    val tagged = Pages.geotag(pages)
    tagged.select("url", "x", "y").collect()
    val plan = tagged.queryExecution.executedPlan.toString
    assert(plan.contains("trailing_digits"), plan)
    assert(!plan.contains("regexp_extract"), plan)

    // the formulation geotag replaced, with java.util.regex
    val byRegex = pages
      .withColumn("__id",
        F.regexp_extract(F.col("url"), "(\\d+)$", 1).cast("long"))
      .withColumn("xi", F.expr("(__id * 48271) % 8000"))
      .withColumn("yi", F.expr("(__id * 16807) % 8000"))
      .where(F.expr("xi % 500 != 0 AND yi % 500 != 0"))
      .select(F.col("url"), F.col("xi").cast("double").as("x"),
        F.col("yi").cast("double").as("y"))
    def rows(df: DataFrame) =
      df.select("url", "x", "y").collect().map(_.toString).sorted.toSeq
    val expected = rows(byRegex)
    assert(expected.nonEmpty)
    assert(rows(tagged) == expected)
  }

  test("pages surrogate is deterministic across runs and fracs sum to 1 per county") {
    val run = () => SparkEntry.queries("q21_pages_srg")(spark, sfDir).collect()
    val a = run(); val b = run()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // interior counties: Σ frac = 1 (SA_ch03_vector.md:159 invariant)
    val sums = a.groupBy(_.getAs[String]("fips"))
      .view.mapValues(_.map(_.getAs[Double]("frac")).sum)
    sums.foreach { case (fips, s) =>
      assert(math.abs(s - 1.0) < 1e-9, s"county $fips sums to $s")
    }
  }
}
