package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.{Pages, TpchGeo}

/** Incremental page ingestion (SURVEY §7): the SAME geotag → tile-count
  * transform runs over a bounded page table and an unbounded page stream
  * with identical results — plus byte-identity of text through the stream. */
class PagesStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("pstream-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tiles(df: org.apache.spark.sql.DataFrame) = {
    import graft.spark.GeoFunctions._
    Pages.geotag(df)
      .withColumn("col", gridCol(col("x"), TpchGeo.grid))
      .withColumn("row", gridRow(col("y"), TpchGeo.grid))
      .groupBy("col", "row")
      .agg(count(lit(1)).as("n_pages"), sum(length(col("text"))).as("text_chars"))
  }

  test("streamed page ingestion produces the same tile counts as batch") {
    import spark.implicits._
    val pages = Pages.pages(spark, sfDir)
    val batch = tiles(pages)
      .orderBy("row", "col").collect().map(_.toString).toSeq

    val mem = MemoryStream[(String, String)](spark)
    val streamPages = mem.toDF().toDF("url", "text")
    val q = tiles(streamPages)
      .writeStream.format("memory").queryName("tiles")
      .outputMode("complete").start()
    // feed pages in two micro-batches (incremental arrival)
    val rows = pages.select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val (first, second) = rows.splitAt(rows.length / 2)
    mem.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("tiles")
      .orderBy("row", "col").collect().map(_.toString).toSeq
    q.stop()

    assert(streamed == batch && batch.nonEmpty)
  }

  test("streamed page surrogate equals the batch pointSurrogate") {
    import spark.implicits._
    import graft.spark.GeoFunctions._
    val pages = Pages.pages(spark, sfDir)

    // batch truth: the flagship operator end-to-end
    val batch = graft.operators.Surrogate.pointSurrogate(
        Pages.geotag(pages), TpchGeo.counties(spark),
        TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, srgCode = 300)
      .select("fips", "col", "row", "frac")
      .orderBy("fips", "row", "col").collect().map(_.toString).toSeq

    // streaming: the same geotag + spatial join + one-pass (fips, cell)
    // aggregation (NULL cell sentinel for off-grid rows, exactly like
    // pointSurrogate's perCell) runs incrementally in complete mode; the
    // ratio is the same batch join applied to the result table
    val mem = MemoryStream[String](spark)
    val onGrid = inGrid(gridCol(col("x"), TpchGeo.grid),
      gridRow(col("y"), TpchGeo.grid), TpchGeo.grid)
    val perCell = graft.operators.SpatialJoin.pointInPoly(
        Pages.geotag(mem.toDF().toDF("url")),
        TpchGeo.counties(spark), TpchGeo.domain, TpchGeo.zres)
      .withColumn("col", when(onGrid, gridCol(col("x"), TpchGeo.grid)))
      .withColumn("row", when(onGrid, gridRow(col("y"), TpchGeo.grid)))
      .groupBy("fips", "col", "row").agg(count(lit(1)).cast("double").as("numer"))
    val q = perCell.writeStream.format("memory").queryName("percell")
      .outputMode("complete").start()
    val urls = pages.select("url").collect().map(_.getString(0))
    val (a, b) = urls.splitAt(urls.length / 2)
    mem.addData(a.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b.toIndexedSeq: _*)
    q.processAllAvailable()
    // the memory sink's View pins its attribute ids, which breaks the
    // numer⋈denom self-join — materialize the (tiny) streamed aggregate
    // into fresh local relations per side
    def pcFresh() = spark.createDataFrame(
      java.util.Arrays.asList(spark.table("percell").collect(): _*),
      spark.table("percell").schema)
    val denom = pcFresh().groupBy("fips").agg(sum("numer").as("denom"))
    val streamed = graft.operators.Surrogate.ratio(
        pcFresh().where(col("col").isNotNull && col("row").isNotNull),
        denom, 300)
      .select("fips", "col", "row", "frac")
      .orderBy("fips", "row", "col").collect().map(_.toString).toSeq
    q.stop()

    assert(streamed == batch && batch.nonEmpty)
  }
}
