package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cells.{CellDomain, CellIndex}
import graft.fixtures.Pages

/** The SQL front door must plan the SAME kernels as the DataFrame API:
  * value parity with CellIndex/Geo on deterministic points, literal-arg
  * validation, and codegen survival (the expressions stay native). */
class SqlFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("sqlfunctions-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SqlFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("graft_cell_encode matches CellIndex.encode") {
    val s = spark
    import s.implicits._
    val pts = (0 until 200).map { i =>
      (((i * 48271) % 8000).toDouble, ((i * 16807) % 8000).toDouble)
    }
    pts.toDF("x", "y").createOrReplaceTempView("pts_sqlfn")
    val got = s.sql(
      "SELECT graft_cell_encode(x, y, 0.0D, 0.0D, 8000.0D, 8000.0D, 7) " +
        "FROM pts_sqlfn").collect().map(_.getLong(0))
    val d = CellDomain(0, 0, 8000, 8000)
    val exp = pts.map { case (x, y) => CellIndex.encode(x, y, d, 7) }
    assert(got.toSeq === exp)
  }

  test("graft_pip_status classifies the diamond exactly") {
    val s = spark
    import s.implicits._
    // diamond |x-4|+|y-4| = 2: inside, outside, edge, vertex
    val pts = Seq((4.0, 4.0, 1), (0.5, 0.5, 0), (3.0, 3.0, 1), (2.0, 4.0, 3))
    pts.map(p => (p._1, p._2)).toDF("x", "y")
      .createOrReplaceTempView("pip_sqlfn")
    val got = s.sql(
      "SELECT graft_pip_status(x, y, array(array(" +
        "2.0D, 4.0D, 4.0D, 2.0D, 6.0D, 4.0D, 4.0D, 6.0D))) FROM pip_sqlfn")
      .collect().map(_.getInt(0))
    assert(got.toSeq === pts.map(_._3))
  }

  test("graft_cover_cells returns the bbox cover of the polygon") {
    val s = spark
    val got = s.sql(
      "SELECT graft_cover_cells(array(array(" +
        "1000.0D, 1000.0D, 3000.0D, 1000.0D, 3000.0D, 3000.0D, " +
        "1000.0D, 3000.0D, 1000.0D, 1000.0D)), " +
        "0.0D, 0.0D, 8000.0D, 8000.0D, 3)").collect()
      .head.getSeq[Long](0).sorted
    val exp = CellIndex.coverCells(
      graft.geom.Geo.BBox(1000, 1000, 3000, 3000),
      CellDomain(0, 0, 8000, 8000), 3).sorted
    assert(got === exp)
  }

  test("non-literal domain arguments are rejected with a clear error") {
    val s = spark
    val e = intercept[Exception] {
      s.sql("SELECT graft_cell_encode(1.0D, 1.0D, 0.0D, 0.0D, " +
        "CAST(rand() * 10 AS DOUBLE), 8000.0D, 4)").collect()
    }
    assert(e.getMessage.contains("numeric literal") ||
      e.getMessage.toLowerCase.contains("literal"))
  }

  test("SQL path stays inside whole-stage codegen") {
    val s = spark
    s.range(100).selectExpr("CAST(id AS DOUBLE) AS x",
        "CAST(id * 7 AS DOUBLE) AS y")
      .createOrReplaceTempView("cg_sqlfn")
    val qe = s.sql(
      "SELECT graft_cell_encode(x, y, 0.0D, 0.0D, 8000.0D, 8000.0D, 4) " +
        "FROM cg_sqlfn").queryExecution
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = qe.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("*(") && l.contains("cell_encode")),
      s"expected the cell_encode projection inside a codegen span:\n$plan")
  }

  test("geohash matches published test vectors (SQL and Column paths)") {
    val s = spark
    import graft.spark.expressions.GeoHashKernel
    // Niemeyer's canonical example and the Wikipedia vector
    assert(GeoHashKernel.encode(-5.6, 42.6, 5).toString === "ezs42")
    assert(GeoHashKernel.encode(10.40744, 57.64911, 11).toString
      === "u4pruydqqvj")
    assert(GeoHashKernel.encode(0.0, 0.0, 4).toString === "s000")
    val got = s.sql(
      "SELECT graft_geohash(-5.6D, 42.6D, 5), graft_geohash(0.0D, 0.0D, 1)")
      .collect().head
    assert(got.getString(0) === "ezs42")
    assert(got.getString(1) === "s")
  }

  test("graft_trailing_digits agrees with the Pages.urlId builder") {
    val s = spark
    import s.implicits._
    val urls = (0 until 200).map(i => s"https://host${i % 97}.example.org/doc/$i") ++
      Seq("https://host1.example.org/doc/0042", "doc/7\n", "doc/8\r\n", "9" * 18)
    urls.toDF("url").createOrReplaceTempView("urls_sqlfn")
    val viaSql = s.sql(
      "SELECT url, CAST(graft_trailing_digits(url) AS BIGINT) FROM urls_sqlfn")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaBuilder = s.table("urls_sqlfn")
      .select(col("url"), Pages.urlId(col("url")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == viaBuilder)
    assert(viaSql("doc/8\r\n") == 8L && viaSql("https://host1.example.org/doc/0042") == 42L)
    assert(s.sql("SELECT graft_trailing_digits('doc/12x'), " +
      "graft_trailing_digits(CAST(NULL AS STRING))").collect().head.toSeq ==
      Seq("", null))
  }

  test("graft_nfc composes decomposed accents from SQL") {
    val s = spark
    val got = s.sql(
      "SELECT graft_nfc('cafe\u0301'), length(graft_nfc('cafe\u0301'))")
      .collect().head
    assert(got.getString(0) === "caf\u00e9")
    assert(got.getInt(1) === 4)
  }
}
