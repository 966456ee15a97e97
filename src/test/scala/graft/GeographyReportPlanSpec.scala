package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan gate for the q300 composite: the county side (16 polygons x
  * cover cells) must broadcast — the page table joins without a
  * polygon-side shuffle — and the PIP verify runs as the codegen'd
  * native expression, not a UDF. */
class GeographyReportPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("q300-plan-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q300 broadcasts the county cover and keeps pip native") {
    val df = SparkEntry.queries("q300_geography_report")(
      spark, graft.TestData.sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    graft.spark.PersistTracker.drain()
    assert(plan.contains("BroadcastHashJoin"),
      s"county cover must broadcast:\n$plan")
    assert(plan.contains("pip_status"),
      s"PIP must plan as the native expression:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"),
      s"no UDFs on the q300 path:\n$plan")
  }
}
