package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape gate for the q280 star join: every dimension hop must plan
  * as a BroadcastHashJoin — a single SortMergeJoin would mean the fact
  * table shuffles per dimension, the classic 100-TB star-query mistake. */
class StarJoinPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("starjoin-plan-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q280 plans 3 broadcast joins and no sort-merge join") {
    val df = graft.SparkEntry.queries("q280_star_join")(
      spark, graft.TestData.sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast == 3, s"expected 3 broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact table must not shuffle through a sort-merge join:\n$plan")
  }
}
