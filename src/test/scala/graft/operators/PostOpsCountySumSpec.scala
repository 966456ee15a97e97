package graft.operators

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The per-county Σfrac that normalize, qaSummary and qaNot1 read: the
  * county's total, summed in (row, col) order whatever the input order,
  * also when a fraction is negative (a merge with a negative coefficient). */
class PostOpsCountySumSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("postops-county-sum-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def table(rows: Seq[(Int, String, Int, Int, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("srg_code", "fips", "col", "row", "frac")
  }

  private def raw(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  // 47001's fractions in (row, col) order are 0.6, 0.4, −0.2: Σ 0.8, while
  // its running sums peak at 1.0; 47002 sums to 1
  private lazy val negative = table(Seq(
    (500, "47001", 1, 2, -0.2), (500, "47001", 2, 1, 0.4), (500, "47001", 1, 1, 0.6),
    (500, "47002", 1, 1, 0.25), (500, "47002", 3, 1, 0.75)))

  test("a county with a negative fraction: normalize, qaNot1 and qaSummary read its total") {
    val norm = PostOps.normalize(negative).collect()
      .map(r => (r.getString(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    val total = 0.6 + 0.4 + -0.2
    assert(norm(("47001", 1, 1)) == 0.6 / total)
    assert(norm(("47001", 2, 1)) == 0.4 / total)
    assert(norm(("47001", 1, 2)) == -0.2 / total)
    assert(norm(("47002", 1, 1)) == 0.25 && norm(("47002", 3, 1)) == 0.75)

    val not1 = PostOps.qaNot1(negative).collect()
    assert(not1.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((500, "47001", total)))

    val summary = PostOps.qaSummary(negative, Seq(500)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(summary == Map("47001" -> 0.8, "47002" -> 1.0))
  }

  test("shuffled input: each county's sum is its (row, col)-order sum, bit for bit") {
    val rnd = new Random(26)
    val rows = for {
      f <- 1 to 6; c <- 1 to 5; r <- 1 to 5 if rnd.nextDouble() < 0.7
    } yield (500 + f % 2, f"4700$f%d", c, r, rnd.nextDouble() - 0.3)
    val want = rows.groupBy(t => (t._1, t._2)).map { case (k, rs) =>
      k -> raw(rs.sortBy(t => (t._4, t._3)).map(_._5).foldLeft(0.0)(_ + _))
    }
    Seq(7L, 8L).foreach { seed =>
      val shuffled = table(new Random(seed).shuffle(rows)).repartition(3)
      // tol −1 keeps every county
      val got = PostOps.qaNot1(shuffled, tol = -1).collect()
        .map(r => (r.getInt(0), r.getString(1)) -> raw(r.getDouble(2))).toMap
      assert(got == want, s"shuffle seed $seed")
    }
  }

  test("the county-sum window keeps its (row, col) sort") {
    val df = PostOps.normalize(negative)
    df.collect()
    val sorts = SurrogatePlanSpec.nodes(df.queryExecution.executedPlan).collect {
      case s: SortExec => s.sortOrder.flatMap(_.child.references.map(_.name))
    }
    assert(sorts.contains(Seq("srg_code", "fips", "row", "col")), sorts)
  }
}
