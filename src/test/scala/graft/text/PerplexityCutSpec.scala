package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Certification for the round-6 q177 cut change (round-5 verdict item 3):
  * the value-histogram percentile (`exactPercentilesByValue`) must be
  * BIT-IDENTICAL to the row-ranked exact form on arbitrary multisets, and
  * the executed q177 plan must contain no corpus-sized single-partition
  * sort — the only empty-partition window may run over the value
  * histogram (distinct avg_unll values), whose frame is bounded by the
  * value range at any corpus size. */
class PerplexityCutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("q177-cut-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("value-histogram percentiles equal the row-ranked exact form") {
    val rnd = new scala.util.Random(4217)
    // heavy ties, skewed range, several sizes incl. rank edge cases
    for (n <- Seq(1, 2, 3, 7, 100, 999)) {
      val s = spark
      import s.implicits._
      val vals = (0 until n).map(i => (i.toLong, rnd.nextInt(17).toLong - 5))
      val df = vals.toDF("id", "v")
      val byRank = PipelineOps.exactPercentiles(
          df.withColumn("g", lit(1)), "g", "v", "id", Seq(1, 33, 50, 67, 100))
        .select("n_rows", "p1", "p33", "p50", "p67", "p100")
        .head()
      val byValue = PipelineOps.exactPercentilesByValue(
          df, "v", Seq(1, 33, 50, 67, 100))
        .select("n_rows", "p1", "p33", "p50", "p67", "p100")
        .head()
      graft.spark.PersistTracker.drain()
      assert(byValue == byRank, s"n=$n: $byValue != $byRank")
    }
  }

  test("value-histogram percentiles reject a fractional value column") {
    val s = spark
    import s.implicits._
    // the histogram keys on the value cast to long; 1.5 and 1.75 would
    // silently share the key 1
    val df = Seq((0L, 1.5), (1L, 1.75), (2L, 3.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      PipelineOps.exactPercentilesByValue(df, "v", Seq(50)))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("bucketNtile equals ntile(3) over (avg_unll, id) on any multiset") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(991)
    for (n <- Seq(1, 2, 3, 4, 5, 7, 100, 998, 999)) {
      val s = spark
      import s.implicits._
      val df = (0 until n)
        .map(i => (i.toLong, rnd.nextInt(9).toLong * 100))
        .toDF("id", "avg_unll")
      val expected = df.withColumn("ppl_bucket",
          ntile(3).over(W.orderBy(col("avg_unll"), col("id"))))
        .select("id", "ppl_bucket").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
      val got = NgramLm.bucketNtile(df)
        .select("id", "ppl_bucket").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
      graft.spark.PersistTracker.drain()
      assert(got == expected, s"n=$n")
    }
  }

  test("q177 plan: no corpus-sized single-partition window") {
    val df = graft.SparkEntry.queries("q177_perplexity_filter")(
      spark, graft.TestData.sf("0.001"))
    val optimized = df.queryExecution.optimizedPlan
    graft.spark.PersistTracker.drain()
    assert(!optimized.toString.contains("ntile"),
      s"ntile must not appear:\n$optimized")
    // every window with an EMPTY partition spec must order by the value-
    // histogram attribute `v` (bounded by the value range), never by a
    // per-doc column (unbounded with the corpus)
    val globals = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(globals.nonEmpty, s"expected the histogram window:\n$optimized")
    globals.foreach { w =>
      val orderCols = w.orderSpec.flatMap(_.child.references.map(_.name))
      assert(orderCols == Seq("v"),
        s"global window must order over the value histogram, got " +
          s"$orderCols in:\n$w")
    }
  }
}
