package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Unigram-LM scoring: hand-checkable small model, OOV handling,
  * partition-invariance of the integer scores, threshold-vs-ntile
  * bucket agreement. */
class NgramLmSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("ngramlm-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("hand-computed scores on a 3-word corpus") {
    import spark.implicits._
    // train: "a a b" → N=3 tokens, V=2 types, denom=5
    val train = Seq((0L, "a a b")).toDF("doc_id", "text")
    val (lm, oov) = NgramLm.trainUnigram(train, "text")
    val m = lm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == math.round(-math.log(3.0 / 5.0) * 1e6))
    assert(m("b") == math.round(-math.log(2.0 / 5.0) * 1e6))
    assert(oov == math.round(-math.log(1.0 / 5.0) * 1e6))

    // scoring "a z": sum = unll(a) + oov, n=2, avg = sum div 2
    val scored = NgramLm.score(Seq((7L, "a z")).toDF("doc_id", "text"),
      "doc_id", "text", lm, oov).collect()
    assert(scored.length == 1)
    val r = scored.head
    assert(r.getAs[Long]("n_tokens") == 2L)
    assert(r.getAs[Long]("sum_unll") == m("a") + oov)
    assert(r.getAs[Long]("avg_unll") == (m("a") + oov) / 2)
  }

  test("scores are invariant under repartitioning (exact integer sums)") {
    val docs = spark.read.parquet(graft.TestData.sf("0.001") + "/documents.parquet")
    val (lm, oov) = NgramLm.trainUnigram(
      docs.where(col("doc_id") % 2 === 0), "text")
    val a = NgramLm.score(docs, "doc_id", "text", lm, oov)
    val b = NgramLm.score(docs.repartition(13, col("text")),
      "doc_id", "text", lm, oov)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("bucketByThresholds: strict-below semantics at both cuts") {
    import spark.implicits._
    val scored = Seq((1L, 10L), (2L, 99L), (3L, 100L), (4L, 150L),
      (5L, 199L), (6L, 200L), (7L, 999L))
      .toDF("id", "avg_unll")
    val got = NgramLm.bucketByThresholds(scored, 100L, 200L)
      .orderBy("id").collect().map(_.getAs[Int]("ppl_bucket")).toSeq
    assert(got == Seq(1, 1, 2, 2, 2, 3, 3))
  }

  test("score plan: document text never enters an exchange (only tokens and integer scores move)") {
    val docs = spark.read.parquet(graft.TestData.sf("0.001") + "/documents.parquet")
    val (lm, oov) = NgramLm.trainUnigram(
      docs.where(col("doc_id") % 2 === 0), "text")
    val plan = NgramLm.score(docs, "doc_id", "text", lm, oov)
      .queryExecution.executedPlan.toString
    plan.split("\n")
      .filter(l => l.contains("Exchange"))
      .foreach(l => assert(!l.contains("text#"),
        s"document text in a shuffle:\n$l"))
  }

  test("ppl separates clean text from shuffled-vocab noise") {
    import spark.implicits._
    val train = spark.read.parquet(graft.TestData.sf("0.001") + "/documents.parquet")
    val (lm, oov) = NgramLm.trainUnigram(train, "text")
    val probe = Seq(
      (1L, train.select("text").head().getString(0)), // in-distribution
      (2L, "zq xv qqj wpk zzv unseen gibberish tokens qqq vvv")).toDF("doc_id", "text")
    val s = NgramLm.score(probe, "doc_id", "text", lm, oov)
      .orderBy("id").collect()
    assert(s(0).getAs[Long]("avg_unll") < s(1).getAs[Long]("avg_unll"),
      "noise doc should score worse (higher avg nll) than an in-distribution doc")
  }
}
