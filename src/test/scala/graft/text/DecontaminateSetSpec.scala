package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TextFixtures

/** The doc-local PairSet decontamination probe must equal the broadcast
  * string-join path exactly — same distinct-hit counts per document —
  * while its plan stays a single narrow projection. */
class DecontaminateSetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("set-decon-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("PairSet membership is exact on both halves of the identity") {
    val pairs = Array(Array(1L, 2L), Array(1L, 3L), Array(-5L, 7L), Array(9L, 0L))
    val set = TextHash.PairSet(pairs)
    pairs.foreach(p => assert(set.contains(p(0), p(1))))
    assert(!set.contains(1L, 4L))   // h1 present, h2 not
    assert(!set.contains(2L, 2L))   // h2 present, h1 not
    assert(!set.contains(-5L, -7L))
  }

  test("spanHitCount counts distinct matched grams only") {
    val benchGrams = Seq("b c", "x y")
    val set = TextHash.PairSet(
      benchGrams.map(TextHash.ngramHashPair).toArray)
    // "b c" occurs twice but is one distinct gram; "x y" once; "a b" never
    assert(TextHash.spanHitCount("a b c b c x y", 2, set) === 2L)
    assert(TextHash.spanHitCount("nothing here at all", 2, set) === 0L)
    assert(TextHash.spanHitCount("b", 2, set) === 0L) // below n
  }

  test("decontaminateSet == decontaminate on the documents corpus; plan narrow") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = TextFixtures.benchmarkNgrams(spark, sfDir)
    val exact = PipelineOps.decontaminate(docs, "doc_id", "text", bench, n = 8)
    val probed = PipelineOps.decontaminateSet(docs, "doc_id", "text", bench, n = 8)
    assert(probed.exceptAll(exact).count() == 0L)
    assert(exact.exceptAll(probed).count() == 0L)
    assert(exact.where("contaminated").count() > 0L)
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"probe must be one narrow projection:\n$plan")
  }

  test("oversized eval set fails fast with the Bloom pointer") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = TextFixtures.benchmarkNgrams(spark, sfDir)
    val e = intercept[IllegalArgumentException](
      PipelineOps.decontaminateSet(docs, "doc_id", "text", bench, n = 8,
        maxGrams = 1))
    assert(e.getMessage.contains("decontaminateBloom"))
  }
}
