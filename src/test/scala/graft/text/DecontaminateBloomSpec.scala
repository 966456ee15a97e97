package graft.text

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TextFixtures

/** The Bloom-prefiltered decontamination path must be EXACTLY equal to the
  * broadcast-exact path for any fpp: Bloom has no false negatives, and the
  * verify join kills false positives. */
class DecontaminateBloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("bloom-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def run(fpp: Double) = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = TextFixtures.benchmarkNgrams(spark, sfDir)
    val exact = PipelineOps.decontaminate(docs, "doc_id", "text", bench, n = 8)
    val bloom = PipelineOps.decontaminateBloom(docs, "doc_id", "text", bench,
      n = 8, fpp = fpp)
    (exact, bloom)
  }

  test("bloom path == exact path at tight fpp") {
    val (exact, bloom) = run(0.001)
    assert(bloom.exceptAll(exact).count() == 0L)
    assert(exact.exceptAll(bloom).count() == 0L)
    // and the fixture genuinely contaminates something
    assert(exact.where("contaminated").count() > 0L)
  }

  test("bloom path == exact path even at fpp = 0.5 (verify join kills false positives)") {
    val (exact, bloom) = run(0.5)
    assert(bloom.exceptAll(exact).count() == 0L)
    assert(exact.exceptAll(bloom).count() == 0L)
  }
}
