package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TextFixtures

/** The span-hash decontamination path must equal the string path exactly:
  * span bytes and gram-string bytes are the same bytes, including empty
  * tokens from repeated separators and multi-byte UTF-8. */
class DecontaminateHashedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("hashed-decon-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("span hashes equal gram-string hashes, with repeated separators and UTF-8") {
    val texts = Seq(
      "a b c d e",
      "a  b c d e",          // empty token from the double space
      " lead and trail ",    // empty first/last tokens
      "ünï b c 多字节 e x")
    for (t <- texts; n <- Seq(2, 3)) {
      val spans = TextHash.spanNgramHashes(t, n).map(_.toSeq).toSet
      val ws = t.split(" ", -1)
      val strings = (0 to ws.length - n)
        .map(i => ws.slice(i, i + n).mkString(" ")).distinct
        .map(g => TextHash.ngramHashPair(g).toSeq).toSet
      assert(spans == strings, s"mismatch for '$t' n=$n")
    }
    // below-n texts produce nothing
    assert(TextHash.spanNgramHashes("one two", 3).isEmpty)
  }

  test("decontaminateHashed == decontaminate on the documents corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = TextFixtures.benchmarkNgrams(spark, sfDir)
    val exact = PipelineOps.decontaminate(docs, "doc_id", "text", bench, n = 8)
    val hashed = PipelineOps.decontaminateHashed(docs, "doc_id", "text", bench, n = 8)
    assert(hashed.exceptAll(exact).count() == 0L)
    assert(exact.exceptAll(hashed).count() == 0L)
    assert(exact.where("contaminated").count() > 0L)
  }
}
