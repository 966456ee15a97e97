package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TextFixtures

/** The one-pass clean-flags UDF must reproduce the expression-tree gates
  * bit-for-bit: langId argmax/tie-break, the quality double formula in the
  * exact Catalyst operation order, and the bigram dup fraction. */
class CleanFlagsParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("cleanflags-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val keepLang = "en"
  private val minQuality = 0.48
  private val maxDupFrac = 0.06

  private def compareOn(df: org.apache.spark.sql.DataFrame): Unit = {
    val text = col("text")
    val udfFlags = PipelineOps.cleanFlagsUdf(
      TextFixtures.langProfiles, TextFixtures.qualityStopwords,
      keepLang, minQuality, maxDupFrac)(text).as("f")
    // independent expression-tree reconstruction of each gate
    val rep = PipelineOps.repetitionSignals(df, "doc_id", "text")
      .select(col("id").as("doc_id"),
        (when(col("n_bigrams") === 0, lit(0.0))
          .otherwise((col("n_bigrams") - col("n_distinct_bigrams")).cast("double")
            / col("n_bigrams").cast("double")) <= maxDupFrac).as("exp_rep"))
    val got = df.select(col("doc_id"),
        udfFlags,
        (TextOps.langId(text, TextFixtures.langProfiles) === keepLang).as("exp_lang"),
        (TextOps.qualityScore(text, length(text), TextFixtures.qualityStopwords)
          >= minQuality).as("exp_quality"))
      .join(rep, "doc_id")
      .where(col("f._1") =!= col("exp_lang") ||
             col("f._2") =!= col("exp_quality") ||
             col("f._3") =!= col("exp_rep"))
    assert(got.count() == 0L, got.limit(5).collect().mkString("\n"))
  }

  test("parity on the documents corpus") {
    compareOn(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")))
  }

  test("parity on adversarial texts (empty, separators, unicode, repeats)") {
    import spark.implicits._
    val df = Seq(
      (1L, ""),
      (2L, " "),
      (3L, "the the the the the"),
      (4L, "a  b   c"),
      (5L, "ünï 多字节 the a of"),
      (6L, "x " * 200 + "x"),
      (7L, TextFixtures.langProfiles.flatMap(_._2).mkString(" ")) // all profiles tie-ish
    ).toDF("doc_id", "text")
    compareOn(df)
  }
}
