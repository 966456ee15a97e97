package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.text.{TextOps, PipelineOps}
import graft.fixtures.TextFixtures

/** The corpus-cleaning filter stack (language gate, quality gate,
  * repetition gate, narrow decontamination, PII redaction) is built from
  * narrow codegen'd maps only — so the SAME transform function runs
  * unchanged over a bounded table and an unbounded append-mode stream with
  * identical results. (The stateful stages — exact dedup, hit-count
  * decontamination — are the documented batch/complete-mode path.) */
class CleanStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("clean-stream-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** One transform, used verbatim for batch and stream. */
  private def clean(df: DataFrame, bench: Seq[String]): DataFrame = {
    val gated = df
      .where(TextOps.langId(col("text"), TextFixtures.langProfiles) === "en")
      .where(TextOps.qualityScore(col("text"), length(col("text")),
        TextFixtures.qualityStopwords) >= 0.48)
    val flagged = PipelineOps.decontaminateNarrow(gated, "doc_id", "text",
      bench, n = 8)
    PipelineOps.redactPii(flagged, "doc_id", "text") // preserves contaminated
  }

  test("clean filter stack: append-mode stream equals batch, row for row") {
    import spark.implicits._
    val docs = TextFixtures.piiCorpus(spark, sfDir)
    val bench = TextFixtures.benchmarkNgrams(spark, sfDir)
      .collect().map(_.getString(0)).toSeq

    val batch = clean(docs, bench)
      .select("id", "n_emails", "n_phones", "n_ips", "redacted", "contaminated")
      .orderBy("id").collect().map(_.toString).toSeq

    val mem = MemoryStream[(Long, String)](spark)
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    val q = clean(streamDocs, bench)
      .writeStream.format("memory").queryName("cleaned")
      .outputMode("append").start()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = rows.splitAt(rows.length / 2)
    mem.addData(a.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("cleaned")
      .select("id", "n_emails", "n_phones", "n_ips", "redacted", "contaminated")
      .orderBy("id").collect().map(_.toString).toSeq
    q.stop()

    assert(streamed == batch && batch.nonEmpty)
  }
}
