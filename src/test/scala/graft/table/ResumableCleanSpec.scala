package graft.table

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.text.{TextOps, PipelineOps}
import graft.fixtures.TextFixtures

/** The corpus-cleaning pipeline run as committed snapshot stages: a
  * restarted driver resumes from the last committed stage without
  * recomputing it (the north rule's checkpoint/resume requirement applied
  * to the training-data path), and every stage carries per-file row/byte
  * metrics in its manifest. */
class ResumableCleanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("resumable-clean-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("clean pipeline resumes from committed stages; manifests carry metrics") {
    val root = graft.Scratch.dir("graft_resume_clean").toString
    val docs = TextFixtures.dupCorpus(spark, sfDir)
    val bench = TextFixtures.benchmarkNgrams(spark, sfDir)

    // first run: both stages compute and commit
    val t1 = new SnapshotTable(root)
    val gated1 = Resumable.stage(t1, spark, "gated") {
      docs.where(TextOps.langId(col("text"), TextFixtures.langProfiles) === "en")
    }
    val labels1 = Resumable.stage(t1, spark, "labels") {
      PipelineOps.cleanCorpusStages(gated1, "doc_id", "text", bench,
        TextFixtures.langProfiles, TextFixtures.qualityStopwords,
        keepLang = "en", minQuality = 0.48, maxDupFrac = 0.06, n = 8)
    }
    val firstRun = labels1.orderBy("id").collect().map(_.toString).toSeq
    assert(firstRun.nonEmpty)

    // "restart": a fresh driver over the same table root. Stage closures
    // now throw — proving committed stages are READ BACK, not recomputed.
    val t2 = new SnapshotTable(root)
    val gated2 = Resumable.stage(t2, spark, "gated") {
      fail("gated stage must not recompute after restart")
    }
    val labels2 = Resumable.stage(t2, spark, "labels") {
      fail("labels stage must not recompute after restart")
    }
    assert(gated2.count() === gated1.count())
    assert(labels2.orderBy("id").collect().map(_.toString).toSeq === firstRun)

    // per-stage lineage + metrics in the manifest chain
    val snaps = t2.snapshots
    assert(snaps.map(_.stage).toSet === Set("gated", "labels"))
    val labelSnap = t2.findStage("labels").get
    assert(labelSnap.rows === firstRun.size)
    assert(labelSnap.files.nonEmpty &&
      labelSnap.files.forall(f => f.bytes > 0 && f.rows >= 0))
    assert(labelSnap.parentId.contains(t2.findStage("gated").get.id))
  }
}
