package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Multimodal plumbing: batch decode schema/partitioning, frame sampling,
  * and stub features feeding the similarity operators. */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("mm-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def media() = {
    import spark.implicits._
    spark.read.parquet(graft.TestData.sf("0.001") + "/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
  }

  test("decodeImageMeta keeps one row per input across partitions, schema typed") {
    val in = media().repartition(7)
    val out = MultimodalOps.decodeImageMeta(in, "doc_id", "media")
    assert(out.count() == in.count())
    assert(out.schema.fieldNames.toSeq ==
      Seq("id", "byteLen", "contentHash", "width", "height"))
    val r = out.where(col("byteLen") <= 0).count()
    assert(r == 0)
  }

  test("frame sampling: ~1 frame per stride·KB, deterministic") {
    val out = media()
      .withColumn("frames", MultimodalOps.frameSampleUdf(col("media"), lit(1)))
      .select(col("doc_id"), size(col("frames")).as("n"),
        length(col("media")).as("len"))
    out.collect().foreach { row =>
      val expected = math.max(1, math.ceil(row.getAs[Int]("len") / 1024.0).toInt)
      assert(row.getAs[Int]("n") == expected)
    }
  }

  test("sampleVideoFrames fans out one row per frame, partition-independent") {
    val in = media()
    val out1 = MultimodalOps.sampleVideoFrames(in, "doc_id", "media", stride = 2)
      .orderBy("id", "frame_idx").collect().map(_.toString).toSeq
    val out7 = MultimodalOps.sampleVideoFrames(in.repartition(7), "doc_id", "media", stride = 2)
      .orderBy("id", "frame_idx").collect().map(_.toString).toSeq
    assert(out1 == out7 && out1.nonEmpty)
    // frame counts follow the stride contract: ceil(len / (1024*stride))
    val counts = MultimodalOps.sampleVideoFrames(in, "doc_id", "media", stride = 2)
      .groupBy("id").count()
      .join(in.select(col("doc_id").as("id"), length(col("media")).as("len")), "id")
      .collect()
    counts.foreach { r =>
      val expected = math.max(1, math.ceil(r.getAs[Int]("len") / 2048.0).toInt)
      assert(r.getAs[Long]("count") == expected)
    }
  }

  test("sniffMimeCol: real encoder magics detected, adversarial payloads " +
       "fall to octet-stream, codegen stays UDF-free") {
    val s = spark
    import s.implicits._
    val rows = Seq[(Long, Array[Byte])](
      (0L, MultimodalOps.encodeTestImage("png", 1L, 3, 2)),
      (1L, MultimodalOps.encodeTestImage("jpg", 1L, 3, 2)),
      (2L, MultimodalOps.encodeTestImage("gif", 1L, 3, 2)),
      (3L, MultimodalOps.encodeTestImage("bmp", 1L, 3, 2)),
      (4L, Containers.Wav.write(8000, 1, 8, new Array[Byte](4))),
      (5L, Array[Byte](0x1f, 0x8b.toByte, 8)),
      (6L, "%PDF-1.7".getBytes("US-ASCII")),
      (7L, "<!DOCTYPE html><p>x</p>".getBytes("US-ASCII")),
      (8L, "<html><body>".getBytes("US-ASCII")),
      // RIFF magic but NOT a WAVE: must not claim audio/wav
      (9L, "RIFF1234AVI LIST".getBytes("US-ASCII")),
      (10L, Array.empty[Byte]),
      (11L, Array[Byte](0x42)), // lone 'B' — too short for BMP's "BM"
      (12L, "plain words".getBytes("US-ASCII")))
    val df = rows.toDF("id", "media")
      .select(col("id"), MultimodalOps.sniffMimeCol(col("media")).as("mime"))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      0L -> "image/png", 1L -> "image/jpeg", 2L -> "image/gif",
      3L -> "image/bmp", 4L -> "audio/wav", 5L -> "application/gzip",
      6L -> "application/pdf", 7L -> "text/html", 8L -> "text/html",
      9L -> "application/octet-stream", 10L -> "application/octet-stream",
      11L -> "application/octet-stream",
      12L -> "application/octet-stream"))
    // no UDF in the plan: the sniffer must live inside codegen
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"sniffer fell out of codegen:\n$plan")
  }

  test("stub features are unit-scale and feed cosine similarity") {
    val feats = media()
      .withColumn("embedding", MultimodalOps.featureUdf(col("media")))
    val q = feats.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("embedding").as("qvec"))
    val c = feats.select(col("doc_id").as("cid"), col("embedding").as("cvec"))
    val top = graft.ml.Similarity.cosineTopK(q, c, k = 3)
    assert(top.count() == q.count() * 3)
    assert(top.agg(max("cos")).collect().head.getDouble(0) <= 1.0)
  }
}
