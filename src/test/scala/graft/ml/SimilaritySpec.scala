package graft.ml

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Approximate paths (LSH, IVF) measured against the brute-force baseline:
  * recall must clear a floor on the driver-generated embeddings. */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.01")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("sim-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def layers() = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    (q, c)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LSH ANN recall ≥ 0.5 vs brute force at k=10 (6 planes × 16 tables)") {
    // collision prob per table for angle θ is (1-θ/π)^planes — top-10
    // neighbors on these embeddings sit at moderate angles, so recall needs
    // shorter codes and more tables than the near-dup (τ≈1) configuration
    val (q, c) = layers()
    val exact = pairs(Similarity.cosineTopK(q, c, 10))
    val approx = pairs(Similarity.annLshTopK(q, c, 10, tables = 16, planes = 6))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall")
  }

  test("IVF ANN recall ≥ 0.5 vs brute force at k=10 with nprobe=8/16") {
    val (q, c) = layers()
    val exact = pairs(Similarity.cosineTopK(q, c, 10))
    val approx = pairs(Similarity.annIvfTopK(q, c, 10, nlist = 16, nprobe = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("IVF probes a strict candidate subset (the pruning is real)") {
    val (q, c) = layers()
    val full = q.count() * (c.count() - 1)
    val assign = Similarity.ivfAssignUdf(16, 0)
    val bucketSizes = c.withColumn("l", assign(col("cvec")))
      .groupBy("l").count().collect().map(_.getLong(1))
    assert(bucketSizes.length > 1, "all vectors fell into one IVF list")
    assert(bucketSizes.sum == c.count())
  }

  test("cosineTopK probe guard rejects oversized query sides") {
    val (_, c) = layers()
    val bigQ = c.select(col("cid").as("qid"), col("cvec").as("qvec"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosineTopK(bigQ, c, k = 5, maxProbes = 10)
    }
    assert(ex.getMessage.contains("annLshTopK"))
  }
}
