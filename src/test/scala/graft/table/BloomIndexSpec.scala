package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class BloomIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var root: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("bloomindex-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    root = graft.Scratch.dir("bloomidx").toString
    val s = spark
    import s.implicits._
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(16, pmod(col("k") * 7919, lit(16)))
      .write.mode("overwrite").parquet(root)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("no false negatives: every present key's file survives the probe") {
    val s = spark
    import s.implicits._
    val idx = BloomIndex.build(s, root, "k", mbits = 4096, k = 3).cache()
    val probes = Seq(0L, 17L, 333L, 999L)
    val cand = BloomIndex.candidateFiles(idx, probes.toDF("key"), 4096, 3)
      .collect().map(_.getString(0))
    val rows = s.read.parquet(cand: _*)
      .where(col("k").isin(probes: _*)).collect()
    assert(rows.length == probes.length,
      s"lookup through candidates lost rows: ${rows.length} of ${probes.length}")
    idx.unpersist()
  }

  test("prunes most files for a few point keys and is partition-invariant") {
    val s = spark
    import s.implicits._
    val idx = BloomIndex.build(s, root, "k", mbits = 4096, k = 3).cache()
    val total = idx.count()
    assert(total >= 8, s"fixture must span several files, got $total")
    val cand = BloomIndex.candidateFiles(idx, Seq(42L).toDF("key"), 4096, 3)
      .count()
    assert(cand <= total / 2,
      s"a single key must prune to a few files: $cand of $total survive")
    // rebuilding from a differently-partitioned read gives the same index
    val again = BloomIndex.build(s, root, "k", mbits = 4096, k = 3)
    assert(again.exceptAll(idx).isEmpty && idx.exceptAll(again).isEmpty)
    idx.unpersist()
  }

  test("absent keys can prune to zero files (no lookup needed)") {
    val s = spark
    import s.implicits._
    val idx = BloomIndex.build(s, root, "k", mbits = 4096, k = 3)
    val cand = BloomIndex.candidateFiles(
      idx, Seq(1234567890123L).toDF("key"), 4096, 3).count()
    assert(cand <= 1, s"an absent key should survive almost nowhere: $cand")
  }
}
