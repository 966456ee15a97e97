package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** The BELD tile-pruning semantics (beld3smk.c 24-tile layout): at 100 TB a
  * spatial query must touch only the partitions whose tiles intersect the
  * query window. Layers partitioned by tile id get this from Catalyst
  * partition pruning — verified here on the physical plan. */
class PartitionPruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("prune-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("tile-partitioned layer scans only the tiles the query touches") {
    val dir = graft.Scratch.dir("tiles").toString
    // tracts partitioned by a 4×4 tile id derived from their origin
    TpchGeo.tracts(spark, graft.TestData.sf("0.001"))
      .withColumn("tile",
        (floor(col("geom").getItem(0).getItem(1) / 2048) * 4 +
         floor(col("geom").getItem(0).getItem(0) / 2048)).cast("int"))
      .write.mode("overwrite").partitionBy("tile").parquet(dir)

    val pruned = spark.read.parquet(dir).where(col("tile") === 5)
    val plan = pruned.queryExecution.executedPlan.toString

    assert(Files.list(java.nio.file.Paths.get(dir)).iterator()
      .asScala.count(_.getFileName.toString.startsWith("tile=")) > 4)
    // partition pruning shows up as a partition filter on the scan
    assert(plan.contains("PartitionFilters: [isnotnull(tile"),
      s"no partition filter in:\n$plan")
    assert(pruned.count() > 0)
    // column pruning: reading 2 columns reads only those + partition col
    val narrow = spark.read.parquet(dir).where(col("tile") === 5)
      .select("p_partkey", "p_size")
    val rs = narrow.queryExecution.executedPlan.toString
    assert(rs.contains("ReadSchema: struct<p_partkey:bigint,p_size:"),
      s"scan not pruned to 2 columns:\n$rs")
  }

  test("q45 BELD allocate's scan carries the tile partition filter") {
    val df = graft.SparkEntry.queries("q45_beld_allocate")(
      spark, graft.TestData.sf("0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[tile#\\d+ IN \\(0,1,4,5\\)\\].*"),
      s"tile IN filter not pushed to partitions:\n$plan")
    assert(df.count() > 0)
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
