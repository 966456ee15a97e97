package graft.ml

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class KMeansIntSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("kmeans-int-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(vecs: Seq[(Long, Seq[Int])], cents: Seq[(Long, Seq[Int])])
      : Map[(Long, Int), (Int, Long, Long)] = {
    val s = spark
    import s.implicits._
    val out = KMeansInt.lloydStep(
        vecs.toDF("id", "q8").repartition(4),
        cents.toDF("cid", "cq8"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getLong(3), r.getLong(4))))
      .toMap
    graft.spark.PersistTracker.drain()
    out
  }

  test("assignment by integer L2 with (dist, cid) tie-break; shifted-domain mean") {
    // two clusters on a line; vector 3 is equidistant to both centroids →
    // ties to cid 0
    val vecs = Seq(
      1L -> Seq(-6, 0), 2L -> Seq(-5, 0),   // near c0 at (-6, 0)
      3L -> Seq(0, 0),                       // tie (36 vs 36) → c0
      4L -> Seq(5, 0), 5L -> Seq(7, 0))      // near c1 at (6, 0)
    val cents = Seq(0L -> Seq(-6, 0), 1L -> Seq(6, 0))
    val got = run(vecs, cents)
    // c0 members: {-6, -5, 0} → sum+127·3 = 370 → 370/3 = 123 → -4
    // (floor(-11/3) = -4, where truncation would give -3 — the shifted
    // domain pins floor semantics)
    assert(got((0L, 0)) === ((-4, 3L, (0L + 1L + 36L))))
    assert(got((0L, 1)) === ((0, 3L, 37L)))
    // c1 members: {5, 7} → mean 6
    assert(got((1L, 0)) === ((6, 2L, (1L + 1L))))
    assert(got((1L, 1)) === ((0, 2L, 2L)))
  }

  test("empty cluster keeps its previous centroid with zero members") {
    val vecs = Seq(1L -> Seq(0, 0), 2L -> Seq(1, 0))
    val cents = Seq(0L -> Seq(0, 0), 1L -> Seq(100, 100))
    val got = run(vecs, cents)
    assert(got((1L, 0)) === ((100, 0L, 0L)))
    assert(got((1L, 1)) === ((100, 0L, 0L)))
    assert(got((0L, 0))._2 === 2L)
  }

  test("one step over the quantized embeddings fixture is deterministic across partitionings") {
    val s = spark
    val q = Quantize.int8(
      s.read.parquet(graft.TestData.sf("0.001") + "/embeddings.parquet"),
      "vec_id", "embedding").localCheckpoint(true)
    import org.apache.spark.sql.functions._
    val cents = q.where(col("id") < 8)
      .select(col("id").as("cid"), col("q8").as("cq8"))
    def snap(parts: Int) = {
      val out = KMeansInt.lloydStep(q.repartition(parts), cents)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
      graft.spark.PersistTracker.drain()
      out
    }
    val a = snap(1)
    assert(a === snap(8))
    assert(a.size === 8 * 64 && a.values.map(_._2).sum === 500L * 64)
  }
}
