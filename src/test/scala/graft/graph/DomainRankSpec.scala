package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class DomainRankSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("domain-rank-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Single-threaded reference: the identical integer recurrence. */
  private def ref(edges: Seq[(String, String, Long)], iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val S = 1000000000000L
    val base = S / nodes.size
    val ow = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var pr = nodes.map(_ -> base).toMap
    (1 to iters).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d, w) => contrib(d) += pr(s) * w / ow(s) }
      pr = nodes.map(v => v -> (15L * base / 100L + 85L * contrib(v) / 100L)).toMap
    }
    pr
  }

  private def run(edges: Seq[(String, String, Long)], iters: Int,
                  parts: Int = 4): Map[String, Long] = {
    val s = spark
    import s.implicits._
    DomainRank.pageRank(
        edges.toDF("src_domain", "dst_domain", "n_links").repartition(parts),
        iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("matches the integer reference bit-for-bit on random graphs") {
    val rnd = new scala.util.Random(88L)
    (1 to 3).foreach { round =>
      val nodes = (0 until 15).map(i => s"d$i")
      val edges = (for {
        s <- nodes; d <- nodes
        if s != d && rnd.nextInt(4) == 0
      } yield (s, d, rnd.nextInt(9) + 1L)).toSeq
      assert(edges.nonEmpty)
      assert(run(edges, 5) === ref(edges, 5), s"round $round: $edges")
    }
  }

  test("hub of a star out-ranks its spokes; result is partitioning-invariant") {
    val edges = Seq(("s1", "hub", 1L), ("s2", "hub", 1L), ("s3", "hub", 2L),
      ("hub", "s1", 1L))
    val a = run(edges, 4, parts = 1)
    val b = run(edges, 4, parts = 7)
    assert(a === b)
    assert(a("hub") > a("s2") && a("hub") > a("s3"))
    assert(a === ref(edges, 4))
    // integer mass is conserved up to div truncation: never created
    assert(a.values.sum <= 1000000000000L)
  }

  test("an empty edge set fails naming the empty graph, personalized or not") {
    val s = spark
    import s.implicits._
    val g = intercept[IllegalArgumentException](DomainRank.pageRank(
      Seq.empty[(String, String, Long)].toDF("src_domain", "dst_domain", "n_links"), 4))
    assert(g.getMessage.contains("empty graph"), g.getMessage)
    val p = intercept[IllegalArgumentException](DomainRank.personalizedPageRank(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"), Seq(1L), 4))
    assert(p.getMessage.contains("empty graph"), p.getMessage)
  }
}
