package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class HitsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("hits-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Single-threaded reference: the identical integer recurrence. */
  private def ref(edges: Seq[(String, String, Long)],
                  iters: Int): Map[String, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val S = Hits.Scale
    var hub = nodes.map(_ -> S).toMap
    var auth = Map.empty[String, Long]
    def rescale(m: Map[String, Long]): Map[String, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * S / mx }
    }
    (1 to iters).foreach { _ =>
      val a = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d, w) => a(d) += hub(s) * w }
      auth = rescale(nodes.map(v => v -> a(v)).toMap)
      val h = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d, w) => h(s) += auth(d) * w }
      hub = rescale(nodes.map(v => v -> h(v)).toMap)
    }
    nodes.map(v => v -> ((auth(v), hub(v)))).toMap
  }

  private val graph = Seq(
    ("a", "b", 2L), ("a", "c", 1L), ("b", "c", 3L),
    ("c", "a", 1L), ("d", "c", 5L), ("d", "a", 1L))

  test("hits matches the single-threaded integer reference bit-for-bit") {
    val s = spark
    import s.implicits._
    for (iters <- Seq(1, 2, 3)) {
      val got = Hits.hits(
          graph.toDF("src_domain", "dst_domain", "n_links"), iters)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == ref(graph, iters), s"iters=$iters")
    }
  }

  test("hits admits realistically weighted graphs (total weight far above " +
       "the old Scale-squared static bound) and stays bit-exact") {
    val s = spark
    import s.implicits._
    // totW = 170_001 — the former Scale²·totW guard capped totW at ~9223,
    // rejecting this graph outright; the half-pass bound Scale·totW and the
    // runtime rescale guard admit it
    val heavy = Seq(("a", "b", 100000L), ("b", "a", 50000L),
      ("c", "b", 20000L), ("c", "a", 1L))
    val got = Hits.hits(heavy.toDF("src_domain", "dst_domain", "n_links"), 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == ref(heavy, 2))
    assert(got.values.map(_._1).max == Hits.Scale) // max-normed
  }

  test("hits is partitioning-invariant") {
    val s = spark
    import s.implicits._
    val base = ref(graph, 2)
    for (parts <- Seq(1, 3, 7)) {
      val got = Hits.hits(
          graph.toDF("src_domain", "dst_domain", "n_links")
            .repartition(parts), 2)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == base, s"parts=$parts")
    }
  }

  test("authorities concentrate where hubs point") {
    val s = spark
    import s.implicits._
    val got = Hits.hits(graph.toDF("src_domain", "dst_domain", "n_links"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // c receives the heaviest in-links (3 from b, 5 from d) -> top authority
    assert(got("c") == Hits.Scale)
    assert(got.values.forall(v => v >= 0 && v <= Hits.Scale))
  }

  test("an empty or weightless graph fails its require, not with an NPE") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(String, String, Long)]
      .toDF("src_domain", "dst_domain", "n_links")
    // NULL link counts sum to NULL, like the empty graph's total
    val weightless = Seq(("a", "b", Option.empty[Long]))
      .toDF("src_domain", "dst_domain", "n_links")
    for (g <- Seq(empty, weightless)) {
      val e = intercept[IllegalArgumentException](Hits.hits(g, 2))
      assert(e.getMessage.contains("degenerate graph"), e.getMessage)
    }
  }
}
