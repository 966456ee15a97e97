package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SccSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("scc-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Reference: brute-force mutual reachability (Floyd-Warshall closure),
    * component id = min mutual-reachable node. */
  private def ref(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => if (a != b) reach(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    nodes.map { v =>
      val i = idx(v)
      val mutual = nodes.filter(u => reach(i)(idx(u)) && reach(idx(u))(i))
      v -> (mutual :+ v).min
    }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Scc.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two rings joined by a one-way bridge stay separate SCCs") {
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 10L), (2L, 10L))
    assert(run(g) === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L))
  }

  test("a DAG is all singletons") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(run(g) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("matches brute force on seeded random digraphs") {
    for (seed <- Seq(3, 17, 91)) {
      val rnd = new scala.util.Random(seed)
      val g = (1 to 60).map(_ =>
        (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
        .filter { case (a, b) => a != b }
      assert(run(g) === ref(g), s"seed=$seed")
    }
  }

  test("an edge set of self-loops only has no components") {
    assert(run(Seq((5L, 5L))).isEmpty)
  }
}
