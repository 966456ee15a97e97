package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.text.TextOps

class FixpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("fixpoint-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Spark jobs started by `body`. */
  private def jobsOf(body: => Unit): Int = graft.Jobs.of(spark)(body)._2

  // Jobs per call plus the collect of its result, on each operator's spec
  // fixture, as the hand-written loops started them before the operators
  // moved onto Fixpoint (local[4], 4 shuffle partitions, AQE on): a bound,
  // not a target. Fixpoint's probe and checkpoint must never cost more
  // jobs than the loops it replaced.
  private val handWrittenJobs = Map("bfs" -> 24, "sssp" -> 80, "kcore" -> 18,
    "multibfs" -> 47, "pointerdoubling" -> 13, "scc" -> 65, "cc" -> 29,
    "ccstar" -> 36, "pagerank" -> 33, "ppr" -> 24)

  test("each operator starts no more jobs than its hand-written loop did") {
    val s = spark
    import s.implicits._
    def pin(name: String, call: => DataFrame): Unit = {
      var out: DataFrame = null
      val jobs = jobsOf { out = call } + jobsOf { out.collect() }
      assert(jobs <= handWrittenJobs(name), s"$name started $jobs jobs")
    }
    val bfsEdges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (9L, 3L), (7L, 8L)).toDF("src", "dst")
    pin("bfs", Bfs.depths(bfsEdges, Seq(0L, 9L).toDF("id"), maxDepth = 10))
    val sssp = (0 until 3 * 60).map { i =>
      val s = (i * 7919L) % 60
      val d = (i * 104729L + 13) % 60
      (s, d, (s * 7 + d * 13) % 9 + 1)
    }.distinct.toDF("src", "dst", "w")
    pin("sssp", Sssp.distances(sssp, Seq(0L, 7L).toDF("id"), 10))
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    pin("kcore", KCore.core((k4 ++ Seq((3L, 4L), (4L, 5L), (5L, 6L)))
      .toDF("src", "dst").repartition(4), 3))
    val path = (0L until 6L).sliding(2).map(p => (p(0), p(1))).toSeq
    pin("multibfs", MultiBfs.neighborhoodFunction(path.toDF("src", "dst"), Seq(0L)))
    pin("pointerdoubling", PointerDoubling.resolve(
      Seq((10L, 5L), (5L, 2L), (20L, 15L), (30L, 29L)).toDF("src", "dst")))
    pin("scc", Scc.components(Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 10L), (2L, 10L)).toDF("src", "dst")))
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    pin("cc", TextOps.connectedComponents(nodes, pairs))
    pin("ccstar", TextOps.connectedComponentsStar(nodes, pairs))
    val star = Seq(("s1", "hub", 1L), ("s2", "hub", 1L), ("s3", "hub", 2L),
      ("hub", "s1", 1L)).toDF("src_domain", "dst_domain", "n_links")
    pin("pagerank", DomainRank.pageRank(star.repartition(4), 4))
    pin("ppr", DomainRank.personalizedPageRank(
      Seq((1L, 2L, 1L)).toDF("src", "dst", "w"), Seq(1L), iters = 4))
  }

  test("a step that never converges stops at maxRounds, unconverged") {
    val s = spark
    import s.implicits._
    var probes = 0
    val r = Fixpoint.iterate(Seq(0L).toDF("n"), 5)(_.select((col("n") + 1).as("n"))) {
      st => probes += 1; st.count()
    }
    assert((r.rounds, r.converged, probes) == ((5, false, 5)))
    assert(r.state.head().getLong(0) == 5L)
    // a probe of 0 ends the loop after the round that made it
    val once = Fixpoint.iterate(Seq(0L).toDF("n"), 5)(identity)(_ => 0L)
    assert((once.rounds, once.converged) == ((1, true)))
    assert(Fixpoint.iterate(Seq(0L).toDF("n"), 0)(identity)(_ => 0L).rounds == 0)
  }

  test("the capped callers fail by name when the cap stops them") {
    val s = spark
    import s.implicits._
    val cycle = intercept[IllegalArgumentException] {
      PointerDoubling.resolve(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"),
        maxRounds = 3)
    }
    assert(cycle.getMessage.contains("unresolved after 3 doubling rounds"),
      cycle.getMessage)
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = intercept[IllegalArgumentException] {
      TextOps.connectedComponentsStar((0L to 40L).toDF("id"), chain, 1)
    }
    assert(star.getMessage.contains("connectedComponentsStar did not stabilize in 1 rounds"),
      star.getMessage)
  }
}
