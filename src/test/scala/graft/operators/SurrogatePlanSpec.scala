package graft.operators

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** Plan-shape gate for the three grid surrogates: the executed plan of
  * each, written to the noop sink, keeps its count of shuffle exchanges,
  * broadcast exchanges, explodes and cached-relation scans. Persists and
  * exchanges are where the surrogate's cost lives, so a refactor that
  * moves one shows up here. No surrogate or post-pass sorts its output
  * globally: row order is the SMOKE sinks' job. */
class SurrogatePlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SurrogatePlanSpec._

  private var spark: SparkSession = _
  private val captured = new LinkedBlockingQueue[QueryExecution]()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("surrogate-plan-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = captured.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  override def afterAll(): Unit = {
    graft.spark.PersistTracker.drain()
    if (spark != null) spark.stop()
  }

  /** Nodes of the plan that writes `build` to the noop sink. The cache is
    * cleared first, so the persists `build` makes are the only ones. */
  private def executed(build: => DataFrame): Seq[SparkPlan] = {
    graft.spark.PersistTracker.drain()
    spark.catalog.clearCache()
    build.write.format("noop").mode("overwrite").save()
    var qe = captured.poll(30, TimeUnit.SECONDS)
    while (qe != null && !qe.executedPlan.isInstanceOf[V2TableWriteExec])
      qe = captured.poll(30, TimeUnit.SECONDS)
    assert(qe != null, "the noop write's plan was not captured")
    nodes(qe.executedPlan)
  }

  private def shape(build: => DataFrame): Shape = {
    val ns = executed(build)
    Shape(ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      ns.count(_.isInstanceOf[GenerateExec]),
      ns.count(_.isInstanceOf[InMemoryTableScanExec]))
  }

  private def counties = TpchGeo.counties(spark)
  private val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)

  test("pointSurrogate keeps its exchanges, explodes and persists") {
    val got = shape(Surrogate.pointSurrogate(
      TpchGeo.points(spark, SfDir), counties, g, d, z, srgCode = 1))
    assert(got == PointShape)
  }

  test("polySurrogate keeps its exchanges, explodes and persists") {
    val got = shape(Surrogate.polySurrogate(
      TpchGeo.tracts(spark, SfDir), counties, g, d, z, srgCode = 2,
      weight = Some("p_size")))
    assert(got == PolyShape)
  }

  test("lineSurrogate keeps its exchanges, explodes and persists") {
    val got = shape(Surrogate.lineSurrogate(
      TpchGeo.roads(spark, SfDir), counties, g, d, z, srgCode = 3))
    assert(got == LineShape)
  }

  test("the persisted W∩D fragments carry no weight geometry") {
    // the grid targets persist nothing; the output-polygon targets persist
    // their W∩D rows for a second join
    def outPolys = counties.select(col("fips").as("out_id"), col("geom"))
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "polySurrogateToPolys" -> (() => Surrogate.create(WeightKind.PolyW,
        TpchGeo.tracts(spark, SfDir), counties, Surrogate.Polys(outPolys),
        d, z, srgCode = 2, weight = Some("p_size"))),
      "lineSurrogateToPolys" -> (() => Surrogate.create(WeightKind.LineW,
        TpchGeo.roads(spark, SfDir), counties, Surrogate.Polys(outPolys),
        d, z, srgCode = 3)))
    builds.foreach { case (name, build) =>
      val cached = executed(build()).collect {
        case m: InMemoryTableScanExec => m.relation.output.map(_.name)
      }
      assert(cached.nonEmpty, s"$name persists nothing")
      cached.foreach(cols => assert(!cols.contains("geom") && !cols.contains("line"),
        s"$name caches ${cols.mkString(", ")}"))
    }
  }

  test("no surrogate or post-pass sorts globally: no range exchange, no global sort") {
    def points = Surrogate.pointSurrogate(
      TpchGeo.points(spark, SfDir), counties, g, d, z, srgCode = 1)
    def tracts = Surrogate.polySurrogate(
      TpchGeo.tracts(spark, SfDir), counties, g, d, z, srgCode = 2,
      weight = Some("p_size"))
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "pointSurrogate" -> (() => points),
      "polySurrogate" -> (() => tracts),
      "lineSurrogate" -> (() => Surrogate.lineSurrogate(
        TpchGeo.roads(spark, SfDir), counties, g, d, z, srgCode = 3)),
      "pointSurrogateToPolys" -> (() => Surrogate.create(WeightKind.PointW,
        TpchGeo.points(spark, SfDir), counties,
        Surrogate.Polys(counties.withColumnRenamed("fips", "out_id")),
        d, z, srgCode = 4)),
      "PostOps.merge" -> (() => PostOps.merge(points, tracts, 0.5, 0.5, 5)),
      "PostOps.gapfill" -> (() => PostOps.gapfill(Seq(tracts, points), 6)))
    builds.foreach { case (name, build) =>
      val ns = executed(build())
      val ranges = ns.collect {
        case x: ShuffleExchangeExec if x.outputPartitioning.isInstanceOf[RangePartitioning] => x
      }
      val sorts = ns.collect { case x: SortExec if x.global => x }
      assert(ranges.isEmpty && sorts.isEmpty,
        s"$name: ${(ranges ++ sorts).mkString("\n")}")
    }
  }

  test("merge, gapfill and diffSurr over checkpointed inputs: no join, no broadcast, one shuffle") {
    val points = Surrogate.pointSurrogate(
      TpchGeo.points(spark, SfDir), counties, g, d, z, srgCode = 1).localCheckpoint()
    val tracts = Surrogate.polySurrogate(
      TpchGeo.tracts(spark, SfDir), counties, g, d, z, srgCode = 2,
      weight = Some("p_size")).localCheckpoint()
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "PostOps.merge" -> (() => PostOps.merge(points, tracts, 0.5, 0.5, 5)),
      "PostOps.gapfill" -> (() => PostOps.gapfill(Seq(tracts, points), 6)),
      "PostOps.diffSurr" -> (() => PostOps.diffSurr(tracts, points)))
    builds.foreach { case (name, build) =>
      val ns = executed(build())
      val joins = ns.collect { case j: BaseJoinExec => j }
      val broadcasts = ns.collect { case x: BroadcastExchangeExec => x }
      val shuffles = ns.collect { case x: ShuffleExchangeExec => x }
      assert(joins.isEmpty && broadcasts.isEmpty && shuffles.size == 1,
        s"$name: ${(joins ++ broadcasts ++ shuffles).mkString("\n")}")
    }
  }
}

object SurrogatePlanSpec {
  /** TESTDATA.md's sf0.001 tables. */
  val SfDir = graft.TestData.sf("0.001")

  /** Every node of an executed plan, pre-order, through adaptive wrappers,
    * query stages, reused exchanges and the plans of cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  final case class Shape(shuffles: Int, broadcasts: Int, generates: Int,
                         cacheScans: Int)

  // Each cached relation's plan is walked once per scan of it, so the
  // exchanges inside a persisted intermediate count once per consumer.
  // The grid surrogates persist nothing: the fragment paths shuffle once,
  // on fips, ahead of their (fips, cell) aggregate and both tail windows;
  // the point path keeps its partial aggregate and shuffles once more on
  // fips for the windows. The one broadcast is the county side of the
  // county join.
  val PointShape = Shape(shuffles = 2, broadcasts = 1, generates = 1, cacheScans = 0)
  val PolyShape = Shape(shuffles = 1, broadcasts = 1, generates = 3, cacheScans = 0)
  val LineShape = Shape(shuffles = 1, broadcasts = 1, generates = 4, cacheScans = 0)
}
