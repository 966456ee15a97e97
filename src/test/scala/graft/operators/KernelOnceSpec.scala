package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, NamedLambdaVariable}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** The single-evaluation fence on the exact kernels (GeoFunctions header),
  * checked on executed plans: no join condition and no filter calls a clip
  * kernel, each clip kernel runs in exactly one projection per fragment
  * stage, the fragment county stage measures each weight feature in one
  * projection and in no filter, and each fragment stage measures its
  * clipped pieces in one projection and in no filter. */
class KernelOnceSpec extends AnyFunSuite with BeforeAndAfterAll {
  import KernelOnceSpec._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("kernel-once-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    graft.spark.PersistTracker.drain()
    if (spark != null) spark.stop()
  }

  /** The distinct nodes of `build`'s executed plan once it has run: a
    * cached relation's plan is reached once per scan of it, kept once. */
  private def plan(build: => DataFrame): Seq[SparkPlan] = {
    graft.spark.PersistTracker.drain()
    spark.catalog.clearCache()
    val df = build
    df.collect()
    val ns = SurrogatePlanSpec.nodes(df.queryExecution.executedPlan)
    ns.zipWithIndex.collect { case (n, i) if ns.indexWhere(_ eq n) == i => n }
  }

  /** Calls of kernel `k` in `e`, found by their pretty name. */
  private def calls(k: String)(e: Expression): Seq[Expression] =
    e.collect { case n if n.prettyName == k => n }

  /** A measure of a clipped piece (a `frag_*` column or an element of
    * one), as opposed to a measure of the weight feature itself. Pushed-
    * down filters inline the feature's own expression, so the feature is
    * recognised by what it is not. */
  private def onPiece(u: Expression): Boolean = u.children.exists(_.exists {
    case r: AttributeReference => r.name.startsWith("frag_")
    case _: NamedLambdaVariable => true
    case _ => false
  })

  /** Each clip kernel is called in `projections(k)` projections (0 when
    * absent) and in no filter or join condition; the weight measure
    * kernel, when given, is called on the feature in one projection and
    * in no filter; measure kernel `k` of `pieces` is called on clipped
    * pieces in `pieces(k)` projections and in no filter. */
  private def assertOnce(p: Seq[SparkPlan], projections: Map[String, Int],
                         weight: Option[String],
                         pieces: Map[String, Int]): Unit = {
    val guards = p.collect {
      case f: FilterExec => f.condition
      case j: BaseJoinExec if j.condition.nonEmpty => j.condition.get
    }
    val projects = p.collect { case pr: ProjectExec => pr.projectList }
    def check(what: String, hit: Expression => Boolean, n: Int): Unit = {
      assert(!guards.exists(hit),
        s"$what in a filter or join condition:\n${guards.filter(hit).mkString("\n")}")
      val in = projects.count(_.exists(hit))
      assert(in == n, s"$what in $in projections, expected $n")
    }
    ClipKernels.foreach(k =>
      check(k, calls(k)(_).nonEmpty, projections.getOrElse(k, 0)))
    weight.foreach(k =>
      check(s"$k of the weight feature", calls(k)(_).exists(!onPiece(_)), 1))
    pieces.foreach { case (k, n) =>
      check(s"$k of a clipped piece", calls(k)(_).exists(onPiece), n)
    }
  }

  private def counties = TpchGeo.counties(spark)
  private def tracts = TpchGeo.tracts(spark, SurrogatePlanSpec.SfDir)
  private val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)

  test("polySurrogate clips each candidate and each (fragment, cell) once") {
    assertOnce(plan(Surrogate.polySurrogate(tracts, counties, g, d, z,
        srgCode = 1, weight = Some("p_size"))),
      Map("poly_clip_geom" -> 1, "poly_cell_clip_area" -> 1),
      Some("poly_area"), Map("poly_area" -> 1))
  }

  test("lineSurrogate clips each candidate and each (piece, cell) once") {
    assertOnce(plan(Surrogate.lineSurrogate(
        TpchGeo.roads(spark, SurrogatePlanSpec.SfDir), counties, g, d, z,
        srgCode = 2)),
      Map("line_clip_segs" -> 1, "line_cell_clip_len" -> 1),
      Some("line_len"), Map("line_len" -> 1))
  }

  test("curved lineSurrogate clips each candidate and each (piece, cell) once") {
    assertOnce(plan(Surrogate.lineSurrogate(
        TpchGeo.roadsLL(spark, SurrogatePlanSpec.SfDir), TpchGeo.countiesLL(spark),
        TpchGeo.gridLL, TpchGeo.domainLL, z, srgCode = 3, curved = true)),
      Map("line_clip_segs" -> 1, "line_cell_clip_len_curved" -> 1),
      Some("great_circle_len"), Map("great_circle_len" -> 1))
  }

  test("polySurrogateToPolys clips once in each of its two fragment stages") {
    val s = spark
    import s.implicits._
    val quads = (for { qy <- 0 to 1; qx <- 0 to 1 } yield {
      val x0 = 1000.0 + qx * 3000; val y0 = 1000.0 + qy * 3000
      (1 + qx + qy * 2,
        Seq(Seq(x0, y0, x0 + 3000, y0, x0 + 3000, y0 + 3000, x0, y0 + 3000)))
    }).toDF("out_id", "geom")
    assertOnce(plan(Surrogate.create(WeightKind.PolyW, tracts, counties,
        Surrogate.Polys(quads), d, z, srgCode = 4)),
      Map("poly_clip_geom" -> 2), Some("poly_area"), Map("poly_area" -> 2))
  }

  test("areaPercent clips each (polygon, cell) once") {
    assertOnce(plan(Allocate.areaPercent(
        tracts.withColumn("category", col("p_partkey") % 10), "category", g)),
      Map("poly_cell_clip_area" -> 1), None, Map.empty)
  }
}

object KernelOnceSpec {
  /** The fenced exact clip kernels, by their GeoFunctions kernel names. */
  val ClipKernels: Seq[String] = Seq("poly_clip_geom", "line_clip_segs",
    "poly_cell_clip_area", "line_cell_clip_len", "line_cell_clip_len_curved")
}
