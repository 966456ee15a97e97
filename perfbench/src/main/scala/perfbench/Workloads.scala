package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.SparkInternals
import graft.cli.SrgTool
import graft.fixtures.{Pages, TpchGeo}
import graft.io.Smoke
import graft.operators.{PostOps, SpatialJoin, Surrogate}

/** Listeners of a traced run; `sync` waits until they have seen every
  * event posted so far. */
final case class Probes(tracer: Tracer, plans: PlanCapture, sync: () => Unit)

/** Seeded inputs under `work` and the Spark steps that time calls into
  * the program. */
abstract class Steps(val spark: SparkSession, val seed: Long, val work: Path) {

  /** Generate this seed's inputs and materialize them under `work`,
    * replacing any earlier copy. */
  def generate(): Unit

  protected val counties: DataFrame = TpchGeo.counties(spark)
  protected def input(name: String): Path = work.resolve("inputs").resolve(name)

  /** Cold start for every timed call: drop the program's tracked persists
    * and every cached plan, so no pass reuses another pass's work, then
    * collect the heap so each call starts from the same heap state. */
  protected def reset(): Unit = {
    graft.spark.PersistTracker.drain()
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Materialize every row and column (count() would let Catalyst prune
    * the computed columns). */
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  protected def writeParquet(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(input(name).toString)

  protected def read(name: String): DataFrame = spark.read.parquet(input(name).toString)

  /** The QueryExecution of the last action. */
  protected def lastPlan(p: Probes) = {
    p.sync()
    p.plans.take().last
  }

  /** Task counters of the jobs run by `body`. */
  protected def sparkCounters(p: Probes)(body: => Unit): Map[String, Double] = {
    p.sync(); p.plans.take()
    val t = new TaskStats
    spark.sparkContext.addSparkListener(t)
    try body finally { p.sync(); spark.sparkContext.removeSparkListener(t) }
    Map(
      "spark.tasks" -> t.tasks.get.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.get.toDouble,
      "spark.spill_bytes" -> t.spill.get.toDouble,
      "spark.gc_share" -> t.gcShare,
      "spark.task_skew" -> t.taskSkew,
      "spark.jobs" -> t.jobs.get.toDouble)
  }

  /** Surrogate.ratio alone: its numerator and denominator tables rebuilt
    * from a surrogate's output and cached, so its span minus the span that
    * reads those cached inputs is the ratio's own time. */
  protected def ratioProbe(k: Int, p: Probes, out: Seq[Row], code: Int): Unit = {
    import spark.implicits._
    val cs = Checks.cells(out)
    val numer = cs.map(c => (c.fips, c.col, c.row, c.numer)).toDF("fips", "col", "row", "numer").cache()
    val denom = cs.map(c => (c.fips, c.denom)).distinct.toDF("fips", "denom").cache()
    noop(numer); noop(denom)
    val in = p.tracer.record(k, "Surrogate.ratio.inputs", None) { noop(numer); noop(denom) }
    p.tracer.record(k, "Surrogate.ratio", Some(in)) { noop(Surrogate.ratio(numer, denom, code)) }
    numer.unpersist(); denom.unpersist()
  }

  protected def ratio(kept: Long, tried: Long): Double =
    if (tried <= 0) 0.0 else kept.toDouble / tried
}

/** A benchmark workload: a timed pass with its output check, and the
  * traced layer-by-layer steps of one pass. */
abstract class Workload(spark: SparkSession, seed: Long, work: Path)
    extends Steps(spark, seed, work) {
  def name: String

  /** Input weight features one pass consumes. */
  def features: Long

  /** One pass: returns its wall seconds (the program call only) and the
    * output check's violations. */
  def pass(k: Int): (Double, Seq[String])

  /** One traced pass: prefix spans into the tracer and layer counters out.
    * Returns (counters, traced wall seconds of the full call, violations). */
  def traced(k: Int, p: Probes): (Map[String, Double], Double, Seq[String])

  /** Whether the traced run has steps that run once, after its passes. */
  def hasTracedOnce: Boolean = false

  /** Those steps, as pass `k`. Returns (counters, violations). */
  def tracedOnce(k: Int, p: Probes): (Map[String, Double], Seq[String]) = (Map.empty, Nil)
}

object Workload {
  val Names: Seq[String] = Seq("pages_srg", "poly_srg")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "pages_srg" => new PagesSrg(spark, seed, work)
    case "poly_srg" => new PolySrg(spark, seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(" | ")})")
  }
}

/** Flagship point surrogate: parquet scan of the page table → geotag →
  * count-mode point surrogate over the counties and TEST8. */
final class PagesSrg(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  val name = "pages_srg"
  val nPages = 500000L
  def features: Long = nPages
  private var geotagged = 0L

  def generate(): Unit = {
    writeParquet(Inputs.pages(spark, nPages, seed, 16), "pages")
    geotagged = Inputs.geotaggedCount(nPages, seed)
  }

  private def tagged: DataFrame = Pages.geotag(read("pages"))
  private def surrogate: DataFrame = Surrogate.pointSurrogate(tagged, counties,
    TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, srgCode = 100)

  def pass(k: Int): (Double, Seq[String]) = {
    reset()
    val out = surrogate
    val s = timed(noop(out))
    (s, Checks.pagesSurrogate(Checks.cells(out.collect().toSeq), geotagged))
  }

  def traced(k: Int, p: Probes): (Map[String, Double], Double, Seq[String]) = {
    val t = p.tracer
    reset()
    // each prefix keeps only the columns the next layer reads, as the full
    // pipeline does; materializing the wide html/text columns instead would
    // charge work to a layer that the pipeline prunes away
    val scan = t.record(k, "scan", None)(noop(read("pages").select("url")))
    reset()
    val geo = t.record(k, "Pages.geotag", Some(scan))(noop(tagged.select("x", "y")))
    val geoPlan = lastPlan(p)
    reset()
    val pip = SpatialJoin.pointInPoly(tagged, counties, TpchGeo.domain, TpchGeo.zres)
    t.record(k, "SpatialJoin.pointInPoly", Some(geo))(noop(pip.select("fips", "x", "y")))
    val survivors = Plans.topRows(lastPlan(p))
    val candidates = SparkInternals.equiJoinRows(
      SpatialJoin.pointInPoly(tagged, counties, TpchGeo.domain, TpchGeo.zres))
    reset()
    val out = surrogate
    var full: Span = null
    val counters = sparkCounters(p) {
      full = t.record(k, "Surrogate.pointSurrogate", Some(geo))(noop(out))
    }
    val rows = out.collect().toSeq
    ratioProbe(k, p, rows, 100)
    val m = counters ++ Map(
      "Pages.geotag.rows_in" -> Plans.scanRows(geoPlan).toDouble,
      "Pages.geotag.rows_out" -> Plans.topRows(geoPlan).toDouble,
      "SpatialJoin.pointInPoly.candidates" -> candidates.toDouble,
      "SpatialJoin.pointInPoly.survivors" -> survivors.toDouble,
      "SpatialJoin.pointInPoly.useful_ratio" -> ratio(survivors, candidates),
      "Surrogate.cells_out" -> rows.size.toDouble)
    (m, full.seconds, Checks.pagesSurrogate(Checks.cells(rows), geotagged))
  }
}

/** Attribute-weight polygon surrogate over high-vertex weight polygons:
  * few rows, much geometry, no geotag. */
final class PolySrg(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  val name = "poly_srg"
  val nPolys = 1000
  def features: Long = nPolys.toLong
  private var weightSum = 0.0

  def generate(): Unit = {
    val polys = Inputs.polygons(nPolys, seed)
    writeParquet(Inputs.polygonTable(spark, polys, 64), "polygons")
    weightSum = polys.map(_.weight).sum
  }

  private def surrogate: DataFrame = Surrogate.polySurrogate(read("polygons"), counties,
    TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, srgCode = 200, weight = Some("weight"))
  private def fragments: DataFrame = SpatialJoin.polyPolyFragments(read("polygons"),
    counties.withColumnRenamed("geom", "bgeom"), TpchGeo.domain, TpchGeo.zres)

  def pass(k: Int): (Double, Seq[String]) = {
    reset()
    val out = surrogate
    val s = timed(noop(out))
    (s, Checks.polySurrogate(Checks.cells(out.collect().toSeq), weightSum))
  }

  def traced(k: Int, p: Probes): (Map[String, Double], Double, Seq[String]) = {
    val t = p.tracer
    reset()
    val w = t.record(k, "weights", None)(noop(read("polygons")))
    reset()
    val fr = t.record(k, "SpatialJoin.polyPolyFragments", Some(w))(noop(fragments))
    val frags = Plans.topRows(lastPlan(p))
    val candidates = SparkInternals.equiJoinRows(fragments)
    reset()
    val out = surrogate
    var full: Span = null
    val counters = sparkCounters(p) {
      full = t.record(k, "Surrogate.polySurrogate", Some(w))(noop(out))
    }
    val (cellRows, nonzero) = Plans.explodeAndFilter(lastPlan(p), "__cellid")
    t.alias(full, "Surrogate.cellClip", Some(fr))
    val rows = out.collect().toSeq
    ratioProbe(k, p, rows, 200)
    val m = counters ++ Map(
      "SpatialJoin.polyPolyFragments.candidates" -> candidates.toDouble,
      "SpatialJoin.polyPolyFragments.fragments" -> frags.toDouble,
      "SpatialJoin.polyPolyFragments.useful_ratio" -> ratio(frags, candidates),
      "Surrogate.cellClip.cell_rows" -> cellRows.toDouble,
      "Surrogate.cellClip.nonzero_rows" -> nonzero.toDouble,
      "Surrogate.cellClip.useful_ratio" -> ratio(nonzero, cellRows),
      "Surrogate.cells_out" -> rows.size.toDouble)
    (m, full.seconds, Checks.polySurrogate(Checks.cells(rows), weightSum))
  }

  override def hasTracedOnce: Boolean = true

  /** The catalog layers, on the small catalog inputs of this seed. */
  override def tracedOnce(k: Int, p: Probes): (Map[String, Double], Seq[String]) = {
    val catalog = new Catalog(spark, seed, work)
    catalog.generate()
    catalog.traced(k, p)
  }
}

/** One SrgTool catalog run: point, polygon and line specs, a merge, a
  * gapfill, normalize, QA and the SMOKE + SRGDESC sink. */
final class Catalog(spark: SparkSession, seed: Long, work: Path,
                    nPages: Long = 40000L, nPolys: Int = 200, nRoads: Int = 2000)
    extends Steps(spark, seed, work) {
  import SrgTool._
  val Codes: Set[Int] = Set(100, 200, 300, 400, 500)

  def generate(): Unit = {
    writeParquet(Inputs.pages(spark, nPages, seed, 4), "catalog_pages")
    writeParquet(Inputs.polygonTable(spark, Inputs.polygons(nPolys, seed), 4), "catalog_polygons")
    writeParquet(Inputs.roads(spark, nRoads, seed, 4), "catalog_roads")
  }

  private def points = Pages.geotag(read("catalog_pages"))
  private def polys = read("catalog_polygons")
  private def roads = read("catalog_roads")

  /** The catalog call: generation, post-passes and the file sink. */
  private def run(dir: Path): Unit =
    SrgTool.run(spark, counties, TpchGeo.grid, TpchGeo.domain, TpchGeo.zres,
      specs = Seq(
        SrgSpec(100, "PAGES", PointW, points),
        SrgSpec(200, "POLYGONS", PolyW, polys, Some("weight")),
        SrgSpec(300, "ROADS", LineW, roads)),
      merges = Seq(MergeSpec(400, "PAGES_POLYGONS", 100, 0.5, 200, 0.5)),
      gapfills = Seq(GapfillSpec(500, "ROADS_PAGES", Seq(300, 100))),
      outDir = Some(dir.toString))

  private def passDir(k: Int, tag: String): Path = {
    val d = work.resolve("catalog_out").resolve(s"$tag-$k")
    Files.deleteIfExists(d.resolve("SRGDESC.txt"))
    d
  }

  def pass(k: Int): (Double, Seq[String]) = {
    reset()
    val dir = passDir(k, "pass")
    val s = timed(run(dir))
    (s, Checks.catalog(dir, Codes))
  }

  /** Spans of the catalog layers, then the whole call with its job count
    * and planning time. Returns (counters, check violations). */
  def traced(k: Int, p: Probes): (Map[String, Double], Seq[String]) = {
    val t = p.tracer
    reset()
    val sp = t.record(k, "points", None)(noop(points))
    val sg = t.record(k, "polygons", None)(noop(polys))
    val sl = t.record(k, "roads", None)(noop(roads))
    def layer(span: String, parent: Span, df: DataFrame): Seq[Row] = {
      reset()
      t.record(k, span, Some(parent))(noop(df))
      df.collect().toSeq
    }
    val (g, d, z) = (TpchGeo.grid, TpchGeo.domain, TpchGeo.zres)
    val ptRows = layer("Surrogate.pointSurrogate", sp,
      Surrogate.pointSurrogate(points, counties, g, d, z, 100, keepSkipped = true))
    val pgRows = layer("catalog.polySurrogate", sg,
      Surrogate.polySurrogate(polys, counties, g, d, z, 200, Some("weight"), keepSkipped = true))
    val lnRows = layer("Surrogate.lineSurrogate", sl,
      Surrogate.lineSurrogate(roads, counties, g, d, z, 300, keepSkipped = true))
    reset()

    // post-passes over cached copies of the generated tables
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "srg_code INT, fips STRING, col INT, row INT, frac DOUBLE, numer DOUBLE, denom DOUBLE, qasum DOUBLE")
    def cached(rows: Seq[Row], s: org.apache.spark.sql.types.StructType): DataFrame = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), s).cache()
      noop(df); df
    }
    val live = (r: Row) => r.getAs[Double]("denom") >= 1e-5
    val a = cached(ptRows.filter(live), schema)
    val b = cached(pgRows.filter(live), schema)
    val c = cached(lnRows.filter(live), schema)
    val in = t.record(k, "PostOps.inputs", None) { noop(a); noop(b); noop(c) }
    val merged = PostOps.merge(a, b, 0.5, 0.5, 400)
    t.record(k, "PostOps.merge", Some(in))(noop(merged))
    val filled = PostOps.gapfill(Seq(c, a), 500)
    t.record(k, "PostOps.gapfill", Some(in))(noop(filled))
    val tables = Seq(100 -> a, 200 -> b, 300 -> c,
      400 -> cached(merged.collect().toSeq, merged.schema),
      500 -> cached(filled.collect().toSeq, filled.schema))
    t.record(k, "PostOps.normalize", Some(in)) {
      tables.foreach { case (_, df) => noop(PostOps.normalize(df)) }
    }
    val normalized = tables.map { case (code, df) =>
      val n = PostOps.normalize(df); code -> cached(n.collect().toSeq, n.schema)
    }
    val union = normalized.map(_._2.select("srg_code", "fips", "col", "row", "frac"))
      .reduce(_ unionByName _)
    t.record(k, "PostOps.qa", Some(in)) {
      noop(PostOps.qaSummary(union)); noop(PostOps.qaNot1(union))
    }
    val smokeDir = Files.createDirectories(work.resolve("catalog_out").resolve(s"smoke-$k"))
    t.record(k, "Smoke.write", None) {
      normalized.foreach { case (code, df) =>
        val hasQa = Seq("numer", "denom", "qasum").forall(df.columns.contains)
        val full = if (hasQa) df else df.withColumn("numer", lit(0.0))
          .withColumn("denom", lit(1.0)).withColumn("qasum", lit(0.0))
        Smoke.write(full, g, Smoke.ProjInfo(), smokeDir.resolve(s"srg_$code.txt").toString,
          withQa = hasQa)
      }
    }
    val bytes = normalized.map { case (code, _) => Files.size(smokeDir.resolve(s"srg_$code.txt")) }.sum
    (Seq(a, b, c) ++ tables.drop(3).map(_._2) ++ normalized.map(_._2)).foreach(_.unpersist())

    // the whole catalog call, with its jobs and planning time
    reset()
    val dir = passDir(k, "traced")
    var full: Span = null
    val counters = sparkCounters(p) {
      full = t.record(k, "SrgTool.run", None)(run(dir))
    }
    val planS = p.plans.take().map(Plans.planningSeconds).sum
    val m = Map(
      "SrgTool.jobs" -> counters("spark.jobs"),
      "SrgTool.plan_s" -> planS,
      "SrgTool.run.wall_s" -> full.seconds,
      "Smoke.write.bytes" -> bytes.toDouble)
    (m, Checks.catalog(dir, Codes))
  }
}
