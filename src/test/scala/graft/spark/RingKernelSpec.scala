package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cells.{CellDomain, CellIndex}
import graft.geom.{Clip, Geo}
import graft.grid.GridSpec
import graft.spark.GeoFunctions._

/** Every native ring kernel (spark/expressions/RingExpressions) agrees bit
  * for bit with the Geo / Clip function it stands for, on seeded star
  * polygons of 3–256 vertices (some holed) against rectangle and
  * non-rectangle partners, on polylines measured planar and great-circle,
  * and on NULL, `[]` and `[[]]` — once interpreted and once under
  * whole-stage codegen; and the overlay of two non-rectangles gives an
  * intersection no larger than either side, the same both ways round. */
class RingKernelSpec extends AnyFunSuite with BeforeAndAfterAll {
  import RingKernelSpec._

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").appName("ring-kernel-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The kernels under test, each with its reference over the row's
    * (a, b, line, cell, lcell) inputs; a NULL input gives NULL. */
  private val kernels: Seq[(String, Column, Case => Any)] = Seq(
    ("poly_area", polygonArea(col("a")), c => nn(c.a)(Geo.polygonArea)),
    ("poly_bbox", polyBBox(col("a")), c => nn(c.a)(p => box(Geo.bboxOfPolygon(p)))),
    ("cover_cells", polyCoverCells(col("a"), D, Res),
      c => nn(c.a)(p => CellIndex.coverCells(Geo.bboxOfPolygon(p), D, Res))),
    ("poly_grid_cover_cells", polyGridCoverCells(col("a"), G),
      c => nn(c.a)(p => G.coverCells(Geo.bboxOfPolygon(p)))),
    ("poly_clip_geom", polyClipGeom(col("a"), col("b")),
      c => nn2(c.a, c.b)(Clip.polyPolyClip(_, _).toSeq.map(_.toSeq))),
    ("poly_area(poly_clip_geom)", polygonArea(polyClipGeom(col("a"), col("b"))),
      c => nn2(c.a, c.b)((a, b) => Geo.polygonArea(Clip.polyPolyClip(a, b)))),
    ("poly_cell_clip_area", polyCellClipArea(col("a"), col("cell"), G),
      c => nn2(c.a, c.cell)((a, id) => Clip.polygonRectClipArea(a, G.cellBBox(id)))),
    ("line_len", lineLength(col("line"), curved = false), c => nn(c.line)(Geo.lineLength)),
    ("great_circle_len", lineLength(col("line"), curved = true),
      c => nn(c.line)(Geo.greatCircleLength(_))),
    ("line_bbox", lineBBox(col("line")), c => nn(c.line)(l => box(Geo.bboxOfRing(l)))),
    ("line_cover_cells", lineCoverCells(col("line"), D, Res),
      c => nn(c.line)(l => CellIndex.coverCells(Geo.bboxOfRing(l), D, Res))),
    ("line_grid_cover_cells", lineGridCoverCells(col("line"), G),
      c => nn(c.line)(l => G.coverCells(Geo.bboxOfRing(l)))),
    ("line_clip_segs", lineClipSegs(col("line"), col("b")),
      c => nn2(c.line, c.b)(Clip.linePolyClipSegments(_, _).toSeq.map(_.toSeq))),
    ("line_cell_clip_len", lineCellClipLength(col("line"), col("lcell"), G, curved = false),
      c => nn2(c.line, c.lcell)((l, id) => Clip.lineRectClipLength(l, G.cellBBox(id)))),
    ("line_cell_clip_len_curved",
      lineCellClipLength(col("line"), col("lcell"), G, curved = true),
      c => nn2(c.line, c.lcell)((l, id) =>
        Clip.lineRectClipSegs(l, G.cellBBox(id)).map(Geo.greatCircleLength(_)).sum)))

  private def frame(cs: Seq[Case]): DataFrame = {
    val rows = cs.map(c => Row(c.id,
      Option(c.a).map(_.toSeq.map(_.toSeq)).orNull,
      Option(c.b).map(_.toSeq.map(_.toSeq)).orNull,
      Option(c.line).map(_.toSeq).orNull,
      c.cell, c.lcell))
    // an RDD, not a local relation, so the projection runs in the executed
    // plan under test rather than being folded away at planning time
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Schema)
      .select(col("id") +: kernels.map { case (n, k, _) => k.as(n) }: _*)
  }

  private def check(codegen: Boolean): Unit = {
    spark.conf.set("spark.sql.codegen.wholeStage", codegen)
    spark.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try {
      val df = frame(cases)
      val plan = df.queryExecution.executedPlan
      val inStage = plan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists(_.isInstanceOf[ProjectExec]))
      assert(inStage == codegen, s"codegen=$codegen, plan:\n$plan")
      val got = df.collect().map(r => r.getInt(0) -> r).toMap
      assert(got.size == cases.length)
      for (c <- cases; ((name, _, ref), i) <- kernels.zipWithIndex) {
        val want = bits(ref(c))
        val have = bits(got(c.id).get(i + 1))
        assert(have == want, s"$name on case ${c.id} (${c.what}): $have != $want")
      }
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("ring kernels match Geo / Clip bit for bit, interpreted") { check(codegen = false) }

  test("ring kernels match Geo / Clip bit for bit under whole-stage codegen") {
    check(codegen = true)
  }

  test("A ∩ B of two non-rectangles is at most either area and equals B ∩ A") {
    def rect(p: Array[Array[Double]]) = Clip.isAxisRect(p, Geo.bboxOfPolygon(p))
    val general = cases.filter(c => c.a != null && c.b != null &&
      c.a.length > 0 && c.b.length > 0 && !rect(c.a) && !rect(c.b) &&
      Geo.bboxOfPolygon(c.a).intersects(Geo.bboxOfPolygon(c.b)))
      .groupBy(c => (c.a, c.b)).values.map(_.head).toSeq
    assert(general.size > 10, s"${general.size} general pairs")
    for (c <- general) {
      val ab = Clip.polyPolyClipArea(c.a, c.b)
      val ba = Clip.polyPolyClipArea(c.b, c.a)
      val bound = math.min(Geo.polygonArea(c.a), Geo.polygonArea(c.b))
      assert(ab <= bound, s"case ${c.id} (${c.what}): |A ∩ B| $ab > $bound")
      assert(math.abs(ab - ba) <= 1e-9 * math.max(math.abs(ab), math.abs(ba)),
        s"case ${c.id} (${c.what}): |A ∩ B| $ab != |B ∩ A| $ba")
    }
  }

  test("the inputs reach every clip path") {
    def meets(c: Case) = c.a != null && c.b != null &&
      Geo.bboxOfPolygon(c.a).intersects(Geo.bboxOfPolygon(c.b))
    def isRect(p: Array[Array[Double]]) = Clip.isAxisRect(p, Geo.bboxOfPolygon(p))
    val rect = cases.count(c => meets(c) && isRect(c.b) && c.a.length > 1)
    val general = cases.count(c => meets(c) && !isRect(c.b) && c.b.length > 1)
    val clipped = cases.count(c => c.a != null && c.cell != null &&
      Clip.polygonRectClipArea(c.a, G.cellBBox(c.cell)) > 0)
    val split = cases.count(c => c.line != null && c.lcell != null &&
      Clip.lineRectClipSegs(c.line, G.cellBBox(c.lcell)).nonEmpty)
    assert(rect > 10 && general > 10 && clipped > 50 && split > 20,
      s"holed x rect $rect, x holed star $general, clipped $clipped, split $split")
  }
}

object RingKernelSpec {
  val G: GridSpec = GridSpec("PARITY", 0.25, -0.5, 1.5, 1.25, 30, 36)
  val D: CellDomain = CellDomain(0, 0, 48, 48)
  val Res = 4

  /** One row: polygon `a`, partner polygon `b`, polyline `line`, a grid
    * cell of `a` and one of `line`; null for a NULL input. */
  final case class Case(id: Int, what: String, a: Array[Array[Double]],
                        b: Array[Array[Double]], line: Array[Double],
                        cell: java.lang.Long, lcell: java.lang.Long)

  val Schema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("a", ArrayType(ArrayType(DoubleType))),
    StructField("b", ArrayType(ArrayType(DoubleType))),
    StructField("line", ArrayType(DoubleType)),
    StructField("cell", LongType),
    StructField("lcell", LongType)))

  /** A star ring of n vertices around (cx, cy), radii in [r0, r1), CCW
    * (or CW for a hole); vertices on the 1/64 lattice. */
  def star(rnd: scala.util.Random, n: Int, cx: Double, cy: Double,
           r0: Double, r1: Double, ccw: Boolean): Array[Double] = {
    val out = new Array[Double](2 * n)
    for (i <- 0 until n) {
      val t = 2 * math.Pi * i / n * (if (ccw) 1 else -1)
      val r = r0 + rnd.nextDouble() * (r1 - r0)
      out(2 * i) = lattice(cx + r * math.cos(t)); out(2 * i + 1) = lattice(cy + r * math.sin(t))
    }
    out
  }

  def lattice(v: Double): Double = math.rint(v * 64) / 64

  def rect(x0: Double, y0: Double, x1: Double, y1: Double): Array[Array[Double]] =
    Array(Array(x0, y0, x1, y0, x1, y1, x0, y1))

  /** A polyline of axis-aligned and diagonal steps. */
  def polyline(rnd: scala.util.Random, n: Int, x: Double, y: Double): Array[Double] = {
    val out = new Array[Double](2 * n)
    var px = x; var py = y
    for (i <- 0 until n) {
      out(2 * i) = px; out(2 * i + 1) = py
      val step = 0.3 + rnd.nextDouble() * 3
      rnd.nextInt(3) match {
        case 0 => px += (if (rnd.nextBoolean()) step else -step)
        case 1 => py += (if (rnd.nextBoolean()) step else -step)
        case _ => px += rnd.nextDouble() * 4 - 2; py += rnd.nextDouble() * 4 - 2
      }
    }
    out
  }

  val cases: Seq[Case] = {
    val rnd = new scala.util.Random(20261019L)
    val sizes = Seq(3, 4, 5, 7, 16, 32, 64, 100, 128, 200, 256)
    val polys = (0 until 44).map { i =>
      val n = sizes(i % sizes.length)
      val (cx, cy) = (6 + rnd.nextDouble() * 30, 6 + rnd.nextDouble() * 30)
      val outer = star(rnd, n, cx, cy, 2.5, 5.5, ccw = true)
      if (i % 3 == 0) Array(outer, star(rnd, 3 + rnd.nextInt(30), cx, cy, 0.5, 2.0, ccw = false))
      else Array(outer)
    }
    val lines = polys.indices.map(i =>
      polyline(rnd, 2 + rnd.nextInt(20), 4 + rnd.nextDouble() * 34, 4 + rnd.nextDouble() * 34))
    var id = 0
    def row(what: String, a: Array[Array[Double]], b: Array[Array[Double]],
            line: Array[Double], cell: java.lang.Long, lcell: java.lang.Long): Case = {
      id += 1
      Case(id, what, a, b, line, cell, lcell)
    }
    val regular = polys.indices.flatMap { i =>
      val a = polys(i)
      val c = Geo.bboxOfPolygon(a)
      val rectPartner = rect(c.xmin + 1.25 * rnd.nextDouble(), c.ymin + 1.5 * rnd.nextDouble(),
        c.xmax - 0.75 * rnd.nextDouble(), c.ymax - 2 * rnd.nextDouble())
      val (px, py) = ((c.xmin + c.xmax) / 2 + 2, (c.ymin + c.ymax) / 2 - 1)
      val starPartner = Array(star(rnd, 5 + rnd.nextInt(60), px, py, 1.5, 4.5, ccw = true))
      val holedPartner = Array(star(rnd, 5 + rnd.nextInt(200), px, py, 2.0, 5.0, ccw = true),
        star(rnd, 3 + rnd.nextInt(9), px, py, 0.4, 1.5, ccw = false))
      val cells = G.coverCells(c) ++ Seq(0L, G.nCells - 1)
      val lcells = G.coverCells(Geo.bboxOfRing(lines(i))) ++ Seq(5L)
      val partners = Seq("rect" -> rectPartner, "star" -> starPartner,
        "holed star" -> holedPartner)
      cells.zipWithIndex.map { case (cell, k) =>
        val (kind, b) = partners(k % partners.length)
        row(s"${a(0).length / 2}-gon x $kind, cell $cell", a, b, lines(i),
          cell, lcells(k % lcells.length))
      }
    }
    val sq = rect(10, 10, 20, 20)
    val someLine = Array(9.0, 9.0, 21.0, 15.0)
    regular ++ Seq(
      row("NULL polygon", null, sq, someLine, 100L, 100L),
      row("NULL partner and cells", sq, null, null, null, null),
      row("[] polygon", Array.empty, sq, Array.empty, 200L, 200L),
      row("[] partner", sq, Array.empty, someLine, 201L, 201L),
      row("[[]] polygon", Array(Array.emptyDoubleArray), sq, Array.empty, 202L, null),
      row("[[]] partner", sq, Array(Array.emptyDoubleArray), someLine, 202L, 202L))
  }

  /** Nulls pass through; otherwise the reference. */
  def nn[A](a: A)(f: A => Any): Any = if (a == null) null else f(a)
  def nn2[A, B](a: A, b: B)(f: (A, B) => Any): Any =
    if (a == null || b == null) null else f(a, b)

  def box(b: Geo.BBox): Seq[Double] = Seq(b.xmin, b.ymin, b.xmax, b.ymax)

  /** A value with each double replaced by its bits, for exact comparison. */
  def bits(v: Any): Any = v match {
    case null => null
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case a: Array[_] => a.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.toSeq.map(bits)
    case l: Long => l
    case other => other
  }
}
