package graft.operators

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cells.CellDomain
import graft.fixtures.TpchGeo
import graft.geom.Geo
import graft.spark.GeoFunctions.polygonArea

/** Allocate.allocate as one aggregate over one fragment join, checked bit
  * for bit against its multi-pass formulation (`AllocateSpec.MultiPass`):
  * fragments persisted and read once per mode family, one broadcast join
  * of output areas per Average attribute, a row_number window for
  * DiscreteOverlap and a UDF centroid for DiscreteCentroid. */
class AllocateSpec extends AnyFunSuite with BeforeAndAfterAll {
  import AllocateSpec._
  import Allocate.{Aggregate, Average, DiscreteCentroid, DiscreteOverlap}

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("allocate-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    graft.spark.PersistTracker.drain()
    if (spark != null) spark.stop()
  }

  private val (d, z) = (TpchGeo.domain, TpchGeo.zres)

  /** Seeded tracts: squares of edge 256, 512 or 1024 on a 128 lattice, so
    * every fragment area is an integer and every input area a power of two;
    * with integer-valued attributes each sum is exact in any order. `cat`
    * is NULL for one tract in five and takes three values, so equal
    * overlaps (same-size tracts inside one output polygon) tie on it;
    * `cat_len` is a function of `cat`. */
  private def tracts(seed: Long): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new Random(seed)
    val rows = (0 until 300).map { i =>
      val e = 256 << rnd.nextInt(3)
      val slots = (8192 - e) / 128 + 1
      val (x0, y0) = (128.0 * rnd.nextInt(slots), 128.0 * rnd.nextInt(slots))
      val cat = if (rnd.nextInt(5) == 0) None else Some("c" * (1 + rnd.nextInt(3)))
      (i.toLong, rnd.nextInt(50), rnd.nextInt(7).toDouble, cat,
        Seq(Seq(x0, y0, x0 + e, y0, x0 + e, y0 + e, x0, y0 + e)))
    }
    rows.toDF("id", "v", "w", "cat", "geom")
      .withColumn("cat_len", length(col("cat")))
  }

  private def counties = TpchGeo.counties(spark).withColumnRenamed("fips", "out_id")
  private def cells = graft.sources.Sources.regularGrid(spark, TpchGeo.grid)
    .withColumnRenamed("cell_id", "out_id")

  /** Rows as sorted strings, each double by its raw bits. */
  private def bits(df: DataFrame): Seq[String] = {
    val out = df.collect().map(_.toSeq.map {
      case x: Double => s"d${java.lang.Double.doubleToRawLongBits(x)}"
      case null => "null"
      case x => x.toString
    }.mkString("|")).toSeq.sorted
    graft.spark.PersistTracker.drain()
    out
  }

  private def sameAs(input: DataFrame, output: DataFrame,
                     modes: Seq[(String, Allocate.Mode)], what: String): Unit = {
    val got = Allocate.allocate(input, output, modes, d, z)
    val want = MultiPass.allocate(input, output, modes, d, z)
    assert(got.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      want.schema.map(f => (f.name, f.dataType, f.nullable)), what)
    val (g, w) = (bits(got), bits(want))
    assert(w.nonEmpty, s"$what: the reference allocates nothing")
    assert(g == w, s"$what: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
  }

  private val cases: Seq[(String, Seq[(String, Allocate.Mode)])] = Seq(
    "Aggregate" -> Seq("v" -> Aggregate),
    "Average" -> Seq("w" -> Average),
    "DiscreteOverlap" -> Seq("v" -> DiscreteOverlap),
    "DiscreteCentroid" -> Seq("id" -> DiscreteCentroid),
    "Aggregate + two Averages" -> Seq("v" -> Average, "id" -> Aggregate, "w" -> Average),
    "DiscreteOverlap with NULLs and ties" ->
      Seq("cat" -> DiscreteOverlap, "cat_len" -> DiscreteOverlap),
    "Aggregate + two Averages + DiscreteOverlap" ->
      Seq("w" -> Average, "cat" -> DiscreteOverlap, "v" -> Aggregate, "id" -> Average),
    "the q30 pair" -> Seq("v" -> DiscreteOverlap, "id" -> DiscreteCentroid),
    "every mode" -> Seq("id" -> DiscreteCentroid, "cat" -> DiscreteOverlap,
      "w" -> Average, "v" -> Aggregate))

  test("one aggregate equals the multi-pass allocate onto counties, per mode and mixed") {
    val input = tracts(16)
    cases.foreach { case (what, modes) => sameAs(input, counties, modes, s"counties: $what") }
  }

  test("one aggregate equals the multi-pass allocate onto cells, per mode and mixed") {
    val input = tracts(17)
    cases.foreach { case (what, modes) => sameAs(input, cells, modes, s"cells: $what") }
  }

  test("the seeded tracts reach what the discrete cases are meant to") {
    val frags = SpatialJoin.polyPolyFragments(tracts(16),
      counties.withColumnRenamed("geom", "bgeom"), d, z, keepFragGeom = false)
    val top = Window.partitionBy("out_id")
    val best = frags.withColumn("__max", max("frag_area").over(top))
      .where(col("frag_area") === col("__max"))
      .groupBy("out_id").agg(countDistinct(coalesce(col("cat"), lit("-"))).as("n"),
        max(col("cat").isNull.cast("int")).as("nulls"))
    // some county's largest overlap is a tie between different cats, and
    // some tie includes a NULL cat
    assert(best.where(col("n") > 1).count() > 0)
    assert(best.where(col("n") > 1 && col("nulls") === 1).count() > 0)
  }

  test("the TpchGeo tracts: the q06, q07, q30 and q45 modes and the mixed allocate") {
    val sf = graft.TestData.sf("0.001")
    val input = mixedInput(TpchGeo.tracts(spark, sf))
    Seq("Aggregate" -> Seq("p_size" -> Aggregate), "Average" -> Seq("p_size" -> Average),
      "q30" -> Seq("p_size" -> DiscreteOverlap, "p_partkey" -> DiscreteCentroid),
      "mixed" -> MixedModes).foreach { case (what, modes) =>
      sameAs(input, counties, modes, s"TpchGeo counties: $what")
      sameAs(input, cells, modes, s"TpchGeo cells: $what")
    }
  }

  test("the mixed allocate starts at most 3 Spark jobs") {
    val sf = graft.TestData.sf("0.001")
    val input = mixedInput(TpchGeo.tracts(spark, sf))
    val (rows, jobs) = graft.Jobs.of(spark) {
      Allocate.allocate(input, counties, MixedModes, d, z).collect()
    }
    assert(rows.length == 16)
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("malformed modes fail naming the fault") {
    val input = tracts(16)
    def fails(modes: Seq[(String, Allocate.Mode)]): String =
      intercept[IllegalArgumentException](
        Allocate.allocate(input, counties, modes, d, z)).getMessage
    assert(fails(Nil).contains("no attribute modes"))
    assert(fails(Seq("v" -> Aggregate, "v" -> Average)).contains("named twice: v"))
    assert(fails(Seq("w" -> Aggregate, "id" -> DiscreteOverlap, "id" -> DiscreteCentroid))
      .contains("named twice: id"))
  }
}

object AllocateSpec {
  import Allocate._

  /** Aggregate + two Averages + DiscreteOverlap over a string with NULLs. */
  val MixedModes: Seq[(String, Mode)] = Seq("p_size" -> Aggregate,
    "p_partkey" -> Average, "p_half" -> Average, "p_cat" -> DiscreteOverlap)

  def mixedInput(tracts: DataFrame): DataFrame = tracts
    .withColumn("p_half", col("p_size") / 2)
    .withColumn("p_cat", when(col("p_partkey") % 5 =!= 0,
      concat(lit("c"), (col("p_size") % 4).cast("string"))))

  /** The multi-pass allocate the one-aggregate form replaced, kept as the
    * reference: the fragments persisted, an aggregate for the continuous
    * modes, one broadcast join of output areas per Average attribute, a
    * row_number window for DiscreteOverlap, the centroid as a UDF. */
  object MultiPass {
    private val centroid = udf((rings: Seq[Seq[Double]]) => {
      val (cx, cy) = Geo.vertexMeanCentroid(rings.map(_.toArray).toArray)
      Array(cx, cy)
    })

    def allocate(input: DataFrame, output: DataFrame, modes: Seq[(String, Mode)],
                 domain: CellDomain, res: Int, outId: String = "out_id"): DataFrame = {
      val inp = input.withColumn("__iarea", polygonArea(col("geom")))
      val out = output.withColumnRenamed("geom", "bgeom")
      val frags = SpatialJoin.polyPolyFragments(inp, out, domain, res,
          keepFragGeom = false)
        .transform(graft.spark.PersistTracker.persist)
      val needArea = modes.exists(_._2 == Average)
      val outAreas =
        if (needArea) output.select(col(outId), polygonArea(col("geom")).as("__oarea"))
        else null
      val contribOf: String => Column = a =>
        col(a).cast("double") * (col("frag_area") / col("__iarea"))
      val contAggs = modes.collect {
        case (a, Aggregate) => sum(contribOf(a)).as(a)
        case (a, Average)   => sum(contribOf(a)).as(s"__sum_$a")
      }
      var result: DataFrame = null
      if (contAggs.nonEmpty) {
        var df = frags.groupBy(outId).agg(contAggs.head, contAggs.tail: _*)
        modes.collect { case (a, Average) =>
          df = df.join(broadcast(outAreas), outId)
            .withColumn(a, col(s"__sum_$a") / col("__oarea"))
            .drop(s"__sum_$a", "__oarea")
        }
        result = df
      }
      val discAttrs = modes.collect { case (a, DiscreteOverlap) => a }
      if (discAttrs.nonEmpty) {
        val w = Window.partitionBy(outId)
          .orderBy(col("frag_area").desc, col(discAttrs.head).asc)
        val top = frags.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .select((outId +: discAttrs).map(col): _*)
        result = if (result == null) top else result.join(top, outId)
      }
      val centAttrs = modes.collect { case (a, DiscreteCentroid) => a }
      if (centAttrs.nonEmpty) {
        val cent = output
          .withColumn("__c", centroid(col("geom")))
          .select(col(outId), col("__c").getItem(0).as("x"),
                  col("__c").getItem(1).as("y"))
        val aggs = centAttrs.map(a => min(col(a)).as(a))
        val hit = SpatialJoin.pointInPoly(cent, inp.select(
            (Seq("geom") ++ centAttrs).map(col): _*), domain, res)
          .groupBy(col(outId)).agg(aggs.head, aggs.tail: _*)
        result = if (result == null) hit else result.join(hit, Seq(outId), "left")
      }
      result
    }
  }
}
