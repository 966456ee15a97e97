package graft.operators

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.TpchGeo

/** merge, gapfill and diffSurr as one union and one keyed step, checked
  * bit for bit against their join formulations (`PostOpsUnionSpec.Joins`):
  * a full outer join with county semi joins and a broadcast for merge, an
  * aggregate joined back for gapfill, a full outer join for diffSurr. */
class PostOpsUnionSpec extends AnyFunSuite with BeforeAndAfterAll {
  import PostOpsUnionSpec._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("postops-union-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A seeded surrogate table: each county of `fips` keeps each cell of a
    * 5 × 5 block with probability 0.6, at a random frac. */
  private def table(seed: Long, code: Int, fips: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new Random(seed)
    val rows = for (f <- fips; c <- 1 to 5; r <- 1 to 5 if rnd.nextDouble() < 0.6)
      yield (code, f, c, r, rnd.nextDouble())
    rows.toDF("srg_code", "fips", "col", "row", "frac")
  }

  // 47001-47004 on both sides, 47005-47006 in a only, 47007 in b only;
  // the cell draws differ per side, so shared counties have one-sided cells
  private lazy val a = table(1, 100, (1 to 6).map(i => f"4700$i%d"))
  private lazy val b = table(2, 120, ((1 to 4) :+ 7).map(i => f"4700$i%d"))
  private lazy val emptyB = b.where(lit(false))

  /** Rows as sorted strings, each double by its raw bits. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case null => "null"
      case x => x.toString
    }.mkString("|")).toSeq.sorted

  private def sameAs(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), what)
    val (g, w) = (bits(got), bits(want))
    assert(g == w, s"$what: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
  }

  test("merge equals the join form: one-sided counties and cells, f2 = 0, negative f, self-merge, empty side") {
    val cases = Seq(
      ("(0.5, 0.5)", a, b, 0.5, 0.5),
      ("(0.375, 0.5)", a, b, 0.375, 0.5),
      ("(0.3, -0.7)", a, b, 0.3, -0.7),
      ("(1.0, 0.0)", a, b, 1.0, 0.0),
      ("self-merge", a, a, 0.5, 0.5),
      ("empty side", a, emptyB, 0.5, 0.5),
      ("empty first side", emptyB, a, 0.5, 0.5))
    cases.foreach { case (what, x, y, f1, f2) =>
      val got = PostOps.merge(x, y, f1, f2, 500)
      sameAs(got, Joins.merge(x, y, f1, f2, 500), s"merge $what")
      assert(!got.schema("frac").nullable, s"merge $what: frac turned nullable")
    }
    // the fixture reaches what it is meant to: counties in a only are
    // dropped, shared counties keep one-sided cells
    val m = PostOps.merge(a, b, 0.5, 0.5, 500)
    assert(m.select("fips").distinct().count() == 4)
    assert(m.count() > a.join(b, Seq("fips", "col", "row")).count())
  }

  test("gapfill equals the join form, with an empty cascade member") {
    val cases = Seq(
      "a over b" -> Seq(a.where(col("fips") >= "47003"), b),
      "b over a" -> Seq(b, a),
      "three deep" -> Seq(emptyB, a.where(col("fips") <= "47002"), b, a),
      "one table" -> Seq(a))
    cases.foreach { case (what, cascade) =>
      sameAs(PostOps.gapfill(cascade, 600), Joins.gapfill(cascade, 600),
        s"gapfill $what")
    }
  }

  test("diffSurr equals the join form, with one-sided cells and an empty side") {
    val near = b.withColumn("frac", col("frac") + when(col("col") === 2, 1e-6)
      .otherwise(0.0))
    val cases = Seq(
      "a vs b" -> ((a, b)), "within tol" -> ((b, near)), "self" -> ((a, a)),
      "empty side" -> ((a, emptyB)), "empty first side" -> ((emptyB, a)))
    cases.foreach { case (what, (x, y)) =>
      sameAs(PostOps.diffSurr(x, y), Joins.diffSurr(x, y), s"diffSurr $what")
      sameAs(PostOps.diffSurr(x, y, 0.0), Joins.diffSurr(x, y, 0.0),
        s"diffSurr $what, tol 0")
    }
  }

  test("on the surrogate fixtures the results also keep the join forms' schema") {
    val sf = graft.TestData.sf("0.001")
    val pts = Surrogate.pointSurrogate(TpchGeo.points(spark, sf),
      TpchGeo.counties(spark), TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 100)
    val tracts = Surrogate.polySurrogate(TpchGeo.tracts(spark, sf),
      TpchGeo.counties(spark), TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 120,
      Some("p_size"))
    val cases = Seq(
      "merge" -> ((PostOps.merge(pts, tracts, 0.375, 0.5, 500),
        Joins.merge(pts, tracts, 0.375, 0.5, 500))),
      "gapfill" -> ((PostOps.gapfill(Seq(pts.where(col("fips") >= "47009"), tracts), 600),
        Joins.gapfill(Seq(pts.where(col("fips") >= "47009"), tracts), 600))),
      "diffSurr" -> ((PostOps.diffSurr(tracts, pts), Joins.diffSurr(tracts, pts))))
    cases.foreach { case (what, (got, want)) =>
      assert(got.schema == want.schema, what)
      sameAs(got, want, what)
      assert(bits(got).nonEmpty, s"$what is empty")
    }
  }
}

object PostOpsUnionSpec {

  /** The join formulations the union forms replaced, kept as the
    * reference they are checked against. */
  object Joins {
    def merge(a: DataFrame, b: DataFrame, f1: Double, f2: Double,
              outCode: Int): DataFrame = {
      val al = a.select(col("fips"), col("col"), col("row"), col("frac").as("__fa"))
      val bl = b.select(col("fips"), col("col"), col("row"), col("frac").as("__fb"))
      val joined = al.join(bl, Seq("fips", "col", "row"), "full_outer")
      val inBoth = a.select("fips").distinct()
        .join(b.select("fips").distinct(), "fips")
      val w = Window.partitionBy("fips").orderBy("row", "col")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      joined.join(broadcast(inBoth), "fips")
        .withColumn("frac",
          coalesce(col("__fa"), lit(0.0)) * f1 + coalesce(col("__fb"), lit(0.0)) * f2)
        .where(col("frac") =!= 0.0)
        .withColumn("srg_code", lit(outCode))
        .withColumn("qasum", sum("frac").over(w))
        .select("srg_code", "fips", "col", "row", "frac", "qasum")
    }

    def gapfill(cascade: Seq[DataFrame], outCode: Int): DataFrame = {
      val tagged = cascade.zipWithIndex.map { case (df, i) =>
        df.select(col("fips"), col("col"), col("row"), col("frac"),
                  col("srg_code").as("filled_from"), lit(i).as("__prio"))
      }.reduce(_ unionByName _)
      val best = tagged.groupBy("fips").agg(min("__prio").as("__prio"))
      tagged.join(broadcast(best), Seq("fips", "__prio"))
        .withColumn("srg_code", lit(outCode))
        .select("srg_code", "fips", "col", "row", "frac", "filled_from")
    }

    def diffSurr(a: DataFrame, b: DataFrame, tol: Double = 1e-5): DataFrame = {
      val al = a.select(col("fips"), col("col"), col("row"), col("frac").as("frac_a"))
      val bl = b.select(col("fips"), col("col"), col("row"), col("frac").as("frac_b"))
      al.join(bl, Seq("fips", "col", "row"), "full_outer")
        .where(col("frac_a").isNull || col("frac_b").isNull ||
               abs(col("frac_a") - col("frac_b")) > tol)
    }
  }
}
