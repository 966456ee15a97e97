package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, IsNotNull, Literal, RegExpExtract}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.expressions.TrailingDigits

/** `trailing_digits(s)` is an exact twin of `regexp_extract(s, "(\\d+)$",
  * 1)`: same string, NULL for NULL, and the same `.cast("long")` outcome
  * (value or error condition) with ANSI on and off — interpreted and
  * under codegen, over an edge list and a seeded random corpus. */
class TrailingDigitsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .appName("trailing-digits-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def raw(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private val terminators = Seq("\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029")

  /** NULL, the empty string and every shape the anchor rules separate. */
  private val edges: Seq[Array[Byte]] = Seq[Array[Byte]](
    null, b(""), b("abc"), b("https://host7.example.org/doc/"),
    b("12345"), b("0"), b("doc/007"), b("https://host3.example.org/doc/42"),
    b("4a2"), b("42a"), b("a/42/b"), b("\n"), b("\r\n"), b("\n\r"),
    // runs longer than 19 digits; Long.MaxValue and one past it
    b("9" * 20), b("doc/" + "1" * 25), b("0" * 21 + "42"),
    b("9223372036854775807"), b("9223372036854775808"),
    b("-42"), b("+42"), b(" 42"), b("42 "),
    // non-ASCII digits (Arabic-Indic three, fullwidth three)
    b("doc/٣"), b("doc/4٣"), b("doc/٣4"), b("doc/３"),
    b("12３"), b("３12"),
    // multi-byte text before the digits
    b("日本/42"), b("é42"), b("😀123"), b("\u00a0" + "7"),
    // invalid UTF-8: stray, truncated and overlong bytes around the digits
    raw('1', '2', 0xff), raw(0xff, '1', '2'), raw('1', '2', 0xc2),
    raw(0xe2, 0x80, '7'), raw('7', 0xe2, 0x80), raw('7', 0x85),
    raw('7', 0xc2, 0x85), raw('7', 0xe0, 0xc2, 0x85), raw(0xf0, '1', '2', '3'),
    raw('7', 0xe2, 0x80, 0xa8), raw('7', 0xe2, 0x80, 0xa9),
    raw('7', 0xe2, 0x82, 0xa8), raw('7', 0xc0, 0x8a), raw('5', 0xe0, 0xa0, 0xe2, 0x80, 0xa8)
  ) ++ terminators.flatMap { t =>
    Seq(b("doc/42" + t), b("42" + t), b(t + "42"), b("doc/42" + t + t),
      b("42" + t + "\n"), b("42" + t + "x"))
  }

  /** Seeded strings drawn from pieces that stress the anchor and the digit
    * scan: ASCII digits, letters, terminators, non-ASCII digits, multi-byte
    * text and invalid byte fragments. */
  private val corpus: Seq[Array[Byte]] = {
    val rnd = new Random(20261017L)
    val pieces: Array[Array[Byte]] =
      ((0 to 9).map(d => b(d.toString)) ++ (0 to 9).map(d => b(d.toString * 3)) ++
        Seq("a", "Z", "/", ".", "-", " ", "doc/", "٣", "３", "é",
          "日", "😀").map(b) ++ terminators.map(b) ++
        Seq(raw(0x80), raw(0xc2), raw(0xe2), raw(0xe2, 0x80), raw(0xff),
          raw(0xf0), raw(0xe0, 0xa0))).toArray
    Seq.fill(4000) {
      Array.concat(Seq.fill(rnd.nextInt(9))(pieces(rnd.nextInt(pieces.length))): _*)
    }
  }

  private val inputs: Seq[Array[Byte]] = edges ++ corpus

  /** (id INT, s STRING) over an RDD, so projections run in the executor
    * plan (a local relation would be folded by the optimizer). The string is
    * cast from the raw bytes, so invalid UTF-8 reaches both expressions. */
  private def frame(): DataFrame = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("b", BinaryType)))
    val rows = inputs.zipWithIndex.map { case (bs, i) => Row(i, bs) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(F.col("id"), F.col("b").cast("string").as("s"))
  }

  private def regex(c: Column): Column = F.regexp_extract(c, "(\\d+)$", 1)
  private def native(c: Column): Column =
    ExprBridge.column(TrailingDigits(ExprBridge.expression(c)))

  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  private def withConf[T](kv: Map[String, String])(body: => T): T = {
    val before = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def codegenSpans(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .count(_.toString.contains("trailing_digits"))

  test("the corpus reaches the anchor and invalid-UTF-8 cases it is meant to") {
    val s = frame().select(F.col("s"))
    assert(s.where(F.expr("NOT is_valid_utf8(s)")).count() > 100)
    assert(s.where(F.col("s").rlike("\\d[\\r\\n\\u0085\\u2028\\u2029]$")).count() > 100)
    assert(s.where(regex(F.col("s")) =!= "").count() > 1000)
  }

  for ((mode, conf) <- modes) {
    test(s"trailing_digits equals regexp_extract row for row ($mode)") {
      withConf(conf) {
        val df = frame().select(F.col("id"), regex(F.col("s")).as("rx"),
          native(F.col("s")).as("td"))
        assert(codegenSpans(df) == (if (mode == "interpreted") 0 else 1),
          df.queryExecution.executedPlan.toString)
        val got = df.collect()
        assert(got.length == inputs.length)
        got.foreach { r =>
          assert(r.isNullAt(2) == (inputs(r.getInt(0)) == null))
          assert(r.getString(2) == r.getString(1),
            s"input bytes ${hex(inputs(r.getInt(0)))}")
        }
      }
    }

    for (ansi <- Seq(false, true)) test(s".cast(long) agrees with ANSI $ansi ($mode)") {
      withConf(conf + ("spark.sql.ansi.enabled" -> ansi.toString)) {
        // Per-row outcomes come from the bound expressions; in Spark, the
        // rows that cast cleanly run in one job per side, and the first and
        // last failing edge row of each error condition in a job of its own
        // (one failing row aborts its whole job).
        val (fails, values) = expressionOutcomes(ansi)
        val ok = inputs.indices.filterNot(fails.contains)
        def longs(f: Column => Column) = frame().where(F.col("id").isin(ok: _*))
          .select(F.col("id"), f(F.col("s")).cast("long")).collect()
          .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        val rx = longs(regex); val td = longs(native)
        assert(rx == td)
        assert(rx == ok.map(i => i -> values(i)).toMap)
        val sample = fails.filter(_._1 < edges.length).groupBy(_._2).values
          .flatMap(g => Seq(g.keys.min, g.keys.max)).toSeq.distinct
        assert(ansi == sample.nonEmpty)
        sample.foreach { i =>
          def one(f: Column => Column) = condition(
            frame().where(F.col("id") === i).select(f(F.col("s")).cast("long")).collect())
          assert(one(regex) == fails(i), s"regex, input ${hex(inputs(i))}")
          assert(one(native) == fails(i), s"native, input ${hex(inputs(i))}")
        }
      }
    }
  }

  /** Every input through the bound expressions themselves, interpreted and
    * through a generated projection: the failing rows (with their error
    * condition) and the values of the rest, identical on both sides. */
  private def expressionOutcomes(ansi: Boolean)
      : (Map[Int, String], Map[Int, Option[Long]]) = {
    val in = BoundReference(0, StringType, nullable = true)
    def cast(e: Expression): Expression =
      Cast(e, LongType, Some("UTC"), if (ansi) EvalMode.ANSI else EvalMode.LEGACY)
    val rx = cast(RegExpExtract(in, Literal("(\\d+)$"), Literal(1)))
    val td = cast(TrailingDigits(in))
    def interpreted(e: Expression)(r: InternalRow): Any = e.eval(r)
    def generated(e: Expression): InternalRow => Any = {
      val p = GenerateUnsafeProjection.generate(Seq(e))
      r => { val o = p(r); if (o.isNullAt(0)) null else o.getLong(0) }
    }
    val outcomes = inputs.indices.map { i =>
      val row = InternalRow(if (inputs(i) == null) null else UTF8String.fromBytes(inputs(i)))
      val four = Seq(interpreted(rx) _, interpreted(td) _, generated(rx), generated(td))
        .map(f => scala.util.Try(f(row)).toEither.left.map(errorCondition))
      assert(four.distinct.size == 1, s"input ${hex(inputs(i))}: $four")
      i -> four.head
    }
    (outcomes.collect { case (i, Left(c)) => i -> c }.toMap,
      outcomes.collect { case (i, Right(v)) => i -> Option(v).map(_.asInstanceOf[Long]) }.toMap)
  }

  private def errorCondition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(throw t)

  private def condition(run: => Any): String =
    try { run; "no error" } catch { case t: Throwable => errorCondition(t) }

  private def hex(bs: Array[Byte]): String =
    if (bs == null) "NULL" else bs.map(x => f"${x & 0xff}%02x").mkString(" ")

  test("null-intolerant like the regex: a filter over it infers isnotnull") {
    def inferred(f: Column => Column): Seq[String] = {
      val df = frame().select("s").where(f(F.col("s")).cast("long") % 2 === 0)
      df.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect { case IsNotNull(a) => a.sql }
      }.flatten
    }
    // `s` is cast from the raw bytes `b`, so the inferred guard lands on `b`
    assert(inferred(native) == Seq("b"))
    assert(inferred(regex) == inferred(native))
  }
}
