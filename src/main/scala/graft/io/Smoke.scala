package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Row}
import org.apache.spark.sql.functions._
import java.util.Locale
import graft.grid.GridSpec

/** SMOKE surrogate text format — sink and source.
  *
  * Format (reference writer surrogate.c:436-519, header allocate.c:756-833,
  * sample docs/User_Manual/media/sample_srg.txt):
  *
  *   #GRID\tname\txorig\tyorig\txcell\tycell\tncols\tnrows\t1\tproj\tunits\talpha\tbeta\tgamma\txcent\tycent
  *   %5d\t%s\t%5d\t%5d\t%10.8f[\t!\t%f\t%f\t%f]      (code fips col row frac ! num den qasum)
  *   #SKIPPED …          rows whose county denominator < DENOMINATOR_THRESHOLD
  *                       (surrogate.c:434-452)
  *   #REMAINDER %5d\t%s\t    0\t    0\t%10.8f[…]     per county when
  *                       |1−Σfrac| > 1e-5 and Σfrac > 1e-5 (surrogate.c:291-360)
  *
  * Polygon output (#POLYGON, surrogate.c:455-470) is the same format with
  * the out_poly_id string where the grid has `col row`, and `0` where the
  * grid remainder has `0 0`. One renderer serves both: the table's
  * `out_id` column says which shape it is. The sink owns the row order.
  */
object Smoke {

  final case class ProjInfo(name: String = "LAMBERT", units: String = "meters",
                            alpha: Double = 30.0, beta: Double = 60.0,
                            gamma: Double = -100.0,
                            xcent: Double = -100.0, ycent: Double = 40.0)

  /** #GRID projection descriptor from a GRIDDESC coordinate system — the
    * reference's cname[ctype] table plus degrees-vs-meters units
    * (allocate.c:750-789) and the POLGRD3 quirk that writes the parameters
    * in (gamma, alpha, beta) order where every other family writes
    * (alpha, beta, gamma) (allocate.c:791-833). The C table stops at
    * ctype 8; 9-11 extend it with descriptive names. */
  def projInfoFor(c: graft.sources.GridDesc.CoordSys): ProjInfo = {
    val names = Map(1 -> "LAT-LON", 2 -> "LAMBERT", 3 -> "MERCATOR",
      4 -> "STEREOGRAPHIC", 5 -> "UTM", 6 -> "POLGRD3",
      7 -> "EquatorialMERCATOR", 8 -> "TransverseMERCATOR",
      9 -> "ALBERS", 10 -> "LAMBERTAZIMUTHAL", 11 -> "SINUSOIDAL")
    val units = if (c.ctype == 1) "degrees" else "meters"
    if (c.ctype == 6)
      ProjInfo(names(6), units, c.gamma, c.alpha, c.beta, c.xcent, c.ycent)
    else
      ProjInfo(names.getOrElse(c.ctype, "UNKNOWN"), units,
        c.alpha, c.beta, c.gamma, c.xcent, c.ycent)
  }

  /** @param tag output-type header tag (allocate.c:765-779): #GRID for
    *            Regular/EGrid output, #VARIABLE_GRID, #POLYGON */
  def header(g: GridSpec, p: ProjInfo, tag: String = "#GRID"): String =
    (tag + "\t%s\t%f\t%f\t%f\t%f\t%d\t%d\t%d\t%s\t%s\t%f\t%f\t%f\t%f\t%f").formatLocal(
      Locale.US, g.name, g.xorig, g.yorig, g.xcell, g.ycell, g.ncols, g.nrows,
      1, p.name, p.units, p.alpha, p.beta, p.gamma, p.xcent, p.ycent)

  /** Which QA comment fields append after `!` — each independently, like
    * the reference's WRITE_SRG_NUMERATOR / WRITE_SRG_DENOMINATOR /
    * WRITE_QASUM flags (surrogate.c:132-179: an off flag leaves its field
    * EMPTY; the `!` prints when any field is on). */
  final case class QaFields(numerator: Boolean, denominator: Boolean,
                            qasum: Boolean) {
    def any: Boolean = numerator || denominator || qasum
  }
  object QaFields {
    val All: QaFields = QaFields(true, true, true)
    val None: QaFields = QaFields(false, false, false)
  }

  private def qaSuffix(num: Double, den: Double, qs: Double,
                       f: QaFields): String =
    if (!f.any) ""
    else "\t!" +
      (if (f.numerator) "\t%f".formatLocal(Locale.US, num) else "") +
      (if (f.denominator) "\t%f".formatLocal(Locale.US, den) else "") +
      (if (f.qasum) "\t%f".formatLocal(Locale.US, qs) else "")

  /** Each county's SMOKE lines in file order, with its (srg_code, fips)
    * key: the data rows, then the #REMAINDER row when
    * |1−Σfrac| > 1e-5 and Σfrac > 1e-5 (surrogate.c:291-360); a county
    * below `denomThreshold` renders every row `#SKIPPED ` and no remainder
    * (surrogate.c:434-452). An `out_id` column marks polygon output
    * (surrogate.c:455-470): its rows order by the id string (the ratioPoly
    * qasum order), the id is the target field and the remainder's is "0"
    * (surrogate.c:326-334).
    * Grid rows order by (row, col) with target `col row` and remainder
    * target `0 0`. Input schema: (srg_code, fips, col, row | out_id, frac,
    * numer, denom, qasum). One in-memory group per county: counties are
    * small (≤ cells-per-county rows). */
  private def countyLines(srg: DataFrame, denomThreshold: Double,
                          fields: QaFields): Dataset[(Int, String, Seq[String])] = {
    val spark = srg.sparkSession
    import spark.implicits._
    val poly = srg.columns.contains("out_id")
    def target(c: Int, r: Int, id: String): String =
      if (poly) id else "%5d\t%5d".formatLocal(Locale.US, c, r)
    // one sort key for both shapes: a polygon's (0, 0, id), a cell's (row, col, "")
    val key =
      if (poly) Seq(lit(0), lit(0), col("out_id").cast("string"))
      else Seq(col("row").cast("int"), col("col").cast("int"), lit(""))
    srg.select(Seq(col("srg_code").cast("int"), col("fips").cast("string")) ++
        key ++ Seq(col("frac").cast("double"), col("numer").cast("double"),
        col("denom").cast("double"), col("qasum").cast("double")): _*)
      .as[(Int, String, Int, Int, String, Double, Double, Double, Double)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (k: (Int, String),
                    it: Iterator[(Int, String, Int, Int, String, Double, Double, Double, Double)]) =>
        val (code, fips) = k
        val rows = it.toVector.sortBy(t => (t._3, t._4, t._5))
        def line(prefix: String, tgt: String, frac: Double, num: Double,
                 den: Double, qs: Double): String =
          "%s%5d\t%s\t%s\t%10.8f".formatLocal(Locale.US, prefix, code, fips,
            tgt, frac) + qaSuffix(num, den, qs, fields)
        val den = rows.head._8
        val qasum = rows.last._9
        val skipped = den < denomThreshold
        val prefix = if (skipped) "#SKIPPED " else ""
        val lines = rows.map { case (_, _, r, c, id, frac, num, d, qs) =>
          line(prefix, target(c, r, id), frac, num, d, qs)
        }
        val rem =
          if (!skipped && math.abs(1.0 - qasum) > 1e-5 && qasum > 1e-5)
            Seq(line("#REMAINDER ", if (poly) "0" else target(0, 0, ""),
              1.0 - qasum, den - rows.iterator.map(_._7).sum, den, 1.0 - qasum))
          else Seq.empty
        (code, fips, lines ++ rem)
      }
  }

  /** Surrogate table → SMOKE lines, county by county (see `countyLines`).
    *
    * @param denomThreshold counties below it render as #SKIPPED rows
    * @param fields the `! numer denom qasum` comment fields to append */
  def toLines(srg: DataFrame, denomThreshold: Double = 1e-5,
              fields: QaFields = QaFields.All): Dataset[String] = {
    val spark = srg.sparkSession
    import spark.implicits._
    countyLines(srg, denomThreshold, fields).flatMap(_._3)
  }

  /** Write a complete SMOKE file: header + body, grid or polygon output
    * (see `countyLines`). Counties come in (srg_code, fips) order, each one's
    * rows in the order `countyLines` gives them. The single-file collect is
    * for byte-exact parity at test scale; at table scale `writeParts`
    * keeps the body distributed.
    *
    * @param withQa false writes no comment fields, as `QaFields.None`
    * @param headerTag #GRID for Regular/EGrid output, #VARIABLE_GRID,
    *                  #POLYGON (allocate.c:765-779) */
  def write(srg: DataFrame, g: GridSpec, p: ProjInfo, path: String,
            withQa: Boolean = true, denomThreshold: Double = 1e-5,
            headerTag: String = "#GRID", fields: QaFields = QaFields.All,
            writeHeader: Boolean = true): Unit = {
    val body = countyLines(srg, denomThreshold,
        if (withQa) fields else QaFields.None)
      .collect().sortBy(t => (t._1, t._2)).flatMap(_._3).toSeq
    val all = if (writeHeader) header(g, p, headerTag) +: body else body
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      all.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Distributed SMOKE sink for table-scale output: the same body as
    * `write`, as text part files under `dir/body/` (one per default
    * parallelism slot), header in `dir/HEADER`. Counties are
    * range-partitioned and sorted within each part, so the part files read
    * in name order hold `write`'s body. */
  def writeParts(srg: DataFrame, g: GridSpec, p: ProjInfo, dir: String,
                 denomThreshold: Double = 1e-5,
                 headerTag: String = "#GRID",
                 fields: QaFields = QaFields.All): Unit = {
    val spark = srg.sparkSession
    import spark.implicits._
    countyLines(srg, denomThreshold, fields)
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("_1"), col("_2"))
      .sortWithinPartitions("_1", "_2")
      .flatMap(_._3)
      .write.mode("overwrite").text(s"$dir/body")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/HEADER"),
      (header(g, p, headerTag) + "\n").getBytes("UTF-8"))
  }

  /** SMOKE source: parse lines back to (srg_code, fips, col, row, frac
    * [, numer, denom, qasum]) — the merge/gapfill tools' input path
    * (merge/SurrogateFileReader.java). #SKIPPED/#REMAINDER/#GRID lines drop. */
  def parse(spark: SparkSession, lines: Dataset[String]): DataFrame = {
    import spark.implicits._
    lines.filter((l: String) => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val p = l.split("\t").map(_.trim)
        val qa = p.indexOf("!")
        val (num, den, qs) =
          if (qa >= 0 && p.length >= qa + 4)
            (p(qa + 1).toDouble, p(qa + 2).toDouble, p(qa + 3).toDouble)
          else (Double.NaN, Double.NaN, Double.NaN)
        (p(0).toInt, p(1), p(2).toInt, p(3).toInt, p(4).toDouble, num, den, qs)
      }
      .toDF("srg_code", "fips", "col", "row", "frac", "numer", "denom", "qasum")
  }

  /** Parse a #GRID header line back to its GridSpec. */
  def parseHeader(line: String): GridSpec = {
    val p = line.split("\t")
    require(p(0) == "#GRID" || p(0) == "#VARIABLE_GRID" || p(0) == "#POLYGON",
      s"not a SMOKE header: $line")
    GridSpec(p(1), p(2).toDouble, p(3).toDouble, p(4).toDouble, p(5).toDouble,
      p(6).toInt, p(7).toInt)
  }
}
