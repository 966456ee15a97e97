package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Output checks. None of them calls the code under test: they read the
  * collected output rows, or the files the catalog wrote, and compare them
  * with quantities known from the generated inputs. Each returns the list
  * of violations; empty means the output passed. */
object Checks {

  /** One surrogate output row: (fips, col, row, frac, numer, denom). */
  final case class Cell(fips: String, col: Int, row: Int, frac: Double,
                        numer: Double, denom: Double)

  def cells(rows: Seq[org.apache.spark.sql.Row]): Seq[Cell] = rows.map { r =>
    Cell(r.getAs[String]("fips"), r.getAs[Int]("col"), r.getAs[Int]("row"),
      r.getAs[Double]("frac"), r.getAs[Double]("numer"), r.getAs[Double]("denom"))
  }

  private def fracSums(cs: Seq[Cell], tol: Double): Seq[String] =
    cs.filter(_.denom != 0.0).groupBy(_.fips).toSeq.sortBy(_._1).flatMap { case (f, g) =>
      val s = g.map(_.frac).sum
      if (math.abs(s - 1.0) <= tol) Nil else Seq(f"county $f: sum(frac) = $s%.12f")
    }

  private def shape(cs: Seq[Cell]): Seq[String] =
    (if (cs.isEmpty) Seq("no output rows") else Nil) ++
      cs.filterNot(c => c.col >= 1 && c.col <= 8 && c.row >= 1 && c.row <= 8)
        .take(3).map(c => s"cell off the grid: $c") ++
      cs.groupBy(c => (c.fips, c.col, c.row)).collect {
        case (k, g) if g.size > 1 => s"duplicate cell $k"
      }.take(3)

  /** Point surrogate in count mode over pages: every county sums to 1, and
    * the numerators add up to the number of pages the geotag keeps. */
  def pagesSurrogate(cs: Seq[Cell], geotagged: Long): Seq[String] = {
    val total = cs.map(_.numer).sum
    shape(cs) ++ fracSums(cs, 1e-9) ++
      (if (total == geotagged.toDouble) Nil
       else Seq(s"sum(numer) = $total, expected $geotagged geotagged pages"))
  }

  /** Polygon surrogate in attribute-weight mode: every county sums to 1, and
    * since the counties tile the domain and every polygon lies inside it,
    * the county denominators add up to the total generated weight. */
  def polySurrogate(cs: Seq[Cell], weightSum: Double): Seq[String] = {
    val denoms = cs.groupBy(_.fips).values.map(_.head.denom).sum
    val rel = math.abs(denoms - weightSum) / weightSum
    shape(cs) ++ fracSums(cs, 1e-9) ++
      (if (rel <= 1e-9) Nil
       else Seq(f"sum(denom) = $denoms%.6f, expected $weightSum%.6f (rel $rel%.3e)"))
  }

  /** A catalog run: SRGDESC lists each expected code exactly once, and each
    * listed SMOKE file parses back with per-county frac sums of 1. */
  def catalog(dir: Path, codes: Set[Int]): Seq[String] = {
    val desc = dir.resolve("SRGDESC.txt")
    if (!Files.isRegularFile(desc)) return Seq("SRGDESC.txt missing")
    val lines = Files.readAllLines(desc, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
    val entries = lines.map(_.split(",", 3))
    val listed = entries.map(_(0).trim.toInt)
    val descErrors =
      (if (listed.sorted == codes.toSeq.sorted) Nil
       else Seq(s"SRGDESC codes ${listed.sorted.mkString(",")}, expected ${codes.toSeq.sorted.mkString(",")}")) ++
      entries.filter(_.length != 3).map(e => s"SRGDESC line without a path: ${e.mkString(",")}")
    descErrors ++ entries.filter(_.length == 3).flatMap { e =>
      smokeFile(java.nio.file.Paths.get(e(2)), e(0).trim.toInt)
    }
  }

  /** Parse one SMOKE surrogate file: a #GRID header, then tab-separated
    * `code fips col row frac [! ...]` lines; '#' lines are comments. */
  def smokeFile(p: Path, code: Int): Seq[String] = {
    if (!Files.isRegularFile(p)) return Seq(s"$p missing")
    val all = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
    val header = if (all.headOption.exists(_.startsWith("#GRID\t"))) Nil
                 else Seq(s"$p: first line is not a #GRID header")
    val data = all.filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t").map(_.trim))
    val bad = data.filter(f => f.length < 5 || f(0) != code.toString)
    val sums = data.filterNot(bad.contains).groupBy(_(1)).toSeq.sortBy(_._1).flatMap { case (f, g) =>
      val s = g.map(_(4).toDouble).sum
      if (math.abs(s - 1.0) <= 1e-5) Nil else Seq(f"$p county $f: sum(frac) = $s%.8f")
    }
    header ++ (if (data.isEmpty) Seq(s"$p has no data lines") else Nil) ++
      bad.take(3).map(f => s"$p: bad line ${f.mkString("\\t")}") ++ sums
  }
}
