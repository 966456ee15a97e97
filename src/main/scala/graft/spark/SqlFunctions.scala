package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, Decimal, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.cells.{CellDomain, CellIndex}
import graft.spark.expressions.{CellEncodeExpr, CoverCellsExpr, GeohashExpr, LuhnValid, MultiPatternCounts, NfcNormalize, PointInPolygonStatus, TrailingDigits}

/** SQL surface for the engine's native kernels: registers the codegen'd
  * Catalyst expressions as SQL functions so `spark.sql("SELECT
  * graft_cell_encode(x, y, …)")` runs the SAME whole-stage-codegen kernel
  * as the DataFrame API — one implementation, two front doors. The
  * reference exposes its kernels only through compiled binaries
  * (srgcreate/allocator argv contracts); on Spark the idiomatic second
  * surface is the session function registry, reachable from SQL notebooks
  * and thrift-server clients with zero driver code.
  *
  * Domain/resolution arguments must be foldable literals — they become
  * constructor constants baked into the generated code (exactly like the
  * DataFrame builders in [[GeoFunctions]]), so the planner sees one
  * specialized kernel per call site, not a row-variant interpretation.
  */
object SqlFunctions {

  private def litDouble(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, _)  => v
    case Literal(v: Float, _)   => v.toDouble
    case Literal(v: Int, _)     => v.toDouble
    case Literal(v: Long, _)    => v.toDouble
    case Literal(v: Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: domain argument must be a numeric literal, got $other")
  }

  /** An integer literal within [lo, hi]: a BIGINT literal is not narrowed,
    * and a value outside the kernel's range fails at analysis instead of
    * aliasing (cell ids of two resolutions collide above MaxRes) or
    * failing mid-task. */
  private def litInt(e: Expression, fn: String, what: String,
                     lo: Int, hi: Int): Int = {
    val v = e match {
      case Literal(v: Int, _)  => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $what argument must be an integer literal, got $other")
    }
    if (v < lo || v > hi) throw new IllegalArgumentException(
      s"$fn: $what argument must be in [$lo, $hi], got $v")
    v.toInt
  }

  private def litRes(e: Expression, fn: String): Int =
    litInt(e, fn, "resolution", 0, CellIndex.MaxRes)

  private def d(e: Expression): Expression = Cast(e, DoubleType)
  private val ringsType = ArrayType(ArrayType(DoubleType))

  /** graft_cell_encode(x, y, xmin, ymin, xmax, ymax, res) → BIGINT cell id
    * ((res << 58) | morton(ix, iy)) — the batched geotag cell-encode stage. */
  val cellEncode: Seq[Expression] => Expression = { args =>
    require(args.length == 7,
      "graft_cell_encode(x, y, xmin, ymin, xmax, ymax, res)")
    CellEncodeExpr(d(args(0)), d(args(1)),
      litDouble(args(2), "graft_cell_encode"),
      litDouble(args(3), "graft_cell_encode"),
      litDouble(args(4), "graft_cell_encode"),
      litDouble(args(5), "graft_cell_encode"),
      litRes(args(6), "graft_cell_encode"))
  }

  /** graft_pip_status(x, y, rings) → INT 0 OUT / 1 IN (edges contained) /
    * 3 VTX — the exact ray-casting point-in-polygon verify kernel. */
  val pipStatus: Seq[Expression] => Expression = { args =>
    require(args.length == 3, "graft_pip_status(x, y, rings)")
    PointInPolygonStatus(d(args(0)), d(args(1)), Cast(args(2), ringsType))
  }

  /** graft_cover_cells(rings, xmin, ymin, xmax, ymax, res) → ARRAY<BIGINT>
    * covering Z-cells of the polygon bbox (the join-key explode side). */
  val coverCells: Seq[Expression] => Expression = { args =>
    require(args.length == 6,
      "graft_cover_cells(rings, xmin, ymin, xmax, ymax, res)")
    CoverCellsExpr(Cast(args(0), ringsType), polygon = true,
      CellDomain(litDouble(args(1), "graft_cover_cells"),
        litDouble(args(2), "graft_cover_cells"),
        litDouble(args(3), "graft_cover_cells"),
        litDouble(args(4), "graft_cover_cells")),
      litRes(args(5), "graft_cover_cells"))
  }

  /** graft_geohash(lon, lat, precision) → STRING base-32 geohash. */
  val geohash: Seq[Expression] => Expression = { args =>
    require(args.length == 3, "graft_geohash(lon, lat, precision)")
    GeohashExpr(d(args(0)), d(args(1)),
      litInt(args(2), "graft_geohash", "precision", 1, 12))
  }

  private def litStrings(e: Expression, fn: String): Seq[String] = e match {
    case CreateArray(children, _) => children.map {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: pattern array elements must be string literals, got $other")
    }
    case Literal(a: ArrayData, ArrayType(StringType, _)) =>
      a.toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString)
        .toSeq
    case other => throw new IllegalArgumentException(
      s"$fn: patterns must be a literal string array, got $other")
  }

  /** graft_multi_pattern_counts(text, array('a','b',…)) → ARRAY<BIGINT>
    * per-pattern occurrence counts via one Aho–Corasick pass. */
  val multiPatternCounts: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "graft_multi_pattern_counts(text, array(patterns…))")
    MultiPatternCounts(Cast(args(0), StringType),
      litStrings(args(1), "graft_multi_pattern_counts"))
  }

  /** graft_luhn_valid(s) → BOOLEAN Luhn mod-10 check (13–19 digits). */
  val luhnValid: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "graft_luhn_valid(s)")
    LuhnValid(Cast(args(0), StringType))
  }

  /** (name, builder) rows — one per SQL function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_cell_encode", cellEncode),
    ("graft_pip_status", pipStatus),
    ("graft_cover_cells", coverCells),
    ("graft_geohash", geohash),
    ("graft_multi_pattern_counts", multiPatternCounts),
    ("graft_luhn_valid", luhnValid),
    // graft_trailing_digits(s): the native twin of
    // regexp_extract(s, '(\\d+)$', 1), the page-id parse of Pages.urlId
    ("graft_trailing_digits", (args: Seq[Expression]) => {
      require(args.length == 1, "graft_trailing_digits(s)")
      TrailingDigits(args(0))
    }),
    ("graft_nfc", (args: Seq[Expression]) => {
      require(args.length == 1, "graft_nfc(s)")
      NfcNormalize(Cast(args(0), StringType))
    }))

  /** Register on an already-built session (temp functions; idempotent). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
