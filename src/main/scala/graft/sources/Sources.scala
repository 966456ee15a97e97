package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.grid.GridSpec
import graft.spark.GeoFunctions.{cellIdCol, cellIdRow}

/** Non-parquet layer sources of the reference, re-expressed as Spark reads
  * or generated Datasets (PolyReader.c:50-150 dispatch). Shapefile binary
  * I/O lives in `sources.Shapefile`; text/CSV/generated layers here. */
object Sources {

  /** PointFile source (PointFileReader.c:34): delimited text with named X/Y
    * columns (env INPUT_FILE_XCOL/YCOL, delim COMMA|PIPE|SPACE|SEMICOLON).
    * Output: original columns + canonical `x`, `y` doubles. */
  def pointFile(spark: SparkSession, path: String,
                xcol: String, ycol: String, delim: String = ","): DataFrame = {
    val sep = delim.toUpperCase match {
      case "COMMA" => "," ; case "PIPE" => "|" ; case "SPACE" => " "
      case "SEMICOLON" => ";" ; case d => d
    }
    spark.read.option("header", "true").option("sep", sep)
      .option("inferSchema", "true").csv(path)
      .withColumn("x", col(xcol).cast("double"))
      .withColumn("y", col(ycol).cast("double"))
  }

  /** BoundingBox source (BoundingBoxReader.c:20): "x1,y1,x2,y2" literal →
    * one rectangle polygon row (broadcast-sized mask). */
  def boundingBox(spark: SparkSession, spec: String): DataFrame = {
    import spark.implicits._
    val Array(x1, y1, x2, y2) = spec.split(",").map(_.trim.toDouble)
    val (xmin, xmax) = (math.min(x1, x2), math.max(x1, x2))
    val (ymin, ymax) = (math.min(y1, y2), math.max(y1, y2))
    Seq(Seq(Seq(xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax)))
      .toDF("geom")
  }

  /** PolygonFile source (PolygonFileReader.c:27; SA_ch03_vector.md:347-351):
    * ASCII `x y` per line, blank line separates contours; auto-closed;
    * clockwise ⇒ solid, counter-clockwise ⇒ hole. One polygon per file. */
  def polygonFile(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    val rings = text.linesIterator.map(_.trim).foldLeft(Vector(Vector.empty[Double])) {
      case (acc, "") if acc.last.nonEmpty => acc :+ Vector.empty
      case (acc, "") => acc
      case (acc, l) =>
        val p = l.split("\\s+").map(_.toDouble)
        acc.init :+ (acc.last ++ Vector(p(0), p(1)))
    }.filter(_.nonEmpty).map(_.toSeq)
    Seq(rings).toDF("geom")
  }

  /** Regular-grid source (regularGridReader.c:249-296): ncols×nrows cell
    * rectangles with COL/ROW attrs — GENERATED from spark.range, evenly
    * partitioned, never shuffled. Materialize only when clipping needs the
    * polygons; point→cell assignment should use closed-form GeoFunctions. */
  def regularGrid(spark: SparkSession, g: GridSpec): DataFrame =
    spark.range(g.nCells).toDF("cell_id")
      .withColumn("col", cellIdCol(col("cell_id"), g))
      .withColumn("row", cellIdRow(col("cell_id"), g))
      .withColumn("x0", lit(g.xorig) + (col("col") - 1) * g.xcell)
      .withColumn("y0", lit(g.yorig) + (col("row") - 1) * g.ycell)
      .withColumn("geom", array(array(
        col("x0"), col("y0"),
        col("x0") + g.xcell, col("y0"),
        col("x0") + g.xcell, col("y0") + g.ycell,
        col("x0"), col("y0") + g.ycell)))
      .drop("x0", "y0")

  /** EGrid source (EGridReader.c:36): rotated-diamond WRF-NMM grid. Cell
    * (c, r) is a diamond centered on a staggered lattice; odd rows offset by
    * dx/2 (the E-grid stagger). Generated, like regularGrid. */
  def eGrid(spark: SparkSession, name: String, xorig: Double, yorig: Double,
            dx: Double, dy: Double, ncols: Int, nrows: Int): DataFrame = {
    val g = GridSpec(name, xorig, yorig, dx, dy, ncols, nrows)
    spark.range(g.nCells).toDF("cell_id")
      .withColumn("col", cellIdCol(col("cell_id"), g))
      .withColumn("row", cellIdRow(col("cell_id"), g))
      .withColumn("cx",
        lit(xorig) + (col("col") - 1) * dx +
          when(col("row") % 2 === 0, dx / 2).otherwise(lit(0.0)))
      .withColumn("cy", lit(yorig) + (col("row") - 1) * (dy / 2))
      .withColumn("geom", array(array(
        col("cx"), col("cy") - dy / 2,
        col("cx") + dx / 2, col("cy"),
        col("cx"), col("cy") + dy / 2,
        col("cx") - dx / 2, col("cy"))))
      .drop("cx", "cy")
  }

  /** Fractional-vegetation source (fractionalVegReader.c, dispatch
    * PolyReader.c:97): delimited landuse-fraction text keyed by (x, y) —
    * a plain CSV read with canonical coordinate columns. */
  def fractionalVeg(spark: SparkSession, path: String,
                    sep: String = ","): DataFrame =
    spark.read.option("header", "true").option("sep", sep)
      .option("inferSchema", "true").csv(path)
      .withColumn("x", col("x").cast("double"))
      .withColumn("y", col("y").cast("double"))

  /** Variable grid source (variableGridReader.c:82): a base grid whose
    * listed cells are refined into 4 children (one nesting level — the
    * reference's nested-refinement semantics over a regular parent). Child
    * cell ids are parent*4+k in a separate id space. */
  def variableGrid(spark: SparkSession, g: GridSpec,
                   refined: Set[Long]): DataFrame = {
    val base = regularGrid(spark, g)
    val refinedDf = base.where(col("cell_id").isin(refined.toSeq: _*))
    val kept = base.where(!col("cell_id").isin(refined.toSeq: _*))
      .withColumn("parent_id", col("cell_id"))
      .withColumn("depth", lit(0))
    val children = refinedDf
      .crossJoin(spark.range(4).toDF("k"))
      // integer child offsets — a bare k/2 is DOUBLE division in Spark and
      // would displace children k=1,3 by half a cell
      .withColumn("kx", (col("k") % 2).cast("double"))
      .withColumn("ky", floor(col("k") / 2).cast("double"))
      .withColumn("x0", lit(g.xorig) + (col("col") - 1) * g.xcell + col("kx") * (g.xcell / 2))
      .withColumn("y0", lit(g.yorig) + (col("row") - 1) * g.ycell + col("ky") * (g.ycell / 2))
      .withColumn("geom", array(array(
        col("x0"), col("y0"),
        col("x0") + g.xcell / 2, col("y0"),
        col("x0") + g.xcell / 2, col("y0") + g.ycell / 2,
        col("x0"), col("y0") + g.ycell / 2)))
      .withColumn("parent_id", col("cell_id"))
      .withColumn("cell_id", col("cell_id") * 4 + col("k"))
      .withColumn("depth", lit(1))
      .select("cell_id", "col", "row", "geom", "parent_id", "depth")
    kept.select("cell_id", "col", "row", "geom", "parent_id", "depth")
      .unionByName(children)
  }

  /** WRF grid-dot-file CURVILINEAR grid (variableGridReader.c:216-470 —
    * the reference's OUTPUT_FILE_TYPE=VariableGrid): `NCOLS = n` /
    * `NROWS = n` give DOT dimensions, then `LAT =` / `LON =` streams of
    * comma-separated values, one per dot, row-major. With READ_XYDOT=1 the
    * streams are `YDOT =` / `XDOT =` projected offsets shifted by
    * (xorig, yorig) instead of lon/lat. Each of the (ncols−1)×(nrows−1)
    * CELLS is the quadrilateral of its four surrounding dots, carrying
    * 1-based COL/ROW.
    *
    * `project` maps each (lon, lat) dot into grid coordinates (the
    * reference runs projectPoint with the output map projection); identity
    * for READ_XYDOT inputs. The dot lattice is tiny (a model grid), parsed
    * on the driver like GRIDDESC. */
  def variableDotGrid(spark: SparkSession, text: String,
                      project: (Double, Double) => (Double, Double),
                      readXY: Boolean = false,
                      xorig: Double = 0.0, yorig: Double = 0.0,
                      name: String = "VARGRID"): (GridSpec, DataFrame) = {
    import spark.implicits._
    val lines = text.linesIterator.toVector
    def intAfter(key: String): Int = lines
      .collectFirst { case l if l.contains(key) =>
        l.substring(l.indexOf(key) + key.length).trim.takeWhile(_.isDigit).toInt }
      .getOrElse(throw new IllegalArgumentException(
        s"grid dot file lacks '$key' (variableGridReader.c:252-259)"))
    val dotCols = intAfter("NCOLS = ")
    val dotRows = intAfter("NROWS = ")
    val n = dotCols * dotRows
    val (yKey, xKey) = if (readXY) ("YDOT =", "XDOT =") else ("LAT =", "LON =")
    def stream(key: String): Array[Double] = {
      val start = lines.indexWhere(_.contains(key))
      require(start >= 0, s"grid dot file lacks '$key'")
      // values may begin ON the key line ("LAT = 1.0, 2.0, …") or on the
      // following lines — both real-world layouts parse
      val headRest = lines(start)
        .substring(lines(start).indexOf(key) + key.length)
      val vals = (Iterator(headRest) ++ lines.drop(start + 1).iterator
          .takeWhile(l => !l.contains(if (key == yKey) xKey else yKey)))
        .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))
        .map(_.toDouble).take(n).toArray
      require(vals.length == n,
        s"grid dot file '$key' stream has ${vals.length} values, need $n")
      vals
    }
    val ys = stream(yKey); val xs = stream(xKey)
    val px = new Array[Double](n); val py = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (readXY) { px(i) = xs(i) + xorig; py(i) = ys(i) + yorig }
      else { val (a, b) = project(xs(i), ys(i)); px(i) = a; py(i) = b }
      i += 1
    }
    val cells = for { r <- 0 until dotRows - 1; c <- 0 until dotCols - 1 } yield {
      def dot(rr: Int, cc: Int) = rr * dotCols + cc
      val Seq(ll, lr, ur, ul) =
        Seq(dot(r, c), dot(r, c + 1), dot(r + 1, c + 1), dot(r + 1, c))
      (r.toLong * (dotCols - 1) + c, c + 1, r + 1,
        Seq(Seq(px(ll), py(ll), px(lr), py(lr), px(ur), py(ur), px(ul), py(ul))))
    }
    // the grid spec CONSISTENT with the dot lattice (cell counts from the
    // dots, origin/mean cell size from the projected bbox) — a SMOKE
    // header must never claim dimensions the body's COL/ROW exceed
    val spec = GridSpec(name, px.min, py.min,
      (px.max - px.min) / (dotCols - 1), (py.max - py.min) / (dotRows - 1),
      dotCols - 1, dotRows - 1)
    (spec, cells.toDF("cell_id", "col", "row", "geom"))
  }
}
