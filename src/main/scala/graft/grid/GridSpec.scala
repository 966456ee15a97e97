package graft.grid

import graft.geom.Geo.BBox

/** Regular modeling grid — the reference's MapProjInfo grid fields
  * (mims_spatl.h:84-100) + GRIDDESC catalog entry
  * (docs/User_Manual/SA_ch03_vector.md:380-464).
  *
  * Cells are DERIVED, never materialized (regularGridReader.c:249-296 builds
  * them in memory; we go further and keep them closed-form):
  *   cell_id = (row-1)*ncols + (col-1);  col = id%ncols+1;  row = id/ncols+1
  *   (surrogate.c:425-431)
  * point→cell is floor division — no join needed to gridde points.
  */
final case class GridSpec(
    name: String,
    xorig: Double, yorig: Double,
    xcell: Double, ycell: Double,
    ncols: Int, nrows: Int) {

  def nCells: Long = ncols.toLong * nrows

  def bbox: BBox = BBox(xorig, yorig, xorig + ncols * xcell, yorig + nrows * ycell)

  /** 1-based column of x, or 0 / ncols+1 style out-of-range values clamped to -1. */
  def colOf(x: Double): Int = {
    val c = math.floor((x - xorig) / xcell).toInt + 1
    if (c < 1 || c > ncols) -1 else c
  }
  def rowOf(y: Double): Int = {
    val r = math.floor((y - yorig) / ycell).toInt + 1
    if (r < 1 || r > nrows) -1 else r
  }

  /** 0-based cell id, or -1 when outside the grid. */
  def cellId(x: Double, y: Double): Long = {
    val c = colOf(x); val r = rowOf(y)
    if (c < 0 || r < 0) -1L else (r - 1).toLong * ncols + (c - 1)
  }

  def colOfCell(id: Long): Int = (id % ncols).toInt + 1
  def rowOfCell(id: Long): Int = (id / ncols).toInt + 1

  def cellBBox(id: Long): BBox = {
    val c = colOfCell(id); val r = rowOfCell(id)
    BBox(xorig + (c - 1) * xcell, yorig + (r - 1) * ycell,
         xorig + c * xcell, yorig + r * ycell)
  }

  /** Ids of all cells overlapping a bbox — the candidate enumeration the
    * reference does per data polygon (sumpoly.c:385-423). Clamped to the
    * grid; empty when disjoint. */
  def coverCells(b: BBox): IndexedSeq[Long] = {
    val c0 = math.max(1, math.floor((b.xmin - xorig) / xcell).toInt + 1)
    val c1 = math.min(ncols, math.floor((b.xmax - xorig) / xcell).toInt + 1)
    val r0 = math.max(1, math.floor((b.ymin - yorig) / ycell).toInt + 1)
    val r1 = math.min(nrows, math.floor((b.ymax - yorig) / ycell).toInt + 1)
    if (c0 > c1 || r0 > r1) Vector.empty
    else for {
      r <- r0 to r1
      c <- c0 to c1
    } yield (r - 1).toLong * ncols + (c - 1)
  }
}

/** GRIDDESC-style named catalog (SA_ch03_vector.md:380-464): tiny, broadcast
  * to executors as a plain Map inside closures. */
object GridCatalog {
  /** 8×8 unit test grid over [0,8000)² (FIXTURES.md F2). */
  val TEST8: GridSpec = GridSpec("TEST8", 0.0, 0.0, 1000.0, 1000.0, 8, 8)
  /** Finer grid for bench runs. */
  val BENCH64: GridSpec = GridSpec("BENCH64", 0.0, 0.0, 125.0, 125.0, 64, 64)
  /** M08_NASH-like LCC example (GRIDDESC.txt sample). */
  val M08_NASH: GridSpec = GridSpec("M08_NASH", 540000.0, -168000.0, 8000.0, 8000.0, 45, 66)

  val byName: Map[String, GridSpec] =
    Seq(TEST8, BENCH64, M08_NASH).map(g => g.name -> g).toMap
}
