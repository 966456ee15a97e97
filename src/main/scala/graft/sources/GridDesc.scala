package graft.sources

import graft.grid.GridSpec

/** GRIDDESC catalog parser (docs/User_Manual/SA_ch03_vector.md:380-464,
  * sample docs/User_Manual/media/GRIDDESC.txt): two quoted-name sections —
  * coordinate systems `type, alpha, beta, gamma, xcent, ycent`, then grids
  * `'coordname', xorig, yorig, xcell, ycell, ncols, nrows, nthik` — each
  * terminated by a `' '` line; `!` starts a comment. */
object GridDesc {

  /** proj type ids per the I/O API convention used by the reference
    * (mims_spatl_proj.c / SA_ch03_vector.md:406-464). */
  final case class CoordSys(name: String, ctype: Int, alpha: Double,
                            beta: Double, gamma: Double,
                            xcent: Double, ycent: Double)

  object CoordSys {
    /** A grid's coordinate system when no GRIDDESC entry names one:
      * SMOKE's default Lambert conic (standard parallels 30 and 60 °N,
      * centred at 100 °W, 40 °N), the one `Smoke.ProjInfo()` writes. */
    val Default: CoordSys = CoordSys("LAM_40N100W", 2, 30.0, 60.0, -100.0, -100.0, 40.0)
  }

  final case class Entry(grid: GridSpec, coord: CoordSys, nthik: Int)

  final case class Catalog(coords: Map[String, CoordSys], grids: Map[String, Entry])

  private def stripComment(l: String): String = {
    val i = l.indexOf('!')
    (if (i >= 0) l.substring(0, i) else l).trim
  }

  private def unquote(s: String): String = s.trim.stripPrefix("'").stripSuffix("'").trim

  def parse(text: String): Catalog = {
    val lines = text.linesIterator.map(stripComment).filter(_.nonEmpty).toVector
    var i = 0
    def atSectionEnd: Boolean = unquote(lines(i)).isEmpty

    var coords = Map.empty[String, CoordSys]
    while (i < lines.length && !atSectionEnd) {
      val name = unquote(lines(i)); i += 1
      val p = lines(i).split(",").map(_.trim.toDouble); i += 1
      coords += name -> CoordSys(name, p(0).toInt, p(1), p(2), p(3), p(4), p(5))
    }
    i += 1 // skip section terminator

    var grids = Map.empty[String, Entry]
    while (i < lines.length && !atSectionEnd) {
      val name = unquote(lines(i)); i += 1
      val parts = lines(i).split(",").map(_.trim); i += 1
      val coordName = unquote(parts(0))
      val coord = coords.getOrElse(coordName,
        throw new IllegalArgumentException(s"grid $name references unknown coord $coordName"))
      val Array(xo, yo, xc, yc) = parts.slice(1, 5).map(_.toDouble)
      grids += name -> Entry(
        GridSpec(name, xo, yo, xc, yc, parts(5).toDouble.toInt, parts(6).toDouble.toInt),
        coord, parts(7).toDouble.toInt)
    }
    Catalog(coords, grids)
  }
}
