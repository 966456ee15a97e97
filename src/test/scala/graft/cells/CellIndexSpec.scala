package graft.cells

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Geo.BBox
import graft.grid.{Ellipsoid, GridSpec, GridCatalog, Proj}

class CellIndexSpec extends AnyFunSuite {
  val dom = CellDomain(0, 0, 8000, 8000)

  test("morton interleave roundtrip") {
    val rnd = new scala.util.Random(7)
    (1 to 1000).foreach { _ =>
      val ix = rnd.nextLong() & ((1L << 28) - 1)
      val iy = rnd.nextLong() & ((1L << 28) - 1)
      assert(CellIndex.deinterleave(CellIndex.interleave(ix, iy)) == ((ix, iy)))
    }
  }

  test("encode: point lands in its own cell bbox") {
    val rnd = new scala.util.Random(11)
    (1 to 500).foreach { _ =>
      val x = rnd.nextDouble() * 8000; val y = rnd.nextDouble() * 8000
      val id = CellIndex.encode(x, y, dom, 10)
      val b = CellIndex.cellBBox(id, dom)
      assert(b.contains(x, y))
      assert(CellIndex.resolutionOf(id) == 10)
    }
  }

  test("coverCells covers every encoded point of the bbox") {
    val b = BBox(1000, 1500, 2500, 3000)
    val cover = CellIndex.coverCells(b, dom, 6).toSet
    val rnd = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      val x = b.xmin + rnd.nextDouble() * (b.xmax - b.xmin)
      val y = b.ymin + rnd.nextDouble() * (b.ymax - b.ymin)
      assert(cover.contains(CellIndex.encode(x, y, dom, 6)))
    }
  }

  test("kRing sizes and ring decomposition") {
    val id = CellIndex.encode(4000, 4000, dom, 8)
    assert(CellIndex.kRing(id, 0) == IndexedSeq(id))
    assert(CellIndex.kRing(id, 1).size == 9)
    assert(CellIndex.kRing(id, 2).size == 25)
    assert(CellIndex.ringAt(id, 2).size == 16)
    assert(CellIndex.kRing(id, 2).toSet ==
      (0 to 2).flatMap(k => CellIndex.ringAt(id, k)).toSet)
  }

  test("grid closed-form cell math (surrogate.c:425-431)") {
    val g = GridCatalog.TEST8
    assert(g.cellId(500, 500) == 0L)
    assert(g.cellId(7500, 7500) == 63L)
    assert(g.cellId(-1, 500) == -1L)
    assert(g.cellId(8000, 500) == -1L) // right edge exclusive
    assert(g.colOfCell(9) == 2 && g.rowOfCell(9) == 2)
    val b = g.cellBBox(9)
    assert(b == BBox(1000, 1000, 2000, 2000))
    assert(g.coverCells(BBox(500, 500, 1500, 1500)) == Vector(0L, 1L, 8L, 9L))
    assert(g.coverCells(BBox(-10, -10, -5, -5)).isEmpty)
  }

  test("LCC projection roundtrip") {
    val lcc = Proj.Lcc(33.0, 45.0, 40.0, -97.0)
    val pts = Seq((-97.0, 40.0), (-86.78, 36.17), (-120.0, 30.0), (-70.0, 45.0))
    pts.foreach { case (lon, lat) =>
      val (x, y) = lcc.forward(lon, lat)
      val (lon2, lat2) = lcc.inverse(x, y)
      assert(math.abs(lon - lon2) < 1e-9 && math.abs(lat - lat2) < 1e-9)
    }
    // projection of origin is (0,0)
    val (x0, y0) = lcc.forward(-97.0, 40.0)
    assert(math.abs(x0) < 1e-6 && math.abs(y0) < 1e-6)
  }

  test("Mercator + Tmerc roundtrip") {
    val m = Proj.Mercator(-90.0)
    val (mx, my) = m.forward(-86.0, 35.0)
    val (mlon, mlat) = m.inverse(mx, my)
    assert(math.abs(mlon + 86.0) < 1e-9 && math.abs(mlat - 35.0) < 1e-9)
    val t = Proj.utm(16, 500000, 0, Ellipsoid.Sphere)
    val (tx, ty) = t.forward(-86.0, 35.0)
    val (tlon, tlat) = t.inverse(tx, ty)
    assert(math.abs(tlon + 86.0) < 1e-9 && math.abs(tlat - 35.0) < 1e-9)
  }

  test("densify keeps endpoints and shortens max segment") {
    val d = Proj.densify(Array(0, 0, 100, 0), 30.0)
    assert(d(0) == 0 && d(1) == 0 && d(d.length - 2) == 100 && d(d.length - 1) == 0)
    val segs = d.grouped(2).toArray.sliding(2).map { case Array(a, b) =>
      math.hypot(b(0) - a(0), b(1) - a(1)) }.toSeq
    assert(segs.forall(_ <= 30.0 + 1e-9))
    assert(math.abs(segs.sum - 100.0) < 1e-9)
  }
}
