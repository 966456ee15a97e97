package graft.sources

import java.nio.file.Files
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NetCDF._

/** Randomized round-trip property for the NetCDF-3 codec: arbitrary dim
  * shapes (with and without a record dimension), attribute mixes, variable
  * type/dimension combinations — written then re-read byte-for-value
  * identical, across CDF-1 and CDF-2. Seeded, so failures reproduce. */
class NetCdfPropertySpec extends AnyFunSuite {

  private val dir = graft.Scratch.dir("ncprop")

  private def randomFile(rnd: Random): NcFile = {
    val nFixed = 1 + rnd.nextInt(3)
    val fixed = (0 until nFixed).map(i => Dim(s"d$i", 1 + rnd.nextInt(4)))
    val hasRec = rnd.nextBoolean()
    val dims = if (hasRec) Dim("t", 0) +: fixed else fixed
    val recId = if (hasRec) 0 else -1
    val fixedIds = dims.indices.filter(_ != recId)
    val numRecs = 1 + rnd.nextInt(3)

    val types = Seq(NC_BYTE, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE)
    val nVars = 1 + rnd.nextInt(4)
    val vars = (0 until nVars).map { i =>
      val isRec = hasRec && rnd.nextBoolean()
      val nd = rnd.nextInt(fixedIds.length + 1)
      val vdims = (if (isRec) Seq(recId) else Nil) ++
        rnd.shuffle(fixedIds.toList).take(nd).sorted
      Var(s"v$i", types(rnd.nextInt(types.length)), vdims,
        if (rnd.nextBoolean()) Seq(Att("units", s"u$i")) else Nil)
    }
    val data: Map[String, AnyRef] = vars.map { v =>
      val fixedN = v.dims.filter(_ != recId).map(d => dims(d).length).product
      val n = fixedN * (if (v.dims.headOption.contains(recId)) numRecs else 1)
      val arr: AnyRef = v.ncType match {
        case NC_BYTE   => Array.fill[Byte](n)(rnd.nextInt().toByte)
        case NC_SHORT  => Array.fill[Short](n)(rnd.nextInt().toShort)
        case NC_INT    => Array.fill[Int](n)(rnd.nextInt())
        case NC_FLOAT  => Array.fill[Float](n)(rnd.nextFloat() * 100 - 50)
        case NC_DOUBLE => Array.fill[Double](n)(rnd.nextDouble() * 100 - 50)
      }
      v.name -> arr
    }.toMap

    val gatts = (0 until rnd.nextInt(3)).map { i =>
      if (rnd.nextBoolean()) Att(s"g$i", s"value $i")
      else Att(s"g$i", Array.fill(1 + rnd.nextInt(3))(rnd.nextInt()))
    }
    NcFile(dims, gatts, vars, data)
  }

  private def assertSame(a: NcFile, b: NcFile, seed: Int): Unit = {
    assert(b.dims == a.dims, s"seed $seed")
    assert(b.vars.map(v => (v.name, v.ncType, v.dims)) ==
           a.vars.map(v => (v.name, v.ncType, v.dims)), s"seed $seed")
    a.gatts.foreach { g =>
      val got = b.att(g.name).get
      (g.value, got) match {
        case (x: String, y: String)         => assert(x == y, s"seed $seed ${g.name}")
        case (x: Array[Int], y: Array[Int]) => assert(x.toSeq == y.toSeq, s"seed $seed ${g.name}")
        case (x, y)                         => assert(x == y, s"seed $seed ${g.name}")
      }
    }
    a.data.keys.foreach { k =>
      (a.data(k), b.data(k)) match {
        case (x: Array[Byte], y: Array[Byte])     => assert(x.toSeq == y.toSeq, s"seed $seed $k")
        case (x: Array[Short], y: Array[Short])   => assert(x.toSeq == y.toSeq, s"seed $seed $k")
        case (x: Array[Int], y: Array[Int])       => assert(x.toSeq == y.toSeq, s"seed $seed $k")
        case (x: Array[Float], y: Array[Float])   => assert(x.toSeq == y.toSeq, s"seed $seed $k")
        case (x: Array[Double], y: Array[Double]) => assert(x.toSeq == y.toSeq, s"seed $seed $k")
        case (x, y) => fail(s"seed $seed $k: type mismatch $x vs $y")
      }
    }
  }

  test("random NcFiles round trip through CDF-1 and CDF-2 (100 seeds)") {
    (0 until 100).foreach { seed =>
      val f = randomFile(new Random(seed))
      val wide = seed % 2 == 1
      val p = dir.resolve(s"prop$seed.nc").toString
      NetCDF.write(p, f, forceWide = Some(wide))
      assertSame(f, NetCDF.read(p), seed)
    }
  }
}
