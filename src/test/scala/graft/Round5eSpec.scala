package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.multimodal.Containers

class Round5eSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("round5e-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def gray(w: Int, h: Int, f: (Int, Int) => Int,
                   topDown: Boolean = false): Array[Byte] = {
    val st = Containers.Bmp.stride(w, 24)
    val px = new Array[Byte](st * h)
    for (y <- 0 until h; x <- 0 until w) {
      val row = if (topDown) y else h - 1 - y
      val g = (f(x, y) % 256).toByte
      val o = row * st + x * 3
      px(o) = g; px(o + 1) = g; px(o + 2) = g
    }
    Containers.Bmp.write(w, if (topDown) -h else h, px)
  }

  private def pixel(b: Array[Byte], x: Int, y: Int): Int = {
    val m = Containers.Bmp.meta(b)
    val row = if (m.topDown) y else m.height - 1 - y
    b(m.dataOffset.toInt + row * m.rowStride + x * 3) & 0xff
  }

  test("resizeNearest: floor sample mapping, both row orders, identity") {
    val f = (x: Int, y: Int) => 11 * x + 3 * y + 5
    for (topDown <- Seq(false, true)) {
      val src = gray(6, 4, f, topDown)
      val out = Containers.Bmp.resizeNearest(src, 3, 2)
      val m = Containers.Bmp.meta(out)
      assert((m.width, m.height) === ((3, 2)))
      // out (x,y) samples src (x*6/3, y*4/2) = (2x, 2y)
      for (y <- 0 until 2; x <- 0 until 3)
        assert(pixel(out, x, y) === f(2 * x, 2 * y) % 256,
          s"topDown=$topDown at ($x,$y)")
    }
    // identity resize keeps every pixel
    val src = gray(5, 3, f)
    val same = Containers.Bmp.resizeNearest(src, 5, 3)
    for (y <- 0 until 3; x <- 0 until 5)
      assert(pixel(same, x, y) === pixel(src, x, y))
  }

  test("resizeNearest: upscale replicates; non-24bpp rejected") {
    val f = (x: Int, y: Int) => x + 10 * y
    val up = Containers.Bmp.resizeNearest(gray(2, 2, f), 4, 4)
    // out x in 0..3 -> src x*2/4 = x/2
    for (y <- 0 until 4; x <- 0 until 4)
      assert(pixel(up, x, y) === f(x / 2, y / 2))
    val bad = "BM".getBytes ++ new Array[Byte](60)
    intercept[IllegalArgumentException] {
      Containers.Bmp.resizeNearest(bad, 2, 2)
    }
  }

  test("personalizedPageRank: hand-computed two-node chain, mass bound") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val S = 1000000000000L
    val got = graft.graph.DomainRank.personalizedPageRank(edges, Seq(1L), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seed 1: teleport only = 15S div 100; node 2: damped full seed mass
    assert(got === Map(1L -> (15L * S) / 100L, 2L -> (85L * S) / 100L))
    // more passes never create mass
    val tot4 = graft.graph.DomainRank.personalizedPageRank(edges, Seq(1L), iters = 4)
      .agg(sum("pr")).head().getLong(0)
    assert(tot4 <= S)
  }

  test("semanticPairs: planted duplicates pair at cos 1000, orthogonals don't") {
    val s = spark
    import s.implicits._
    // centroid-owning vectors 0 and 1 orthogonal; 10 and 11 duplicate them
    val vecs = Seq(
      (0L, Array(127, 0, 0, 0)), (1L, Array(0, 127, 0, 0)),
      (10L, Array(127, 0, 0, 0)), (11L, Array(0, 127, 0, 0)),
      (12L, Array(90, 90, 0, 0))) // 45 degrees: cos ~ 0.707 < 0.9
      .toDF("id", "q8")
    val cents = vecs.where(col("id") < 2)
      .select(col("id").as("cid"), col("q8").as("cq8"))
    val got = graft.ml.SemDedup.semanticPairs(vecs, cents, tauMilli = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.spark.PersistTracker.drain()
    assert(got === Set((0L, 0L, 10L), (1L, 1L, 11L)))
  }

  test("chiSquareTerms matches a brute-force double reference") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0, "apple apple apple banana common common"),
      (1, "banana cherry common common apple"),
      (0, "apple common banana banana"),
      (1, "cherry cherry common banana")).toDF("slice", "text")
    val got = graft.text.Drift.chiSquareTerms(docs, "text", "slice",
        minTotal = 1L, minChiMicro = 0L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.spark.PersistTracker.drain()
    val toks = Seq(0 -> "apple apple apple banana common common",
      1 -> "banana cherry common common apple",
      0 -> "apple common banana banana",
      1 -> "cherry cherry common banana")
      .flatMap { case (sl, t) => t.split(" ").map(w => (w, sl)) }
    val byW = toks.groupBy(_._1).map { case (w, xs) =>
      w -> ((xs.count(_._2 == 0).toLong, xs.count(_._2 == 1).toLong))
    }
    val n1 = byW.values.map(_._1).sum
    val n2 = byW.values.map(_._2).sum
    val ref = byW.map { case (w, (c1, c2)) =>
      val diff = (c1 * (n2 - c2) - c2 * (n1 - c1)).toDouble
      val chi = 1000000.0 * (n1 + n2).toDouble * diff * diff /
        ((c1 + c2).toDouble * (n1 + n2 - c1 - c2).toDouble * n1.toDouble * n2.toDouble)
      w -> ((c1, c2, math.round(chi)))
    }
    assert(got === ref)
    // the slice-exclusive term must outrank the balanced one
    assert(got("cherry")._3 > got("common")._3)
  }
}
