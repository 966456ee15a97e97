package graft.cells

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .appName("zorder-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("column zvalue matches the Scala-side CellIndex.interleave kernel") {
    val s = spark
    import s.implicits._
    val coords = for (ix <- 0L until 40L; iy <- Seq(0L, 1L, 31L, 255L, 65535L))
      yield (ix, iy)
    val got = coords.toDF("ix", "iy")
      .select(col("ix"), col("iy"), ZOrder.zvalue(col("ix"), col("iy")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    coords.foreach { case (ix, iy) =>
      assert(got((ix, iy)) == CellIndex.interleave(ix, iy), s"($ix, $iy)")
    }
  }

  test("z-order layout makes 2-D manifest pruning selective") {
    val s = spark
    import s.implicits._
    import graft.table.SnapshotTable
    val root = graft.Scratch.dir("zorder").toString
    val t = new SnapshotTable(root)
    val pts = s.range(0, 4096).toDF("i")
      .select((col("i") % 64).as("ix"), (col("i") / 64).cast("long").as("iy"))
    val z = ZOrder.zvalue(col("ix"), col("iy"))
    t.commit(pts.repartitionByRange(16, z).sortWithinPartitions(z),
      "append", "lattice")
    val box = Seq(("ix", 4L, 11L), ("iy", 8L, 15L))
    val pruned = t.prunedFilesWhere(box)
    assert(pruned.size < t.current.get.files.size,
      s"expected pruning, read ${pruned.size} of ${t.current.get.files.size}")
    // the pruned read returns exactly the box
    val rows = t.readWhereBox(s, box).collect()
    assert(rows.length == 64)
    assert(rows.forall(r => r.getLong(0) >= 4 && r.getLong(0) <= 11 &&
      r.getLong(1) >= 8 && r.getLong(1) <= 15))
    // contrast: the same data laid out by ix only gives WIDE iy envelopes —
    // z-order must beat or match it on the box read
    val t2 = new SnapshotTable(
      graft.Scratch.dir("rowmajor").toString)
    t2.commit(pts.repartitionByRange(16, col("ix")), "append", "row-major")
    assert(pruned.size <= t2.prunedFilesWhere(box).size)
  }
}
