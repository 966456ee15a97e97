package graft.table

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Copy-on-write MERGE, manifest column-stats pruning, change-data-feed,
  * and reference-counted expiry over shared files. */
class SnapshotMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("snapshot-merge-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpRoot(): String =
    graft.Scratch.dir("snapmerge").toString

  /** 0..999 range-partitioned into 8 files with disjoint id ranges. */
  private def seed(t: SnapshotTable): Snapshot = {
    import spark.implicits._
    t.commit(
      (0 until 1000).map(i => (i.toLong, s"text-$i")).toDF("id", "text")
        .repartitionByRange(8, col("id")),
      "append", "base")
  }

  test("manifests carry integer min/max stats; range partitioning gives disjoint bounds") {
    val t = new SnapshotTable(tmpRoot())
    val s = seed(t)
    assert(s.files.length == 8)
    val bounds = s.files.flatMap(_.stats.get("id"))
    assert(bounds.length == 8, "every file should carry an id bound")
    val sorted = bounds.sortBy(_._1)
    assert(sorted.head._1 == 0L && sorted.last._2 == 999L)
    sorted.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, "ranges overlap")
      case _ =>
    }
  }

  test("readWhereBetween prunes to the files whose bound intersects") {
    val t = new SnapshotTable(tmpRoot())
    seed(t)
    val all = t.prunedFiles("id", Long.MinValue, Long.MaxValue)
    assert(all.length == 8)
    // a point read touches exactly one range-partitioned file
    val one = t.prunedFiles("id", 500, 500)
    assert(one.length == 1)
    val got = t.readWhereBetween(spark, "id", 500, 500).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(500L))
    // an empty range reads zero files but keeps the schema
    val none = t.prunedFiles("id", 5000, 6000)
    assert(none.isEmpty)
    assert(t.readWhereBetween(spark, "id", 5000, 6000).count() == 0L)
  }

  test("merge rewrites only key-matched files and reuses the rest by path") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    val s1 = seed(t)
    // updates hit a single range: ids 10..20 (one file), plus a brand-new id
    val upd = ((10L to 20L) :+ 5000L).map(i => (i, s"updated-$i")).toDF("id", "text")
    val s2 = t.merge(spark, upd, "id")

    val reused = s2.files.map(_.path).toSet intersect s1.files.map(_.path).toSet
    assert(reused.size == 7, s"expected 7 carried-over files, got ${reused.size}")

    val after = t.read(spark).orderBy("id").collect()
    assert(after.length == 1001) // 1000 - 11 replaced + 11 upserts + 1 insert
    val m = after.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(15L) == "updated-15" && m(5000L) == "updated-5000" && m(500L) == "text-500")
    // time travel still sees the pre-merge state
    assert(t.readAt(spark, s1.version).count() == 1000L)
  }

  test("merge rejects duplicate update keys") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    seed(t)
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "text")
    val e = intercept[IllegalArgumentException](t.merge(spark, dup, "id"))
    assert(e.getMessage.contains("duplicate"))
  }

  test("changes() emits delete+insert pairs for updates, insert for new keys, and skips shared files") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    val s1 = seed(t)
    val upd = Seq((10L, "updated-10"), (5000L, "new-5000")).toDF("id", "text")
    val s2 = t.merge(spark, upd, "id")

    val cdf = t.changes(spark, s1.version, s2.version)
      .orderBy("_op", "id").collect()
      .map(r => (r.getAs[String]("_op"), r.getLong(0), r.getString(1)))
    assert(cdf.toSeq == Seq(
      ("delete", 10L, "text-10"),
      ("insert", 10L, "updated-10"),
      ("insert", 5000L, "new-5000")))
  }

  test("changes() across an evolving append reads the union schema " +
       "(later-added column survives, missing side null-fills)") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    val s1 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "text"),
      "append", "base")
    // two appends with DIFFERENT schemas, so the added-file diff set itself
    // mixes generations — without mergeSchema one footer wins and `lang`
    // silently vanishes (or exceptAll throws on the mismatch)
    t.append(Seq((3L, "c", "en")).toDF("id", "text", "lang"), "evolved")
    val s3 = t.append(Seq((4L, "d")).toDF("id", "text"), "plain")
    val cdf = t.changes(spark, s1.version, s3.version)
    assert(cdf.columns.contains("lang"),
      s"union schema lost the evolved column: ${cdf.columns.mkString(",")}")
    val rows = cdf.orderBy("id")
      .select(col("_op"), col("id"), col("text"),
        coalesce(col("lang"), lit("-")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    assert(rows.toSeq === Seq(
      ("insert", 3L, "c", "en"), ("insert", 4L, "d", "-")))
  }

  test("expire after merge keeps files shared into the current snapshot") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    val s1 = seed(t)
    val upd = Seq((10L, "updated-10")).toDF("id", "text")
    val s2 = t.merge(spark, upd, "id")
    assert(s2.files.map(_.path).toSet.intersect(s1.files.map(_.path).toSet).size == 7)

    val expired = t.expireSnapshots(keepLast = 1)
    assert(expired == Seq(s1.version))
    // the 7 shared files survived the expiry of the snapshot that wrote them
    assert(t.read(spark).count() == 1000L)
    val m = t.read(spark).where(col("id") === 10L).head().getString(1)
    assert(m == "updated-10")
    intercept[IllegalArgumentException](t.readAt(spark, s1.version))
  }

  test("merge with no stats (legacy/non-integer key) conservatively rewrites but stays correct") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    t.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "append", "base")
    val s2 = t.merge(spark, Seq(("b", 20L), ("c", 30L)).toDF("k", "v"), "k")
    val got = t.read(spark).orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 1L), ("b", 20L), ("c", 30L)))
    assert(s2.operation == "merge")
  }
}
