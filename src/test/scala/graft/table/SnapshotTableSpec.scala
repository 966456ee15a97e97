package graft.table

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Snapshot table semantics: atomic commits, lineage + per-file metrics,
  * time travel, and checkpoint/resume without recompute. */
class SnapshotTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("snapshot-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpRoot(): String =
    graft.Scratch.dir("snaptab").toString

  test("commit / read / time travel / lineage + metrics") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    assert(t.current.isEmpty)

    val s1 = t.commit((1 to 100).toDF("n"), "append", "raw")
    assert(s1.version == 1 && s1.rows == 100 && s1.parentId.isEmpty)
    assert(s1.files.nonEmpty && s1.files.map(_.rows).sum == 100)
    assert(s1.files.forall(_.bytes > 0))

    val s2 = t.commit(t.read(spark).where($"n" % 2 === 0), "filter", "even")
    assert(s2.version == 2 && s2.rows == 50 && s2.parentId.contains(s1.id))

    assert(t.read(spark).count() == 50)              // current = v2
    assert(t.readAt(spark, 1).count() == 100)        // time travel
    assert(t.snapshots.map(_.stage) == Seq("even", "raw"))
    assert(t.findStage("raw").map(_.version).contains(1))
  }

  test("compact folds small files, preserves rows and time travel") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    t.commit((1 to 1000).toDF("n").repartition(16), "append", "raw")
    val before = t.current.get
    assert(before.files.size == 16)
    val beforeRows = t.read(spark).orderBy("n").collect().map(_.getInt(0)).toSeq

    val snap = t.compact(spark, numFiles = 2)
    assert(snap.operation == "compact" && snap.stage == "raw")
    assert(snap.files.size == 2 && snap.rows == 1000)
    assert(snap.parentId.contains(before.id))
    // content identical, current points at the compacted snapshot
    assert(t.read(spark).orderBy("n").collect().map(_.getInt(0)).toSeq == beforeRows)
    // pre-compaction version still readable (immutable data files)
    assert(t.readAt(spark, before.version).count() == 1000)
    // a resumed stage picks up the compacted snapshot
    assert(t.findStage("raw").map(_.version).contains(snap.version))
  }

  test("expireSnapshots deletes old versions, keeps current readable") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    t.commit((1 to 10).toDF("n"), "append", "a")
    t.commit((1 to 20).toDF("n"), "append", "b")
    t.commit((1 to 30).toDF("n"), "append", "c")

    // capture the real (uuid-suffixed) data dirs BEFORE expiry
    val doomedDirs = Seq(1, 2).flatMap(v =>
      t.snapshotAt(v).files.map(f =>
        java.nio.file.Paths.get(f.path).getParent).distinct)
    doomedDirs.foreach(d => assert(Files.exists(d)))

    val expired = t.expireSnapshots(keepLast = 1)
    assert(expired == Seq(1, 2))
    assert(t.read(spark).count() == 30)              // current untouched
    assert(t.snapshots.map(_.version) == Seq(3))     // chain skips expired
    val e = intercept[IllegalArgumentException](t.readAt(spark, 1))
    assert(e.getMessage.contains("expired"))
    // data directories actually gone
    doomedDirs.foreach(d => assert(!Files.exists(d)))
    // idempotent
    assert(t.expireSnapshots(keepLast = 1).isEmpty)
  }

  test("resume skips committed stages (no recompute)") {
    import spark.implicits._
    val root = tmpRoot()
    var computeCount = 0

    def runPipeline(): Long = {
      val t = new SnapshotTable(root)   // fresh handle = restarted job
      val a = Resumable.stage(t, spark, "stage_a") {
        computeCount += 1
        (1 to 1000).toDF("n").withColumn("sq", $"n" * $"n")
      }
      val b = Resumable.stage(t, spark, "stage_b") {
        computeCount += 1
        a.where($"sq" % 3 === 0)
      }
      b.count()
    }

    val r1 = runPipeline()
    assert(computeCount == 2)
    val r2 = runPipeline()               // "restart": both stages committed
    assert(computeCount == 2, "resume recomputed a committed stage")
    assert(r1 == r2)
  }

  test("fast append: parent files by reference, schema evolution reads") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    val s1 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "append", "base")
    // appended batch carries a NEW column the base files lack
    val s2 = t.append(Seq((3L, "c", "en")).toDF("id", "v", "lang"), "evolved")
    assert(s2.parentId.contains(s1.id))
    assert(s1.files.map(_.path).toSet.subsetOf(s2.files.map(_.path).toSet),
      "append must reuse every parent file")
    assert(s2.rows == 3)
    val cur = t.read(spark).orderBy("id")
      .select(col("id"), col("v"), coalesce(col("lang"), lit("-")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(cur.toSeq === Seq((1L, "a", "-"), (2L, "b", "-"), (3L, "c", "en")))
    // time travel to v1 shows the PRE-evolution schema
    assert(!t.readAt(spark, 1).columns.contains("lang"))
    // appending to an empty table is a plain first commit
    val t2 = new SnapshotTable(tmpRoot())
    assert(t2.append(Seq((9L, "z")).toDF("id", "v"), "first").version == 1)
  }

  test("readers see the old snapshot until the pointer swap") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    t.commit((1 to 10).toDF("n"), "append", "v1")
    val v = t.currentVersion.get
    // simulate a concurrent half-done writer: data dir exists, no manifest
    Files.createDirectories(java.nio.file.Paths.get(t.root, "data", "s-orphan"))
    assert(t.currentVersion.get == v)
    assert(t.read(spark).count() == 10)
  }

  test("copy-on-write delete: only touched files rewrite, CDF sees deletes") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    // 8 range-partitioned files over id 0..399; victims live in few files
    val df = (0L until 400L).toDF("id")
      .withColumn("grp", col("id") % 4)
      .repartitionByRange(8, col("id"))
    val v1 = t.commit(df, "append", "base")
    val v2 = t.delete(spark, col("id") >= 350L, "forget-tail")
    // rows gone, others intact
    assert(t.read(spark).count() == 350)
    assert(t.read(spark).where(col("id") >= 350).count() == 0)
    // file-granular: most parent files carried over by reference
    val reused = v2.files.map(_.path).toSet
      .intersect(v1.files.map(_.path).toSet).size
    assert(reused >= 5, s"only $reused of ${v1.files.size} files reused")
    // CDF: exactly the victims appear as deletes, nothing as insert
    val ch = t.changes(spark, v1.version, v2.version)
    assert(ch.where(col("_op") === "delete").count() == 50)
    assert(ch.where(col("_op") === "insert").count() == 0)
    // no-match delete is a no-op commit (same version back)
    val v3 = t.delete(spark, col("id") === 99999L, "noop")
    assert(v3.version == v2.version)
    // time travel still serves the pre-delete snapshot
    assert(t.readAt(spark, v1.version).count() == 400)
  }

  test("delete keeps rows whose predicate evaluates to NULL (SQL DELETE)") {
    import spark.implicits._
    val t = new SnapshotTable(tmpRoot())
    // nullable column: predicate on v is NULL for the null rows
    val df = Seq((1L, Some("drop")), (2L, Some("keep")),
        (3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("id", "v")
      .repartition(1) // one file: null rows share the rewritten file
    t.commit(df, "append", "base")
    t.delete(spark, col("v") === "drop", "null-pred")
    // SQL DELETE semantics: only rows where the predicate is TRUE go;
    // NULL-predicate rows in the REWRITTEN file must survive exactly like
    // identical rows in untouched files would
    val left = t.read(spark).select("id").collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(2L, 3L, 4L),
      s"null-predicate rows were dropped: kept ${left.toSeq}")
  }
}
