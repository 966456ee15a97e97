package graft.table

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.{Pages, TpchGeo}
import graft.operators.{SpatialJoin, Surrogate}

/** North-star resumability on the REAL flagship pipeline: each stage
  * (geotag → county tagging → ratio table) commits a snapshot; a restarted
  * job reads committed stages back instead of recomputing, and the final
  * table is identical. */
class ResumablePipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = graft.TestData.sf("0.001")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("resume-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("flagship page pipeline resumes from committed snapshots") {
    val root = graft.Scratch.dir("pipe").toString
    var computed = Vector.empty[String]

    def runPipeline(): Seq[String] = {
      val t = new SnapshotTable(root)
      val geotagged = Resumable.stage(t, spark, "geotag") {
        computed :+= "geotag"
        Pages.geotag(Pages.pages(spark, sfDir))
          .select("url", "text", "lang", "x", "y")
      }
      val tagged = Resumable.stage(t, spark, "county_tag") {
        computed :+= "county_tag"
        SpatialJoin.pointInPoly(geotagged, TpchGeo.counties(spark),
          TpchGeo.domain, TpchGeo.zres)
      }
      assert(tagged.columns.contains("fips"))
      val srg = Resumable.stage(t, spark, "ratio") {
        computed :+= "ratio"
        Surrogate.pointSurrogate(geotagged, TpchGeo.counties(spark),
          TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 300)
      }
      srg.collect().map(_.toString).sorted.toSeq
    }

    val first = runPipeline()
    assert(computed == Vector("geotag", "county_tag", "ratio"))

    val second = runPipeline() // "restart"
    assert(computed == Vector("geotag", "county_tag", "ratio"),
      "restart recomputed a committed stage")
    assert(first == second)

    // lineage: three snapshots, chained parents, per-file metrics present
    val t = new SnapshotTable(root)
    val snaps = t.snapshots
    assert(snaps.map(_.stage) == Seq("ratio", "county_tag", "geotag"))
    assert(snaps.forall(_.files.forall(f => f.rows >= 0 && f.bytes > 0)))
    assert(snaps(0).parentId.contains(snaps(1).id))
    assert(snaps(1).parentId.contains(snaps(2).id))
  }

  test("byte-identical text survives the snapshot round-trip") {
    val root = graft.Scratch.dir("pipe2").toString
    val t = new SnapshotTable(root)
    val pages = Pages.pages(spark, sfDir).select("url", "text")
    val before = pages.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    t.commit(pages, "append", "pages")
    val after = t.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(after == before)
  }
}
