package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.registry._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-equivalent oracle in `oracleSql`.
  * Each query is declared once, as a `Q`, in the registry of its domain
  * (`graft.registry`).
  *
  * Oracle-parity design: all geospatial layers are derived arithmetically
  * from the TPC-H tables on an integer lattice with power-of-two weight
  * denominators (see TpchGeo), so both engines produce bit-identical
  * doubles — no tolerance needed for the hash compare. The Spark side runs
  * the REAL engine operators (cell-cover joins, ray-cast PIP, clipping);
  * the oracle is closed-form SQL.
  */
object SparkEntry {

  /** Flagship: page-count surrogate (pages→county/cell ratio table) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q21_pages_srg")(spark, "/root/testdata/sf0.001")

  private lazy val registry: Map[String, Q] = Q.index(Seq(
    SpatialQueries.all, PostOpsQueries.all, CellQueries.all, TextQueries.all,
    CrawlQueries.all, GraphQueries.all, MlQueries.all, StreamingQueries.all,
    TableQueries.all, SqlQueries.all).flatten)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracleSql }

  /** Process-unique scratch path for the binary-envelope queries:
    * concurrent Verify/Bench runs over the same sfDir must not race on
    * one /tmp file (the applicationId is unique per SparkContext). */
  private[graft] def scratch(s: SparkSession, tag: String, dir: String): String =
    s"/tmp/graft_${tag}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      s.sparkContext.applicationId
}
