package graft.tools

import org.apache.spark.sql.SparkSession
import graft.fixtures.{Pages, TpchGeo}
import graft.operators.Surrogate

/** Dev tool: dump the physical plan of the flagship bench job over
  * `Pages.pages(sfDir)` — or, with `--query <name> [sfDir]`, of any
  * `SparkEntry.queries` entry — to check pushdown/pruning/codegen (not part
  * of the library surface). sfDir defaults to the sf0.001 tables under
  * `$SPARK_GRAFT_TESTDATA` (default: the root TESTDATA.md documents). */
object ExplainPlan {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val defaultDir = s"$root/sf0.001"
    args.headOption match {
      case Some("--query") =>
        val name = args.lift(1).getOrElse(
          sys.error("usage: ExplainPlan --query <name> [sfDir]"))
        val dir = args.lift(2).getOrElse(defaultDir)
        val q = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'; known: " +
            graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
        q(spark, dir).explain("formatted")
      case other =>
        Surrogate.pointSurrogate(
          Pages.geotag(Pages.pages(spark, other.getOrElse(defaultDir))),
          TpchGeo.counties(spark),
          TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 300)
          .explain("formatted")
    }
    spark.stop()
  }
}
