package graft.tools

import org.apache.spark.sql.SparkSession
import graft.fixtures.{Pages, TpchGeo}
import graft.operators.Surrogate

/** Dev tool: dump the physical plan of the flagship bench job — or, with
  * `--query <name> [sfDir]`, of any `SparkEntry.queries` entry — to check
  * pushdown/pruning/codegen (not part of the library surface). */
object ExplainPlan {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption match {
      case Some("--query") =>
        val name = args.lift(1).getOrElse(
          sys.error("usage: ExplainPlan --query <name> [sfDir]"))
        val dir = args.lift(2).getOrElse("/root/testdata/sf0.001")
        val q = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'; known: " +
            graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
        q(spark, dir).explain("formatted")
      case other =>
        val dir = other.getOrElse("/tmp/graft_bench_pages_r2000")
        Surrogate.pointSurrogate(
          Pages.geotag(spark.read.parquet(dir)),
          TpchGeo.counties(spark),
          TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, 300)
          .explain("formatted")
    }
    spark.stop()
  }
}
