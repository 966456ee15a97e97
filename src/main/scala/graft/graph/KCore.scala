package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition of the (undirected) domain link graph: the
  * maximal subgraph in which every node keeps degree ≥ k. The classic
  * crawl-graph community/spam-farm filter — a domain outside the k-core
  * has too few mutual links to be part of a tight cluster, and the
  * peeling order is the standard coreness preprocessing for the denser
  * graph analytics (triangles, HITS) downstream.
  *
  * Iterative peel on the [[Fixpoint]] loop: each round computes degrees
  * over the surviving edges (one keyed aggregate) and marks an edge `keep`
  * when both its ends have degree ≥ k (two keyed joins) — all rows
  * (long, long), payload-free. The probe counts the edges that lost an
  * end; the next round drops them. Rounds = peel depth of the graph (the
  * intrinsic lower bound for degree-driven peeling). */
object KCore {

  /** `edges(src, dst)` (directed/duplicated input ok; self-loops dropped)
    * → `(id, deg)` — every node of the k-core with its in-core degree. */
  def core(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .withColumn("keep", lit(true))
      .localCheckpoint(true)
    val peeled = Fixpoint.iterate(e, Int.MaxValue) { s =>
      val live = s.where(col("keep"))
      val deg = degrees(live)
      live.join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"), (col("da") >= k && col("db") >= k).as("keep"))
    }(_.where(!col("keep")).count()).state
    degrees(peeled)
  }
}
