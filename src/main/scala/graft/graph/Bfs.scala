package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS over the directed link graph: `depth(v)` = length of
  * the shortest edge path from ANY seed (crawl-depth audits: how many
  * hops from the seed list is each domain? what is unreachable?).
  *
  * Pregel-style frontier expansion on the [[Fixpoint]] loop: the state
  * is the visited set `(id, depth, fresh)`, the frontier is its `fresh`
  * rows, and each level is one keyed equi-join (frontier → out-neighbors)
  * + one anti-join against the visited set — longs and ints only, never
  * payloads. The first visit IS the minimum depth (BFS invariant), so no
  * min-aggregate over paths is ever needed; the probe counts the new
  * frontier.
  *
  * Rounds = graph diameter from the seeds, the intrinsic lower bound for
  * any label-free BFS. */
object Bfs {

  /** `edges(src, dst)` + `seeds(id)` → `(id, depth)` for every node
    * reachable within `maxDepth` hops (seeds at depth 0). */
  def depths(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0: $maxDepth")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val visited = seeds.select(col("id")).distinct()
      .select(col("id"), lit(0).as("depth"), lit(true).as("fresh"))
      .localCheckpoint(true)
    Fixpoint.iterate(visited, maxDepth) { v =>
      val next = e.join(v.where(col("fresh"))
          .select(col("id").as("src"), col("depth")), "src")
        .select(col("dst").as("id"), (col("depth") + 1).as("depth")).distinct()
        .join(v.select("id"), Seq("id"), "left_anti")
      v.select(col("id"), col("depth"), lit(false).as("fresh"))
        .unionByName(next.withColumn("fresh", lit(true)))
    }(_.where(col("fresh")).count()).state.select("id", "depth")
  }
}
