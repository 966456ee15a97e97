package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source single-pass shortest paths over a weighted directed graph
  * — Bellman-Ford relaxation as iterated keyed joins (the weighted
  * generalization of [[Bfs]]): each round joins the tentative-distance
  * table to the edge list on `src` and takes the per-node minimum of
  * (old dist, dist + w).
  *
  * `maxRounds` bounds results to paths of <= maxRounds edges; once a
  * round improves nothing the [[Fixpoint]] loop stops early, and a
  * converged result equals the true shortest distances (extra relaxation
  * rounds are no-ops). Rows are (long id, long dist) only — weights and
  * ids, never payloads. The old distance rides through the checkpoint,
  * so the improvement probe is a narrow filter. */
object Sssp {

  /** `edges(src, dst, w)` (non-negative long weights) + `seeds(id)` →
    * `(id, dist)` for every node reachable within `maxRounds` edges. */
  def distances(edges: DataFrame, seeds: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0: $maxRounds")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    val dist = seeds.select(col("id")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    Fixpoint.iterate(dist, maxRounds) { d =>
      val cand = e.join(d.select(col("id").as("src"), col("dist")), "src")
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      d.select(col("id"), col("dist"), col("dist").as("__old"))
        .unionByName(cand, allowMissingColumns = true)
        .groupBy("id").agg(min("dist").as("dist"), max("__old").as("__old"))
    }(_.where(col("__old").isNull || col("dist") < col("__old")).count())
      .state.select("id", "dist")
  }
}
