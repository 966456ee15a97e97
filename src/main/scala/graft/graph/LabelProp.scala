package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) for community
  * detection over the link graph — the clustering complement to the
  * membership-only connected components in `TextOps.connectedComponents`:
  * CC answers "which nodes touch at all", LPA answers "which nodes cluster
  * densely", splitting a weakly-bridged component into its communities.
  *
  * Determinism: classic LPA breaks vote ties randomly; here the vote is
  * `(count DESC, label ASC)` — a total order — so the result is a pure
  * function of the graph and the round count, reproducible across engines
  * and partitionings (the same discipline as the hash-gated sampling
  * operators). Updates are synchronous (all nodes vote on the round-r
  * labels to produce round r+1), which is what a repeated self-join
  * expresses naturally.
  *
  * Scale: per round one shuffle of (node, label) longs for the vote
  * group-by and one min-struct aggregate per node — ids only, never
  * payloads; per-round localCheckpoint cuts the iterative lineage. Round
  * count is a fixed small k (LPA empirically stabilizes in ~5 rounds on
  * web graphs), so the plan is k bounded stages, not a [[Fixpoint]] loop
  * with per-round probes.
  */
object LabelProp {

  /** `edges(src, dst)` (directed; symmetrized internally, self-loops
    * dropped) → `(id, lab)` after `rounds` synchronous votes. Isolated
    * endpoints never occur post-symmetrization (every node has >= 1
    * neighbor); a node's own current label does NOT vote, per the
    * original formulation. */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val und = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = und.unionByName(
        und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nodes = sym.select(col("src").as("id")).distinct()
      .localCheckpoint(true)
    var labels = nodes.withColumn("lab", col("id"))
    for (_ <- 0 until rounds) {
      val votes = sym
        .join(labels.select(col("id").as("src"), col("lab").as("nl")), "src")
        .groupBy(col("dst").as("id"), col("nl"))
        .agg(count(lit(1)).as("c"))
      // min over (-count, label) == (count DESC, label ASC) winner
      labels = votes
        .groupBy("id")
        .agg(min(struct((-col("c")).as("nc"), col("nl").as("nl"))).as("win"))
        .select(col("id"), col("win.nl").as("lab"))
        .localCheckpoint(true)
    }
    labels
  }
}
