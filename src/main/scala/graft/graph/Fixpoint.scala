package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one convergence loop of the iterative graph operators (BFS,
  * SSSP, k-core, SCC, connected components, pointer doubling, the
  * neighborhood function).
  *
  * Each round eagerly `localCheckpoint`s the new state, so round k+1's
  * plan starts from materialized rows instead of replaying rounds 1..k,
  * and then makes exactly one probe: one small Spark action that
  * reports how much the round changed. The loop stops when a probe
  * reports no change or after `maxRounds` rounds, so every loop is
  * bounded by its cap and every lineage is one round deep.
  */
object Fixpoint {

  /** The last state, the rounds run, and whether the last probe saw no
    * change (false means the cap stopped the loop). */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Run `step` from `init` until `probe` on the new checkpointed state
    * returns 0 or `maxRounds` rounds have run. `init` is used as given;
    * the caller checkpoints it when a step reads it more than once. */
  def iterate(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      probe: DataFrame => Long): Result = {
    require(maxRounds >= 0, s"maxRounds must be >= 0: $maxRounds")
    var state = init
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      state = step(state).localCheckpoint(true)
      changed = probe(state)
      rounds += 1
    }
    Result(state, rounds, changed == 0)
  }

  /** One label-flood round over `labels(id, label)`: each node's new label
    * is `agg` over its own label and the labels of its in-neighbours along
    * `edges(src, dst)`. `agg` must be idempotent and commutative (min, max,
    * bit_or), so a node's own label bounds the new one. The old label is
    * carried as `__old`, which makes [[relabelled]] a narrow filter over
    * the checkpoint; ids that only occur as an edge `dst` get no label. */
  def flood(edges: DataFrame, agg: Column => Column)(labels: DataFrame): DataFrame = {
    val own = labels.select(col("id"), col("label"), col("label").as("__old"))
    val pushed = edges.join(labels.select(col("id").as("src"), col("label")), "src")
      .select(col("dst").as("id"), col("label"))
    own.unionByName(pushed, allowMissingColumns = true)
      .groupBy("id").agg(agg(col("label")).as("label"), max("__old").as("__old"))
      .where(col("__old").isNotNull)
  }

  /** The probe of [[flood]]: how many labels the round changed. */
  def relabelled(state: DataFrame): Long =
    state.where(col("label") =!= col("__old")).count()
}
