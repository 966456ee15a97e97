package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pointer doubling (path halving) over a FUNCTIONAL graph — resolve
  * every node of a redirect/alias forest to its terminal in O(log
  * chain-length) rounds: each round composes the pointer map with
  * itself (`f ← f∘f`), so a chain of length L collapses in ⌈log₂ L⌉
  * joins instead of L. The canonical use here is URL redirect chains
  * (301 hops → final capture target); the same primitive resolves alias
  * tables and union-find parents. Distinct from connected components
  * (undirected membership) and SSSP (weighted distances): this follows
  * DIRECTED single-successor pointers to a fixpoint.
  *
  * Requires an acyclic pointer map (a true redirect forest); a cycle
  * would never resolve, so the [[Fixpoint]] rounds are capped and a
  * `require` fails loudly if pointers remain unresolved. Each round
  * shuffles (long, long) pairs only. */
object PointerDoubling {

  /** `ptr(src, dst)` (at most one outgoing pointer per src) → `(src,
    * terminal)` for every src, where terminal has no outgoing pointer. */
  def resolve(ptr: DataFrame, maxRounds: Int = 20): DataFrame = {
    val f = ptr.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    val dup = f.groupBy("src").count().where(col("count") > 1).count()
    require(dup == 0, s"$dup src nodes carry more than one pointer — not a functional graph")
    // f(u) ← f(f(u)) where defined — one self equi-join per round
    val r = Fixpoint.iterate(f, maxRounds) { g =>
      g.as("a").join(
          g.select(col("src").as("mid"), col("dst").as("d2")).as("b"),
          col("a.dst") === col("b.mid"), "left")
        .select(col("a.src").as("src"),
          coalesce(col("d2"), col("a.dst")).as("dst"),
          col("d2").isNotNull.as("moved"))
    }(_.where(col("moved")).count())
    require(r.converged,
      s"pointer chains unresolved after $maxRounds doubling rounds — cycle or depth > 2^$maxRounds")
    r.state.select("src", "dst")
  }
}
