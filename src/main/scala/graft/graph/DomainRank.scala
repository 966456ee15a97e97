package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-weighted PageRank over the domain graph, in exact integer
  * arithmetic: ranks live in micro-units of a fixed `Scale`, every
  * per-edge contribution is `pr(u)·w(u→v) div outw(u)` (integer div) and
  * every reduction is an integer sum — so a fixed iteration count yields
  * BIT-IDENTICAL ranks on any engine and any partitioning (the q79
  * micro-nat discipline applied to an iterative graph computation;
  * floating-point PageRank would diverge across engines in the last ulp).
  *
  * Damping 0.85 as the canonical constant (Page et al. 1999), applied as
  * `(15·(Scale div n)) div 100 + (85·Σcontrib) div 100`. Nodes without
  * out-edges simply contribute nothing (their mass decays — the standard
  * simplification when the graph is known to be total, as the fixture's
  * is; a redistribution variant would add one tiny aggregate per pass).
  *
  * Scale: the iteration state is one (domain, pr) row per node — at web
  * scale ~10⁸ domains, megabytes per partition. Each pass is one keyed
  * join (edges ⋈ ranks on src) + one keyed sum (on dst), both
  * partial-aggregated map-side; `localCheckpoint` cuts the lineage so
  * pass k+1's plan does not replay pass k (the kNN / connected-components
  * pattern). Edges are checkpointed once and reused by every pass.
  */
object DomainRank {

  /** The micro-unit scale: the total rank mass a graph starts with. */
  final val Scale = 1000000000000L

  /** Global PageRank over `edges(src_domain, dst_domain, n_links)` →
    * `(domain, pr)`: the personalized recurrence with every node a seed. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    rank(edges.select(col("src_domain").as("src"), col("dst_domain").as("dst"),
        col("n_links").as("w")), None, iters)
      .withColumnRenamed("id", "domain")

  /** Personalized PageRank over `(src, dst, w)` edges: the teleport mass
    * goes ONLY to the seed set (the crawl-frontier prioritizer — "rank
    * pages by their closeness to these trusted seeds"). Initial mass:
    * Scale div |seeds| on each seed, 0 elsewhere; per pass, a seed
    * receives `(15·(Scale div |seeds|)) div 100` teleport plus the damped
    * inbound sum, a non-seed only the damped inbound sum.
    *
    * Seeds are a literal list (broadcast by construction — a seed set is
    * dozens of trusted hubs, not a table). */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           iters: Int): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    rank(edges, Some(seeds), iters)
  }

  /** `edges(src, dst, w)` → `(id, pr)` after `iters` passes; `seeds` None
    * teleports to every node. */
  private def rank(edges: DataFrame, seeds: Option[Seq[Long]],
                   iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    // a node's rank is bounded by the total mass `Scale` (integer div only
    // destroys mass), so pr·w fits a Long iff Scale·maxW does — one tiny
    // aggregate makes the bit-exactness claim safe instead of silently
    // wrapping on a skewed mega-domain edge
    val maxRow = edges.agg(max(col("w").cast("long"))).head()
    require(!maxRow.isNullAt(0), "empty graph")
    val maxW = maxRow.getLong(0)
    require(maxW <= 0 || Scale <= Long.MaxValue / maxW,
      s"Scale=$Scale x max edge weight $maxW would overflow Long — " +
        "pre-bucket edge weights")
    val base = Scale / seeds.fold(nodes.count())(_.size.toLong)
    val isSeed = seeds.fold(lit(true))(ss => col("id").isin(ss: _*))
    val ew = edges
      .join(edges.groupBy("src").agg(sum("w").as("ow")), "src")
      .select(col("src"), col("dst"), col("w").cast("long").as("w"),
        col("ow").cast("long").as("ow"))
      .localCheckpoint()
    var pr = nodes.withColumn("pr", when(isSeed, lit(base)).otherwise(lit(0L)))
    for (_ <- 0 until iters) {
      val contrib = ew
        .join(pr.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("(pr * w) div ow").as("c"))
        .groupBy("id").agg(sum("c").as("c"))
      pr = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (when(isSeed, lit((15L * base) / 100L)).otherwise(lit(0L)) +
            expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("pr"))
        .localCheckpoint()
    }
    pr
  }
}
