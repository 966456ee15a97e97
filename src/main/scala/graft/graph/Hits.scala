package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg 1999) hubs-and-authorities over the link-weighted
  * domain graph, in exact integer arithmetic — the [[DomainRank]]
  * discipline applied to the mutually-recursive pair:
  *
  *   a_k(v) = Σ_{u→v} h_{k-1}(u) · w(u→v)        (authority update)
  *   h_k(u) = Σ_{u→v} a_k(v)   · w(u→v)          (hub update)
  *
  * with each vector rescaled after its update to `Scale` micro-units of
  * its maximum: `x' = (x · Scale) div max(x)` (integer div). Max-norm
  * replaces the usual L2 norm so the whole computation stays in integer
  * arithmetic — a fixed iteration count then yields BIT-IDENTICAL scores
  * on any engine and any partitioning, which is what lets a DuckDB
  * unrolled-CTE oracle gate an iterative distributed graph job.
  *
  * Overflow: after rescaling, every score is ≤ Scale, so one update term
  * is ≤ Scale·w and a node's sum ≤ Scale·Σw — guarded by one tiny
  * aggregate (total edge weight), same contract as DomainRank.
  *
  * Scale: state is one (domain, score) row per node; each half-iteration
  * is one keyed join + one keyed integer sum, partial-aggregated map-side;
  * `localCheckpoint` cuts lineage per pass; edges checkpoint once. The
  * max(x) rescale is a single scalar aggregate per half-pass (at 10⁸
  * domains: one long per executor → driver).
  */
object Hits {

  final val Scale = 1000000L

  /** `edges(src_domain, dst_domain, n_links)` → `(domain, auth, hub)` in
    * micro-units of the per-vector maximum after `iters` full rounds. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    val nodes = edges.select(col("src_domain").as("domain"))
      .unionByName(edges.select(col("dst_domain").as("domain")))
      .distinct()
      .localCheckpoint()
    val ew = edges.select(col("src_domain"), col("dst_domain"),
        col("n_links").cast("long").as("w"))
      .localCheckpoint()
    // worst case for a half-pass sum: every score ≤ Scale after rescale,
    // so a node's update sum ≤ Scale·totW — that is the bound that must
    // fit in a Long here. The rescale's own x·Scale product is guarded at
    // runtime against the ACTUAL max (inside rescale), not against the
    // pessimistic Scale²·totW static bound, which would reject any graph
    // with total weight above ~9223 at Scale=1e6.
    val totW = scalar(ew.agg(sum(col("w"))))
    require(totW > 0, s"degenerate graph: total edge weight $totW <= 0")
    require(totW <= Long.MaxValue / Scale,
      s"Scale=$Scale x total edge weight $totW would overflow Long" +
        " — lower Scale or pre-bucket edge weights")

    // materialize the raw vector ONCE (localCheckpoint), then the scalar
    // max is a cheap scan of the checkpoint and the rescale a lazy narrow
    // map — without the checkpoint-first ordering each half-pass would run
    // its join+sum job twice (once for the max action, once downstream)
    def rescale(scores: DataFrame, c: String): DataFrame = {
      val raw = scores.localCheckpoint(true)
      val mx = scalar(raw.agg(max(col(c))))
      require(mx > 0, s"degenerate $c vector: max <= 0")
      require(mx <= Long.MaxValue / Scale,
        s"rescale overflow: max($c)=$mx x Scale=$Scale exceeds Long range")
      raw.select(col("domain"),
        expr(s"($c * ${Scale}L) div ${mx}L").as(c))
    }

    // Intermediate vectors carry ONLY nodes with a non-zero sum: a node
    // missing from `auth`/`hub` is exactly a node whose score is 0, and a
    // 0-score node contributes 0 to every downstream update term and
    // never owns the (strictly positive) max, so dropping the per-half-
    // pass `nodes` left-join + coalesce is value-identical — it removes
    // one join and a nodes-sized frame from all 2·iters half-passes. The
    // zero rows are re-attached once, at the end.
    var hub = nodes.withColumn("h", lit(Scale)).localCheckpoint()
    var auth: DataFrame = null
    for (_ <- 0 until iters) {
      val a = ew.join(hub.withColumnRenamed("domain", "src_domain"),
            "src_domain")
        .select(col("dst_domain").as("domain"), (col("h") * col("w")).as("c"))
        .groupBy("domain").agg(sum("c").as("a"))
      auth = rescale(a, "a")
      val h = ew.join(auth.withColumnRenamed("domain", "dst_domain"),
            "dst_domain")
        .select(col("src_domain").as("domain"), (col("a") * col("w")).as("c"))
        .groupBy("domain").agg(sum("c").as("h"))
      hub = rescale(h, "h")
    }
    nodes.join(auth, Seq("domain"), "left").join(hub, Seq("domain"), "left")
      .select(col("domain"), coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
  }

  /** A one-row long aggregate (sum / max) read as nullable: an empty input
    * yields NULL, read here as 0 so the caller's `require` names the
    * degenerate graph instead of `getLong` throwing an NPE. */
  private def scalar(agg: DataFrame): Long = {
    val r = agg.head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
