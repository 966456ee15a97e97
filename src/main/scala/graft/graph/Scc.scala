package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Strongly connected components of the DIRECTED link graph — the audit
  * undirected CC cannot answer: "which domain clusters actually link each
  * other both ways" (link rings, mutual-citation farms) vs one-way fans.
  *
  * Orzan's coloring scheme, the standard distributed SCC recipe (used by
  * the FW-BW-Trim family): each outer round
  *   1. forward-floods every node's id as a color, keeping the MAX —
  *      at fixpoint color(v) = max id that can reach v;
  *   2. nodes with color(v) = v are roots; a backward flood from each
  *      root, restricted to its own color class, marks exactly the nodes
  *      that also REACH the root → mutual reachability → the root's SCC
  *      (all roots flood simultaneously — one job, many components);
  *   3. removes finished SCCs and repeats on the remainder.
  *
  * Every exchange is (long, long); both floods are [[Fixpoint.flood]]
  * max-aggregates (the backward one over a boolean), and all three loops are
  * [[Fixpoint.iterate]] calls. Inner rounds ≤ graph diameter (small
  * for web graphs); outer rounds = SCC "peel depth". Worst case (a
  * directed path) degenerates to O(n) inner rounds — the documented trade
  * for keeping every round a pure equi-join, which is what survives 10^9
  * edges.
  */
object Scc {

  /** `edges(src, dst)` directed (self-loops ignored, duplicates collapsed)
    * → `(id, scc)`: every node of the graph with its component id,
    * normalized to the MIN member id. Singleton nodes (no cycle through
    * them) form singleton SCCs. */
  def components(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    // (id, color): color is NULL until the node's SCC is found
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
      .select(col("id"), lit(null).cast("long").as("color"))
      .localCheckpoint(true)
    def converge(edges: DataFrame, init: DataFrame, agg: Column => Column): DataFrame =
      Fixpoint.iterate(init, Int.MaxValue)(Fixpoint.flood(edges, agg))(
        Fixpoint.relabelled).state

    val result = Fixpoint.iterate(nodes, Int.MaxValue) { done =>
      val live = done.where(col("color").isNull).select("id")
      val le = e.join(live.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(live.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint(true)
      // 1. forward max-flood: color(v) = max id reaching v (incl. itself)
      val color = converge(le, live.select(col("id"), col("id").as("label")), max)
        .select(col("id"), col("label").as("color"))
      // 2. backward flood from the roots along same-color edges: a node is
      //    in its root's SCC iff it reaches a node already in
      val back = le
        .join(color.select(col("id").as("src"), col("color").as("cs")), "src")
        .join(color.select(col("id").as("dst"), col("color").as("cd")), "dst")
        .where(col("cs") === col("cd"))
        .select(col("dst").as("src"), col("src").as("dst"))
        .localCheckpoint(true)
      val in = converge(back,
          color.select(col("id"), (col("id") === col("color")).as("label")), max)
        .where(col("label"))
        .join(color, "id")
      // 3. the found SCCs take their color; the rest stay for the next round
      done.join(in.select(col("id"), col("color").as("found")), Seq("id"), "left")
        .select(col("id"), coalesce(col("color"), col("found")).as("color"))
    }(_.where(col("color").isNull).count()).state
    // normalize component ids to the min member id
    val norm = result.groupBy("color").agg(min("id").as("scc"))
    result.join(norm, "color").select(col("id"), col("scc"))
  }
}
