package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS with bitset frontiers — the exact small-seed form of
  * the HyperBall/ANF neighborhood-function recipe: up to 64 landmark
  * sources ride ONE long per node, and each BFS round is a single keyed
  * `bit_or` aggregate over the edge join, so 64 traversals cost one. The
  * neighborhood function N(t) = |{(s, v) : dist(s → v) ≤ t}| is the
  * distance profile / effective-diameter input a crawl-graph audit wants
  * without 64 separate BFS jobs.
  *
  * Rounds = max finite landmark eccentricity; per-round state is
  * (node, bits) — 16 bytes a row — flooded by the [[Fixpoint]] loop,
  * whose one probe per round is the popcount that N(t) records.
  */
object MultiBfs {

  /** edges(src, dst) directed + ≤64 `sources` → (t, n_pairs): how many
    * (source, node) pairs are within distance t, for t = 0..diameter
    * (pairs counted with dist(s→v) ≤ t; t stops when no bit changes). */
  def neighborhoodFunction(edges: DataFrame, sources: Seq[Long]): DataFrame = {
    require(sources.nonEmpty && sources.size <= 64,
      s"1..64 landmark sources, got ${sources.size}")
    // duplicate landmark ids would produce two bitOf rows and double-count
    // every pair after the left join (round-5 advice, low)
    require(sources.distinct.size == sources.size,
      s"landmark sources must be distinct: $sources")
    val s = edges.sparkSession
    import s.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val bitOf = sources.zipWithIndex.map { case (src, i) => (src, 1L << i) }
      .toDF("id", "b")
    // landmarks union'd in: an isolated landmark still reaches itself, so
    // N(0) must count it (round-5 advice, low; a no-op when every
    // landmark has edges, as in the oracle-gated fixture)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .unionAll(bitOf.select(col("id")))
      .distinct()
    val reach = nodes.join(bitOf, Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), lit(0L)).as("label"))
      .localCheckpoint(true)

    def popcountSum(df: DataFrame): Long =
      df.select(sum(bit_count(col("label"))).cast("long")).head.getLong(0)

    // bits only grow, so a round changed something iff N(t) grew
    val counts = scala.collection.mutable.ArrayBuffer(popcountSum(reach))
    Fixpoint.iterate(reach, Int.MaxValue)(Fixpoint.flood(e, bit_or)) { next =>
      val c = popcountSum(next)
      val changed = c - counts.last
      if (changed > 0) counts += c
      changed
    }
    counts.zipWithIndex
      .map { case (n, t) => (t.toLong, n) }.toSeq
      .toDF("t", "n_pairs")
  }
}
