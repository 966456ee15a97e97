package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.cells.{CellDomain, CellIndex}

/** k-nearest-neighbor join — replaces the reference's ANN kd-tree site
  * matching (src/raster/geo_functions.cpp:3958-4060) with a k-ring
  * cell-expansion join that distributes:
  *
  *   1. encode both sides to Z-cells at a resolution where a ring of radius
  *      R is expected to hold ≥ k sites;
  *   2. queries explode their (2R+1)² k-ring; equi-join on cell; exact
  *      distance + windowed top-k;
  *   3. queries that found fewer than k sites within the ring (or whose
  *      k-th hit could be beaten by an unseen site just outside the ring)
  *      retry with the radius doubled — driver-side loop, each pass fully
  *      distributed, geometrically few passes.
  *
  * A kd-tree cannot be built across executors; ring-join is the standard
  * scalable formulation (same pattern as H3 kRing joins).
  */
object Knn {

  /** queries: (qid, x, y); sites: (sid, sx, sy). Output: (qid, sid, dist2,
    * rank) with rank 1..k by squared distance, ties broken on sid.
    *
    * initialRadius ≤ 0 → density heuristic: pick the radius whose ring is
    * expected to hold ~2k sites (one cheap count job), skipping the first
    * few doubling passes — each pass is a full distributed join, so starting
    * near the answer matters more as k grows. */
  def knnJoin(queries: DataFrame, sites: DataFrame, k: Int,
              domain: CellDomain, res: Int,
              initialRadius: Int = 0, maxRadius: Int = 1 << 10): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._

    val sitesC = sites
      .withColumn("__cell",
        graft.spark.GeoFunctions.cellEncode(col("sx"), col("sy"), domain, res))

    val startRadius =
      if (initialRadius > 0) initialRadius
      else {
        val nSites = math.max(1L, sites.count())
        val cells = (1L << res) * (1L << res)
        val perCell = nSites.toDouble / cells
        // (2r+1)² cells should hold ~2k sites
        val r = math.ceil((math.sqrt(2.0 * k / math.max(perCell, 1e-12)) - 1) / 2).toInt
        math.max(1, math.min(r, maxRadius))
      }

    var remaining = queries
    var acc: DataFrame = null
    var radius = startRadius
    // cell edge length in domain units at this resolution
    val cellEdge = math.min(domain.width, domain.height) / (1L << res)

    while (radius <= maxRadius && !remaining.isEmpty) {
      val r = radius
      val ringUdf = udf((x: Double, y: Double) =>
        CellIndex.kRing(CellIndex.encode(x, y, domain, res), r))
      val cand = remaining
        .withColumn("__cell", explode(ringUdf(col("x"), col("y"))))
        .join(sitesC, Seq("__cell"))
        .withColumn("dist2",
          (col("x") - col("sx")) * (col("x") - col("sx")) +
          (col("y") - col("sy")) * (col("y") - col("sy")))
      val w = Window.partitionBy("qid").orderBy(col("dist2").asc, col("sid").asc)
      val ranked = cand
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "sid", "dist2", "rank")
      // a query is DONE when it has k hits and the k-th distance is provably
      // within the ring: dist_k <= radius * cellEdge (any unseen site is
      // farther than that guard distance)
      val guard = (r.toDouble * cellEdge) * (r.toDouble * cellEdge)
      // ranked feeds both the done-filter and the done rows; persist it for
      // the pass, then truncate lineage of what survives the pass — without
      // this each pass (and the loop's isEmpty probes) re-executes every
      // prior pass's ring join from scratch
      val rankedP = ranked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = rankedP.groupBy("qid")
        .agg(count("*").as("__n"), max("dist2").as("__maxd"))
      val doneIds = stats
        .where(col("__n") === k && col("__maxd") < guard)
        .select("qid")
      val done = rankedP.join(broadcast(doneIds), "qid")
        .localCheckpoint(true)
      acc = if (acc == null) done else acc.unionByName(done)
      remaining = remaining.join(broadcast(doneIds), Seq("qid"), "left_anti")
        .localCheckpoint(true)
      rankedP.unpersist()
      radius *= 2
    }
    // anything left after maxRadius: emit best-effort from a full ring pass
    if (!remaining.isEmpty) {
      val ringUdf = udf((x: Double, y: Double) =>
        CellIndex.kRing(CellIndex.encode(x, y, domain, res), maxRadius))
      val cand = remaining
        .withColumn("__cell", explode(ringUdf(col("x"), col("y"))))
        .join(sitesC, Seq("__cell"))
        .withColumn("dist2",
          (col("x") - col("sx")) * (col("x") - col("sx")) +
          (col("y") - col("sy")) * (col("y") - col("sy")))
      val w = Window.partitionBy("qid").orderBy(col("dist2").asc, col("sid").asc)
      val ranked = cand.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k).select("qid", "sid", "dist2", "rank")
      acc = if (acc == null) ranked else acc.unionByName(ranked)
    }
    acc
  }
}
