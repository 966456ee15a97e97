package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1) — NOT the driver
  * bench. `Bench.scala` is frozen; this main exists so individual queries
  * can be isolated, repeated, and their executed plans captured without
  * touching the measured surface.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchExtra q109_canonical_dedup q14_ngram_jaccard"
  *
  * Env knobs:
  *   SPARK_GRAFT_REPS   — repetitions per query (default 1); every rep
  *                        drains persists + clears the cache first, same
  *                        isolation discipline as Bench. A rep that throws
  *                        prints `FAIL` in its column.
  *   SPARK_GRAFT_PLANS  — if set, writes <dir>/<query>.txt with the
  *                        explain("formatted") output of each query.
  *
  * A query that runs connected components ends its line with
  * `cc_rounds=<n>`: the passes its last rep took (`TextOps.lastCcRounds`,
  * the probe Bench reports as `cc_rounds`).
  *
  * Methodology matches Bench exactly: noop sink (full-row evaluation, no
  * Catalyst column pruning of the computed columns), per-query cache
  * isolation, one untimed warmup of the flagship entry. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val plansDir = sys.env.get("SPARK_GRAFT_PLANS")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val out = names.map { name =>
      val fn = SparkEntry.queries(name)
      var ccRounds = -1L
      val times = (0 until reps).map { _ =>
        graft.spark.PersistTracker.drain()
        spark.sharedState.cacheManager.clearCache()
        graft.text.TextOps.lastCcRounds.set(-1L)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[benchextra] $name failed: $e"); false }
        val t = Option.when(ok)((System.nanoTime() - t0) / 1e9)
        ccRounds = graft.text.TextOps.lastCcRounds.get()
        t
      }
      plansDir.foreach { d =>
        graft.spark.PersistTracker.drain()
        spark.sharedState.cacheManager.clearCache()
        val dir = new java.io.File(d)
        dir.mkdirs()
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"explain failed: $e" }
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"))
        try w.write(plan) finally w.close()
      }
      (name, times, ccRounds)
    }
    out.foreach { case (n, ts, cc) =>
      println(f"[benchextra] $n%-28s " +
        ts.map(_.fold(f"${"FAIL"}%8s")(t => f"$t%8.3f")).mkString(" ") +
        (if (cc >= 0) s" cc_rounds=$cc" else ""))
    }
    graft.spark.PersistTracker.drain()
    spark.stop()
  }
}
