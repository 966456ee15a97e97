package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TextFixtures}
import graft.text.PipelineOps

/** Diagnostic (not a benchmark surface): decompose the `clean` scaling
  * scenario into its legs and time each at two parallelism levels, to
  * locate which leg loses N→4N efficiency. Legs:
  *   scan   — parquet scan + length(text) sum (narrow I/O floor)
  *   flags  — the one-pass clean-flags UDF projection, noop-forced
  *   ckpt   — flags + eager localCheckpoint (the materialization barrier)
  *   dedup  — ckpt + rep groupBy + keep-join (the md5 exchange)
  *   decon  — the hashed decontamination leg alone (2nd scan + broadcast)
  *   full   — cleanCorpusAudit end to end
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tableDir = sys.env.getOrElse("SPARK_GRAFT_PAGES_DIR",
      "/tmp/graft_bench_pages_r400")
    val levels = sys.env.getOrElse("SPARK_GRAFT_LEVELS", "4,16")
      .split(",").map(_.trim.toInt).toSeq

    levels.foreach { p =>
      val spark = SparkSession.builder()
        .master(s"local[$p]")
        .config("spark.sql.shuffle.partitions", p)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
        .config("spark.sql.files.maxPartitionBytes", 16 * 1024 * 1024)
        .appName(s"probe-$p").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        def docs = spark.read.parquet(tableDir)
          .select(Pages.urlId(col("url")).as("pid"),
            col("text"))
        def bench = TextFixtures.benchmarkNgrams(spark, sfDir)

        def flagged = docs.select(col("pid").as("id"),
          PipelineOps.cleanFlagsProbe(TextFixtures.langProfiles,
            TextFixtures.qualityStopwords, "en", 0.48, 0.06)(col("text")).as("__f"),
          md5(col("text")).as("__th"))

        val legs: Seq[(String, () => Unit)] = Seq(
          "scan" -> (() => { docs.agg(sum(length(col("text")))).head(); () }),
          "flags" -> (() => { flagged.agg(count(lit(1)), max("__th")).head(); () }),
          "ckpt" -> (() => { flagged.localCheckpoint(true).count(); () }),
          "dedup" -> (() => {
            val f = flagged.localCheckpoint(true)
            val reps = f.where(col("__f._1") && col("__f._2") && col("__f._3"))
              .groupBy("__th").agg(min("id").as("__rep_id"))
            f.join(reps, Seq("__th"), "left")
              .agg(count(lit(1)), sum(when(col("id") === col("__rep_id"), 1)))
              .head(); ()
          }),
          "deconJ" -> (() => {
            PipelineOps.decontaminateHashed(docs, "pid", "text", bench, 8)
              .agg(sum("n_hits")).head(); ()
          }),
          "deconS" -> {
            // prebuilt set, mirroring ScalingBench: the serial driver-side
            // build must not pollute the leg comparison
            val set = PipelineOps.buildEvalSet(bench, 8)
            () => {
              PipelineOps.decontaminateSetWith(docs, "pid", "text", set, 8)
                .agg(sum("n_hits")).head(); ()
            }
          },
          "full" -> (() => {
            PipelineOps.cleanCorpusAudit(docs, "pid", "text", bench,
              TextFixtures.langProfiles, TextFixtures.qualityStopwords,
              "en", 0.48, 0.06, 8).count(); ()
          }))

        legs.foreach { case (name, f) =>
          f() // warmup
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime(); f(); val t = (System.nanoTime() - t0) / 1e9
          println(f"PROBE local[$p] $name%-6s ${t}%7.2f s")
        }
      } finally spark.stop()
    }
  }
}
