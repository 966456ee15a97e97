package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.fixtures.{Pages, TextFixtures, TpchGeo}
import graft.operators.Surrogate
import graft.text.PipelineOps

/** Scaling-efficiency evidence for the north rule: the SAME job on the
  * SAME input at two parallelism levels — local[4] vs local[16] is this
  * sandbox's stand-in for N vs 4N executors (no real cluster here).
  *
  * Three scenarios (SPARK_GRAFT_SCENARIO):
  *   - `srg` (default): the flagship page pipeline — scan → geotag →
  *     cell-encode → spatial join → surrogate ratio.
  *   - `clean`: the corpus-cleaning layer — scan → composite C4-style
  *     clean pass (lang-ID, quality, repetition, exact dedup,
  *     decontamination) with first-fail audit, i.e. q63 at fixture scale.
  *     Heavier per page than `srg` (expression stack + one md5 exchange),
  *     so its default fixture is smaller for comparable wall time.
  *   - `extract`: the raw-crawl → text layer — scan of html bytes →
  *     codegen extraction chain → md5 (q77 shape). Purely narrow (zero
  *     shuffle): its efficiency is the embarrassingly-parallel ceiling
  *     the shuffling scenarios are judged against.
  *   - `index`: the retrieval-index build — tokenize → (page, term)
  *     postings aggregate → term dictionary (df/ctf) — the q106 family's
  *     100 TB shape: a token explode feeding two keyed aggregations
  *     whose zipf-skewed term key is eaten by map-side combine.
  *
  * Reported per level: wall seconds (best of `iters` after a warmup) and
  * pages/sec; efficiency = (throughput_4N / throughput_N) / 4.
  *
  * Run: sbt "runMain graft.ScalingBench" — writes one JSON line to stdout
  * (grep '^{') and appends a markdown row set to BENCH.md.
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scenario = sys.env.getOrElse("SPARK_GRAFT_SCENARIO", "srg")
    require(Set("srg", "clean", "extract", "index")(scenario),
      s"unknown SPARK_GRAFT_SCENARIO '$scenario' (srg | clean | extract | index)")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS",
      if (scenario == "clean" || scenario == "index") "400" else "2000").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val tableDir = sys.env.getOrElse("SPARK_GRAFT_PAGES_DIR",
      s"/tmp/graft_bench_pages_r$replicas")
    // N and 4N cores. Default 4→16: this VM's host throttles clocks as
    // occupancy approaches all 32 vCPUs (a pure-CPU microbenchmark scales
    // only 3.0× from 8→32 threads but 3.5× from 4→16), which would measure
    // the host, not the engine — see BENCH.md for both numbers.
    val levels = sys.env.getOrElse("SPARK_GRAFT_LEVELS", "4,16")
      .split(",").map(_.trim.toInt).toSeq
    // fail in milliseconds, not after tens of minutes of benchmarking
    require(levels.length == 2,
      s"SPARK_GRAFT_LEVELS must name exactly two levels (N,4N), got $levels")

    // one-time: materialize the page table as a many-file parquet layout so
    // the measured job starts from a scan (the 100 TB shape) and its
    // parallelism comes from input splits, not from generation
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir))) {
      val prep = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", 32)
        .config("spark.ui.enabled", "false").appName("scaling-prep").getOrCreate()
      prep.sparkContext.setLogLevel("WARN")
      Pages.pagesScaled(prep, sfDir, replicas)
        .repartition(128).write.parquet(tableDir)
      prep.stop()
    }

    // the clean scenario's eval set is a fixed input artifact (a
    // versioned eval-suite digest a real pipeline builds once and reuses
    // across every batch for months) — build it once here, outside the
    // measured window, and measure corpus throughput against it
    val evalSet = if (scenario == "clean") {
      val s0 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.ui.enabled", "false")
        .appName("evalset-prep").getOrCreate()
      s0.sparkContext.setLogLevel("WARN")
      try Some(PipelineOps.buildEvalSet(
        TextFixtures.benchmarkNgrams(s0, sfDir), 8))
      finally s0.stop()
    } else None

    // Settle gate before EACH level: the second level otherwise starts
    // while the host still carries the first level's wind-down (and any
    // co-tenant burst — this is a shared box; round-4/5 forensics show
    // total-proc counts jumping 330 → 700 mid-leg, which costs the
    // 16-thread leg far more than the 4-thread leg and reads as fake
    // scaling loss). Bounded wait until the 1-min loadavg drops below
    // the threshold; the wait itself is reported in the run record.
    val settleMaxSec = sys.env.getOrElse("SPARK_GRAFT_SETTLE_SEC", "0").toInt
    val settleLoad = sys.env.getOrElse("SPARK_GRAFT_SETTLE_LOAD", "0.5").toDouble
    def settle(): Long = {
      val t0 = System.nanoTime()
      val deadline = t0 + settleMaxSec * 1000000000L
      def l1: Double = try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ")(0).toDouble catch { case _: Exception => 0.0 }
      while (settleMaxSec > 0 && l1 >= settleLoad && System.nanoTime() < deadline)
        Thread.sleep(10000)
      (System.nanoTime() - t0) / 1000000000L
    }

    val results = levels.map { p =>
      val settledSec = settle()
      val loadStart = hostLoad() + f" (settled ${settledSec}s)"
      val spark = SparkSession.builder()
        .master(s"local[$p]")
        .config("spark.sql.shuffle.partitions", p)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
        // the fixture is a ~0.5 GB table of 3.5 MB files; the default
        // 128 MB split target bin-packs it into ≈ core-count partitions at
        // 4N, so one straggler idles 15 cores (measured: the 4N tail).
        // 16 MB splits give ~4 waves of balanced tasks at BOTH levels —
        // the files.maxPartitionBytes sizing rule applied to a small
        // fixture; a real 100 TB table's 1 GB files hit the same ~4-waves
        // shape with the default
        .config("spark.sql.files.maxPartitionBytes", 16 * 1024 * 1024)
        .appName(s"scaling-$p").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val pagesIn = spark.read.parquet(tableDir).count().toDouble  // warmup
        job(scenario, spark, tableDir, sfDir, evalSet).count()       // warmup
        val gc0 = gcMillis(); val w0 = System.nanoTime()
        val times = (1 to iters).map { _ =>
          // the surrogate operator persists its sparse per-cell matrix; a
          // repeat run would hit the cache and measure nothing — clear it so
          // every timed run recomputes the full pipeline
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          job(scenario, spark, tableDir, sfDir, evalSet).count()
          (System.nanoTime() - t0) / 1e9
        }
        val best = times.min // steady-state throughput, standard for scaling
        // GC share of the timed window: string-heavy layers at high thread
        // counts in a fixed-size heap lose scaling to collection pauses —
        // this column distinguishes that limiter from co-tenant load
        val gcFrac = (gcMillis() - gc0) / 1e3 / ((System.nanoTime() - w0) / 1e9)
        (p, best, pagesIn / best, pagesIn,
          f"$loadStart → ${hostLoad()} · gc ${gcFrac * 100}%.0f%%")
      } finally spark.stop()
    }

    val (p1, t1, thr1, n, load1) = results(0)
    val (p2, t2, thr2, _, load2) = results(1)
    val eff = (thr2 / thr1) / (p2.toDouble / p1)
    val json =
      s"""{"metric":"scaling_efficiency","value":${f"$eff%.4f"},"unit":"ratio",""" +
      s""""scenario":"$scenario","pages":$n,""" +
      s""""levels":{"local[$p1]":{"sec":$t1,"pages_per_sec":${thr1.round},"load":"$load1"},""" +
      s""""local[$p2]":{"sec":$t2,"pages_per_sec":${thr2.round},"load":"$load2"}},"sf":"$sfDir"}"""
    println(json)

    val jobDesc = scenario match {
      case "clean" =>
        """Corpus-cleaning layer (parquet scan → composite C4-style clean
          |pass: lang-ID, quality, repetition, exact dedup, decontamination
          |— q63 shape)""".stripMargin.replace("\n", " ")
      case "extract" =>
        """HTML→text extraction layer (parquet scan of raw html bytes →
          |codegen regexp extraction chain → md5 — q77 shape, purely
          |narrow)""".stripMargin.replace("\n", " ")
      case "index" =>
        """Retrieval-index build (parquet scan → tokenize → (page, term)
          |postings aggregate → term dictionary df/ctf — q106 family
          |shape)""".stripMargin.replace("\n", " ")
      case _ =>
        """Flagship page pipeline (parquet scan → geotag → spatial join →
          |surrogate ratio)""".stripMargin.replace("\n", " ")
    }
    val md =
      s"""
         |## Scaling run — $scenario (${java.time.Instant.now()})
         |
         |$jobDesc over a materialized ${n.toLong}-page table
         |(documents × $replicas from `$sfDir`, 128 parquet files), best of
         |$iters runs after warmup; identical input at both levels.
         |
         || parallelism | wall (s) | pages/sec | loadavg+procs start → end · gc share |
         || --- | --- | --- | --- |
         || local[$p1] (N) | ${f"$t1%.2f"} | ${thr1.round} | $load1 |
         || local[$p2] (4N) | ${f"$t2%.2f"} | ${thr2.round} | $load2 |
         |
         |**Scaling efficiency N→4N = ${f"$eff%.3f"}** (target ≥ 0.8).
         |""".stripMargin
    val p = java.nio.file.Paths.get("BENCH.md")
    val prev = if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8") else "# BENCH\n"
    java.nio.file.Files.write(p, (prev + md).getBytes("UTF-8"))
  }

  /** One /proc/loadavg sample — "1m 5m 15m running/total procs" — captured
    * around each level so a co-tenant storm on this shared host (total
    * procs jumping from the ~330 baseline toward 800) is visible IN the
    * run record instead of requiring external load-log forensics. The
    * benchmark's own threads contribute ≤ level+sbt to the 1-min figure;
    * the total-proc count is the co-tenant tell. */
  private def hostLoad(): String =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split(" ").take(4).mkString(" ")
    catch { case _: Exception => "n/a" }

  /** Cumulative stop-the-world collection time across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** The measured jobs. `srg`: parquet scan → geotag → spatial join →
    * surrogate ratio — the county side broadcasts (dimension table); the
    * only wide exchanges are the two keyed aggregations. `clean`: the
    * composite clean pass — narrow expression stack over the text column,
    * one (md5, id) dedup exchange, broadcast decontamination; ends in a
    * 6-row audit aggregate, so count() forces the whole pipeline. Both are
    * the 100 TB plan shapes of their layers. */
  private def job(scenario: String, spark: SparkSession, tableDir: String,
                  sfDir: String,
                  evalSet: Option[graft.text.TextHash.PairSet]): DataFrame =
    scenario match {
    case "extract" =>
      // the raw-crawl → text layer: decode + extract every page's html
      // bytes, reduced by a GROUPED aggregate over the md5 prefix.
      // Grouped, not global: count() over a grouping-LESS aggregate is
      // constant-folded to its known 1-row cardinality and would time
      // nothing (measured — the count()-pruning trap in a new costume);
      // a grouped aggregate's cardinality is data-dependent, so count()
      // must evaluate the extraction on every page
      spark.read.parquet(tableDir).select(col("html"))
        .select(md5(graft.text.Html.extractText(col("html"))).as("h"))
        .groupBy(substring(col("h"), 1, 2).as("hp"))
        .agg(count(lit(1)).as("n"))
    case "index" =>
      // the retrieval-index build: token explode → postings per (page,
      // term) → term dictionary. The dictionary count() is data-dependent
      // (vocabulary size), so the whole pipeline is forced; the postings
      // exchange keys on (pid, term) and the dictionary partial-aggregates
      // the zipf head map-side
      spark.read.parquet(tableDir)
        .select(Pages.urlId(col("url")).as("pid"),
          col("text"))
        .select(col("pid"), explode(split(col("text"), " ")).as("w"))
        .groupBy("pid", "w").agg(count(lit(1)).as("tf"))
        .groupBy("w").agg(count(lit(1)).as("df"), sum("tf").as("ctf"))
    case "clean" =>
      PipelineOps.cleanCorpusAuditWith(
        spark.read.parquet(tableDir)
          .select(Pages.urlId(col("url")).as("pid"),
            col("text")),
        "pid", "text",
        evalSet.get,
        TextFixtures.langProfiles, TextFixtures.qualityStopwords,
        keepLang = "en", minQuality = 0.48, maxDupFrac = 0.06, n = 8)
    case _ =>
      Surrogate.pointSurrogate(
        Pages.geotag(spark.read.parquet(tableDir)),
        TpchGeo.counties(spark),
        TpchGeo.grid, TpchGeo.domain, TpchGeo.zres, srgCode = 300,
        ordered = false) // a parquet sink needs no global sort
  }
}
