package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

/** Benchmark entry point: one workload, one seed, one process.
  *
  *   perfbench.Main --workload <pages_srg|poly_srg> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir> --results <dir>
  *
  * Set-up (session, the median of three rounds of input generation, two
  * checked warm-up passes) is followed by `--seconds` of measurement. With --trace 0
  * the passes run untraced and the end-to-end metrics are printed; with
  * --trace 1 each iteration runs one untraced pass, then the traced
  * layer-by-layer steps, and the per-layer metrics are printed. Every pass
  * is checked; the last stdout line is the result JSON. Result, environment
  * and spans are also written under `--results`. */
object Main {

  val SetupRounds = 3
  val WarmupPasses = 2
  val MinPasses = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val results = Paths.get(opt("results")).toAbsolutePath
    require(Workload.Names.contains(workload),
      s"unknown workload '$workload' (${Workload.Names.mkString(" | ")})")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    HeapPeak.install()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl = Workload(workload, spark, seed, work)
    var attempted = 0
    var failed = 0
    def checked(what: String)(body: => (Double, Seq[String])): Option[Double] = {
      attempted += 1
      val r = try Right(body) catch { case e: Exception => Left(Seq(e.toString)) }
      r match {
        case Right((s, Nil)) =>
          System.err.println(f"[perfbench] $workload $what ok $s%.4f s"); Some(s)
        case Right((_, errs)) =>
          failed += 1; System.err.println(s"[perfbench] $workload $what FAIL: ${errs.take(5).mkString("; ")}"); None
        case Left(errs) =>
          failed += 1; System.err.println(s"[perfbench] $workload $what FAIL: ${errs.mkString("; ")}"); None
      }
    }

    // set-up: input generation runs several times (identical work, the
    // median counts), then the checked warm-up passes
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime(); wl.generate(); (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    (1 to WarmupPasses).foreach(i => checked(s"warm-up $i")(wl.pass(0)))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(rounds) + warmS

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val metrics: Seq[(String, Double, String)] = if (!trace) {
      val walls, heaps = ArrayBuffer[Double]()
      var k = 1
      while (k <= MinPasses || elapsed < seconds) {
        HeapPeak.reset()
        checked(s"pass $k")(wl.pass(k)).foreach { s => walls += s; heaps += HeapPeak.peakMb }
        k += 1
      }
      if (walls.isEmpty) { System.err.println("[perfbench] no pass completed"); sys.exit(3) }
      val wall = Stats.median(walls.toSeq)
      Seq(("wall_s", wall, "s"), ("features_per_s", wl.features / wall, "1/s"),
        ("setup_s", setupS, "s"), ("peak_heap_mb", Stats.median(heaps.toSeq), "MB"))
    } else {
      val tracer = new Tracer
      val plans = new PlanCapture
      val probes = Probes(tracer, plans, () => SparkInternals.drainListenerBus(spark.sparkContext))
      val untraced, traced = ArrayBuffer[Double]()
      val counters = ArrayBuffer[Map[String, Double]]()
      var k = 1
      while (k == 1 || elapsed < seconds) {
        checked(s"untraced pass $k")(wl.pass(k)).foreach(untraced += _)
        spark.listenerManager.register(plans)
        plans.take()
        checked(s"traced pass $k") {
          val (m, s, errs) = wl.traced(k, probes)
          counters += m; traced += s
          (s, errs)
        }
        spark.listenerManager.unregister(plans)
        k += 1
      }
      if (wl.hasTracedOnce) {
        spark.listenerManager.register(plans)
        plans.take()
        checked(s"traced steps $k") {
          val t1 = System.nanoTime()
          val (m, errs) = wl.tracedOnce(k, probes)
          counters += m
          ((System.nanoTime() - t1) / 1e9, errs)
        }
        spark.listenerManager.unregister(plans)
      }
      if (untraced.isEmpty || traced.isEmpty) {
        System.err.println("[perfbench] no traced pass completed"); sys.exit(3)
      }
      val spans = results.resolve(s"spans-$workload-seed$seed.json")
      write(spans, tracer.toJson)
      System.err.println(s"[perfbench] spans written to $spans")
      val overhead = Stats.median(traced.toSeq) - Stats.median(untraced.toSeq)
      val counted = PerLayer.all.map { case (name, unit) =>
        val v =
          if (unit == "s" && name.endsWith(".self_s")) tracer.selfSeconds(name.stripSuffix(".self_s"))
          else if (name == "trace.overhead_s") overhead
          else if (name == "trace.wall_s") Stats.median(traced.toSeq)
          else {
            val xs = counters.flatMap(_.get(name))
            if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
          }
        (name, v, unit)
      }
      counted
    }

    val result =
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{""" +
        metrics.map { case (n, v, u) => s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
          .mkString(",") + "}}"
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
    val env =
      s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":${if (trace) 1 else 0},""" +
        s""""seconds":${Json.num(seconds)},"nproc":$cpus,"cpus_used":$cpus,""" +
        s""""loadavg_before":${Json.str(loadBefore)},"loadavg_after":${Json.str(loadavg())},""" +
        s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
        s""""jdk":${Json.str(System.getProperty("java.version"))},""" +
        s""""spark":${Json.str(spark.version)},""" +
        s""""commit":${Json.str(System.getProperty("perfbench.commit", "unknown"))},""" +
        s""""source_digest":${Json.str(System.getProperty("perfbench.source", "unknown"))},""" +
        s""""setup_rounds_s":[${rounds.map(Json.num).mkString(",")}],"session_s":${Json.num(sessionS)},""" +
        s""""warmup_s":${Json.num(warmS)},"gc_count":${gcs.map(_.getCollectionCount).sum},""" +
        s""""gc_ms":${gcs.map(_.getCollectionTime).sum},""" +
        s""""jit_ms":${ManagementFactory.getCompilationMXBean.getTotalCompilationTime}}"""
    write(results.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
      s"""{"environment":$env,"result":$result}""" + "\n")
    spark.stop()
    println(s"env $env")
    println(result)
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: Exception => "unavailable" }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

/** The per-layer metrics every traced run prints, with their units. A layer
  * that is not on a workload's path reads 0 there. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "scan.self_s" -> "s",
    "Pages.geotag.self_s" -> "s",
    "Pages.geotag.rows_in" -> "count",
    "Pages.geotag.rows_out" -> "count",
    "SpatialJoin.pointInPoly.self_s" -> "s",
    "SpatialJoin.pointInPoly.candidates" -> "count",
    "SpatialJoin.pointInPoly.survivors" -> "count",
    "SpatialJoin.pointInPoly.useful_ratio" -> "ratio",
    "SpatialJoin.polyPolyFragments.self_s" -> "s",
    "SpatialJoin.polyPolyFragments.candidates" -> "count",
    "SpatialJoin.polyPolyFragments.fragments" -> "count",
    "SpatialJoin.polyPolyFragments.useful_ratio" -> "ratio",
    "Surrogate.cellClip.self_s" -> "s",
    "Surrogate.cellClip.cell_rows" -> "count",
    "Surrogate.cellClip.nonzero_rows" -> "count",
    "Surrogate.cellClip.useful_ratio" -> "ratio",
    "Surrogate.ratio.self_s" -> "s",
    "Surrogate.cells_out" -> "count",
    "Surrogate.pointSurrogate.self_s" -> "s",
    "Surrogate.polySurrogate.self_s" -> "s",
    "Surrogate.lineSurrogate.self_s" -> "s",
    "PostOps.merge.self_s" -> "s",
    "PostOps.gapfill.self_s" -> "s",
    "PostOps.normalize.self_s" -> "s",
    "PostOps.qa.self_s" -> "s",
    "Smoke.write.self_s" -> "s",
    "Smoke.write.bytes" -> "bytes",
    "SrgTool.jobs" -> "count",
    "SrgTool.plan_s" -> "s",
    "SrgTool.run.wall_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_share" -> "ratio",
    "spark.task_skew" -> "ratio",
    "trace.wall_s" -> "s",
    "trace.overhead_s" -> "s")
}
