package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `name` timed from `startNs` to `endNs` in pass `pass`;
  * `parent` is the id of the span whose work this call's input is (the
  * prefix beneath it), so self time = duration − parent's duration. */
final case class Span(id: Int, pass: Int, name: String, parent: Option[Int],
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store, written out as JSON when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private val origin = System.nanoTime()

  def record(pass: Int, name: String, parent: Option[Span])(body: => Unit): Span = {
    val t0 = System.nanoTime()
    body
    val s = Span(spans.size, pass, name, parent.map(_.id), t0 - origin, System.nanoTime() - origin)
    spans += s
    s
  }

  /** Re-record `s`'s interval under another name and parent. */
  def alias(s: Span, name: String, parent: Option[Span]): Span = {
    val a = s.copy(id = spans.size, name = name, parent = parent.map(_.id))
    spans += a
    a
  }

  /** Median over passes of (span − its parent span) for spans named `name`. */
  def selfSeconds(name: String): Double = {
    val byId = spans.map(s => s.id -> s).toMap
    val xs = spans.filter(_.name == name).map { s =>
      s.seconds - s.parent.flatMap(byId.get).map(_.seconds).getOrElse(0.0)
    }
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"pass":${s.pass},"name":${Json.str(s.name)},""" +
      s""""parent":${s.parent.getOrElse("null")},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Task-level counters for the jobs run while registered. */
final class TaskStats extends SparkListener {
  val tasks, jobs, shuffleWrite, shuffleRead, spill, gcMs, runMs = new AtomicLong
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  def gcShare: Double = if (runMs.get == 0) 0.0 else gcMs.get.toDouble / runMs.get

  /** max/median task time per stage of ≥ 2 tasks, averaged with each
    * stage weighted by its total task time; 1 means perfectly even. */
  def taskSkew: Double = {
    val stages = stageTasks.values.asScala.map(_.asScala.toSeq).filter(_.size >= 2)
    val w = stages.map(_.sum.toDouble)
    if (w.sum == 0) 1.0
    else stages.zip(w).map { case (ts, wt) =>
      ts.max / math.max(1.0, Stats.median(ts.map(_.toDouble))) * wt
    }.sum / w.sum
  }
}

/** Collects the QueryExecution of every action run while registered. */
final class PlanCapture extends QueryExecutionListener {
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything captured since the last take. */
  def take(): Seq[QueryExecution] = {
    val out = ArrayBuffer[QueryExecution]()
    var q = qes.poll()
    while (q != null) { out += q; q = qes.poll() }
    out.toSeq
  }
}

/** Reading SQLMetrics off executed physical plans. */
object Plans {

  /** Every node of an executed plan, pre-order, looking through adaptive
    * wrappers, query stages and reused exchanges. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows out of the top-most node that counts its output rows. */
  def topRows(qe: QueryExecution): Long =
    nodes(qe.executedPlan).iterator.flatMap(n => rows(n)).nextOption().getOrElse(0L)

  /** Rows read by the file scans. */
  def scanRows(qe: QueryExecution): Long =
    nodes(qe.executedPlan).collect { case s: FileSourceScanExec => rows(s).getOrElse(0L) }.sum

  /** (rows out of the explode that emits `column`, rows out of the nearest
    * filter above it). */
  def explodeAndFilter(qe: QueryExecution, column: String): (Long, Long) = {
    val all = nodes(qe.executedPlan)
    all.collectFirst {
      case g: GenerateExec if g.generatorOutput.exists(_.name == column) => g
    } match {
      case None => (0L, 0L)
      case Some(g) =>
        val above = all.collect { case f: FilterExec if nodes(f).exists(_ eq g) => f }
        val kept = if (above.isEmpty) rows(g).getOrElse(0L)
                   else rows(above.minBy(f => nodes(f).size)).getOrElse(0L)
        (rows(g).getOrElse(0L), kept)
    }
  }

  /** Seconds spent in analysis, optimization and physical planning. */
  def planningSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum / 1e3
}

/** Largest heap in use right after a collection, from the collectors' own
  * post-GC pool usage, so it tracks the live set rather than the moment a
  * sample happened to land. */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import java.lang.management.{ManagementFactory, MemoryType}

  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
