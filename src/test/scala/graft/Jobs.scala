package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block of code starts. */
object Jobs {

  /** `body`'s result and the jobs it started. A marker job before and after
    * it fences the count: listener events arrive in order, so once the
    * closing marker's start is seen every job of `body` has been counted. */
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(-1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some("jobs-open") => jobs.set(0)
          case Some("jobs-close") => closed.countDown()
          case _ => if (jobs.get >= 0) jobs.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-open")
      val out = body
      marker("jobs-close")
      assert(closed.await(60, TimeUnit.SECONDS), "closing marker job not seen")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
