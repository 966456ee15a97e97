package graft.registry

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract: its name, the engine plan it builds
  * over an sf directory, and the DuckDB SQL that must return the same
  * rows. Each query is declared once, in the registry of its domain. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
                   oracleSql: String)

object Q {

  /** Name → declaration over every registry; a name declared twice fails
    * here instead of one declaration silently replacing the other. */
  def index(qs: Seq[Q]): Map[String, Q] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  private val seq = new AtomicLong(0)

  /** Process-unique suffix for memory-sink query names and scratch roots. */
  private[registry] def nextSeq(): Long = seq.incrementAndGet()
}
