package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for operator-internal persists.
  *
  * Operators persist shared intermediates (the W∩D rows of the
  * output-polygon surrogates, shingle sets, triangle edge lists)
  * because two aggregations or joins consume them. The
  * DataFrames they return stay lazy, so the operator itself can never know
  * when the consuming actions finish — without a registry, a session that
  * runs many queries accumulates cached blocks whose DISK portion is not
  * evicted by memory pressure: unbounded local-disk growth.
  *
  * Drivers (Verify, Bench) call `drain()` once their actions
  * complete. Post-drain reuse of a result recomputes — correct, just not
  * cached. */
object PersistTracker {

  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist at MEMORY_AND_DISK and register for a later drain. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    registry.add(p)
    p
  }

  /** Unpersist every tracked intermediate (non-blocking). */
  def drain(): Unit = {
    var d = registry.poll()
    while (d != null) {
      try d.unpersist(false) catch { case _: Throwable => }
      d = registry.poll()
    }
  }
}
