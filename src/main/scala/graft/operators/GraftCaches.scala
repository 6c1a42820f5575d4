package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.DataFrame

/** The one way graft code caches a frame, and the registry that frees
  * every such frame. `persist` is the only call in the library that
  * persists a Dataset (a `PlanLintSpec` case enforces it), so every
  * cached block is registered by construction; an embedding application
  * calls `SparkEntry.releaseCaches()` between batches to drop ONLY
  * graft-owned blocks — unlike `spark.catalog.clearCache()`, the host's
  * own cached tables are untouched, which is what makes the library a
  * good tenant in a shared long-lived session.
  *
  * Frames a query unpersists itself before returning (scoped caches,
  * superseded loop batches) stay in the registry; their release is a
  * no-op. Unpersist is non-blocking and lineage-safe: a released frame
  * that a still-held plan later re-reads simply recomputes.
  * Double-release and release-after-session-stop are swallowed (the
  * block manager may already be gone).
  */
object GraftCaches {
  private val frames = new ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` at the session's default storage level (lazily, like
    * `Dataset.persist`) and register it for bulk release; returns the
    * persisted frame. */
  def persist(df: DataFrame): DataFrame = register(df.persist())

  private def register(df: DataFrame): DataFrame = { frames.add(df); df }

  /** Unpersist every registered frame (non-blocking) and clear the
    * registry. Safe on stopped sessions. */
  def releaseAll(): Unit = {
    var df = frames.poll()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () }
      df = frames.poll()
    }
  }

  /** Number of currently registered frames (spec hook). */
  def size: Int = frames.size()
}
