package graft

import org.apache.spark.sql.DataFrame

/** Central lease registry for intermediate frames that queries cache and
  * cannot unpersist themselves: the frames must stay resident until the
  * RETURNED DataFrame is consumed (an action the builder never sees), so
  * the release point is necessarily the caller's. The gate harnesses
  * (Bench/Verify/ScaleBench/Prof) call `spark.catalog.clearCache()`
  * after every query; a LIBRARY caller composing these operators calls
  * [[Caches.release]] after consuming each result instead — without it,
  * repeated calls accumulate MEMORY_AND_DISK blocks (one or two leased
  * frames per invocation of the leasing queries). */
object Caches {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Cache `df` and remember it for [[release]]. */
  def lease(df: DataFrame): DataFrame = synchronized {
    live += df
    df.cache()
  }

  /** Unpersist every leased frame (non-blocking) and forget them.
    * Idempotent: unpersisting an already-cleared frame (the gate
    * harnesses also call `spark.catalog.clearCache()`) is a no-op, so
    * calling release after clearCache is safe and keeps the registry
    * from growing across a multi-hundred-query harness run. */
  def release(): Unit = synchronized {
    live.foreach(_.unpersist(false))
    live.clear()
  }

  /** Number of currently-leased frames — observability for specs and
    * harness leak checks, not a public API. */
  private[graft] def liveCount: Int = synchronized(live.size)
}
