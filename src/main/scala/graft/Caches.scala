package graft

import org.apache.spark.sql.DataFrame

/** The process's query-scope [[Lease]]: query-scope blocks live until
  * [[Caches.release]]. A query's leased frames and the graph operators'
  * checkpointed results must stay resident until the RETURNED DataFrame
  * is consumed (an action the builder never sees), so the release point
  * is the caller's: the harnesses run each query through
  * [[SparkEntry.pass]], which releases after it, and a library caller
  * releases after consuming each result. A
  * checkpointed result cannot be read after the release, and clearCache
  * alone does not free it. One scope serves the process. */
object Caches extends Lease {

  /** Cache `df` until [[release]]. */
  def lease(df: DataFrame): DataFrame = cache(df)

  /** Free every query-scope block; safe after `clearCache()`. */
  def release(): Unit = close()
}
