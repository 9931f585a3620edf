package graft

import org.apache.spark.sql.DataFrame

/** Plan-evidence tap for operators whose REGISTERED frame is an eager
  * `localCheckpoint` LogicalRDD (the iterative graph family): the
  * interesting physical plans — the loop-round joins, the triangle closing —
  * execute while the frame is being BUILT and are invisible to a
  * top-level `explain` on the returned frame. Operators call
  * [[PlanProbe.emit]] at their key internal frames; the call is a
  * thread-local null check (zero cost) unless a harness installed a sink
  * via [[PlanProbe.withSink]] (`graft.tools.Prof` counts
  * `explain("formatted")` of every emitted frame for the optimization
  * round's before/after plan records).
  */
object PlanProbe {
  private val sink = new ThreadLocal[(String, DataFrame) => Unit]

  /** Run `body` with `f` receiving every emitted (label, frame) on this
    * thread; always restores the previous sink. */
  def withSink[T](f: (String, DataFrame) => Unit)(body: => T): T = {
    val prev = sink.get()
    sink.set(f)
    try body finally sink.set(prev)
  }

  /** Operator-side tap: no-op unless a sink is installed. */
  private[graft] def emit(label: String, df: DataFrame): Unit = {
    val s = sink.get()
    if (s != null) s(label, df)
  }
}
