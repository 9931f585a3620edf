package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals fed by the Spark listeners; read as snapshots. */
final class Tally {
  private val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized(m(k) += v)
  def snapshot(): Map[String, Double] = synchronized {
    val c = CodegenMetrics.METRIC_COMPILATION_TIME
    m.toMap ++ Map(
      "codegen_classes" -> c.getCount.toDouble,
      "codegen_ms" -> c.getSnapshot.getValues.sum.toDouble)
  }
}

/** Jobs, stages, tasks and the task metrics summed per completed stage. */
final class WorkListener(t: Tally) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = t.add("jobs", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.add("tasks", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    t.add("stages", 1)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      t.add("cpu_ns", m.executorCpuTime.toDouble)
      t.add("gc_ms", m.jvmGCTime.toDouble)
      t.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      t.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      t.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      t.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Planning phases and the final physical plan's shape per SQL action. */
final class PlanListener(t: Tally) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    t.add("sql_actions", 1)
    t.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    val ops = PlanListener.nodes(qe.executedPlan)
    t.add("exchanges", ops.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble)
    t.add("bhj", ops.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble)
    t.add("smj", ops.count(_.isInstanceOf[SortMergeJoinExec]).toDouble)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  /** Every operator of a physical plan, through adaptive stages and
    * subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** One timed interval around a call into the program. Times are nanoseconds
  * from the start of the run; `work` is what the listeners counted inside. */
final case class Span(
    id: Int, parent: Int, name: String, runId: String,
    start: Long, end: Long, attrs: Map[String, String],
    work: Map[String, Double]) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans when tracing is on; otherwise only runs the body. Spans are
  * kept in memory and written once, at the end of the run. */
final class Recorder(first: SparkSession, val on: Boolean, val runId: String) {
  private val t0 = System.nanoTime()
  private val tally = new Tally
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1
  private var spark: SparkSession = _
  attach(first)

  /** Records from `s` from now on (a run that replaces its session). */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) {
      s.sparkContext.addSparkListener(new WorkListener(tally))
      s.listenerManager.register(new PlanListener(tally))
    }
  }

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      PerfbenchBus.drain(spark.sparkContext)
      val before = tally.snapshot()
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val start = System.nanoTime() - t0
      try body
      finally {
        val end = System.nanoTime() - t0
        open.pop()
        PerfbenchBus.drain(spark.sparkContext)
        val after = tally.snapshot()
        val work = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        done += Span(id, parent, name, runId, start, end, attrs, work)
      }
    }

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }
}
