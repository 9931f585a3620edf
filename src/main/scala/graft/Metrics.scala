package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.GraftSqlBridge

/** The measurement spine: the wall of a block of Spark calls and the work
  * it starts, counted off the listener bus. Wall time swings several-fold
  * under host co-tenancy while the work a plan does is stable run to run,
  * so every timing the tools and Bench record carries its [[Work]]. The
  * only place `src/main` registers a listener (LeaseSpec scans). */
object Metrics {

  /** The work of one block: jobs started, stages completed and their
    * tasks, executor CPU, shuffle-write rows and bytes, input bytes, spill
    * bytes (memory + disk), and Janino compile ms and generated classes. */
  final case class Work(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      shuffleRows: Long, shuffleBytes: Long, inputBytes: Long, spillBytes: Long,
      janinoMs: Long, classes: Long) {
    def cpuS: Double = cpuNs / 1e9
  }

  /** A block's result, its wall in seconds and its work. */
  final case class Measured[T](result: T, wall: Double, work: Work)

  private final class Counters(onStage: StageInfo => Unit) extends SparkListener {
    val jobs, stages, tasks, cpuNs, shuffleRows, shuffleBytes, inputBytes,
      spillBytes = new LongAdder

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      stages.increment()
      tasks.add(info.numTasks)
      val m = info.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        shuffleRows.add(m.shuffleWriteMetrics.recordsWritten)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.add(m.inputMetrics.bytesRead)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      onStage(info)
    }
  }

  private def compileMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
  private def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` on a listener of its own. The bus is drained before the
    * listener goes on and after `body` returns, both outside the timed
    * window, and the listener comes off in a `finally`. Calls nest: an
    * inner call counts only its own body. `onStage` sees each stage that
    * completes while `body` runs, on the listener thread. */
  def around[T](sc: SparkContext, onStage: StageInfo => Unit = _ => ())(body: => T): Measured[T] = {
    val c = new Counters(onStage)
    GraftSqlBridge.drainListeners(sc)
    sc.addSparkListener(c)
    try {
      val (ms0, n0) = (compileMs, compiled)
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      val (ms, n) = (compileMs - ms0, compiled - n0)
      GraftSqlBridge.drainListeners(sc)
      Measured(r, wall, Work(c.jobs.sum, c.stages.sum, c.tasks.sum, c.cpuNs.sum,
        c.shuffleRows.sum, c.shuffleBytes.sum, c.inputBytes.sum, c.spillBytes.sum, ms, n))
    } finally sc.removeSparkListener(c)
  }
}
