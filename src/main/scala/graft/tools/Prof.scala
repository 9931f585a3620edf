package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.{Caches, PlanProbe, Session, SparkEntry}
import graft.gedcom.{CsvSink, GedcomGraph}

/** The profiler: per registered query and pass, where the time went and
  * what the work cost, on Bench's session configuration.
  *
  * Wall time swings several-fold under host co-tenancy while the work a
  * plan does is stable run to run, so every line carries deterministic
  * work counters beside the walls:
  *   - walls: total, frame build (operators that run prelude jobs pay
  *     here), analyze, optimize, physical plan, execute (noop sink);
  *   - work: executor CPU, jobs, stages, tasks;
  *   - data: shuffle-write rows and bytes, input bytes, spill bytes;
  *   - codegen: Janino compile ms and generated classes (pass 1 of a
  *     fresh JVM is the cold number, later passes the warm floor);
  *   - plan: Exchange, SortMergeJoin and BroadcastHashJoin counts over
  *     the top-level plan plus every [[PlanProbe]] section — iterative
  *     operators run their interesting plans while the frame is built.
  *
  * Each pass follows Bench's rules: q147's trainer memo is cleared first,
  * and the SQL cache and lease registry are released after the pass.
  * `GRAFT_CONF="k=v;k2=v2"` sets session confs for A/B runs.
  *
  * Run:
  *   tools/run.sh graft.tools.Prof <sfDir> <passes> <query>... [--plans <dir>] [--stages]
  *   tools/run.sh graft.tools.Prof --ged <file.ged> <passes>
  *
  * `--plans` writes `<dir>/<query>.txt`: `explain("formatted")` of the
  * top-level frame and of the first emission of every probe label.
  * `--stages` adds one line per completed stage. `--ged` profiles the
  * GEDCOM -> CSV pipeline: parse and CSV walls, MB/s and the pinned
  * memory/disk bytes before each pass's `release()`.
  */
object Prof {

  /** Listener-bus work counters; read them only after a drain. */
  private final class Counters(perStage: Boolean) extends SparkListener {
    val jobs, stages, tasks, cpuNs, shuffleRows, shuffleBytes, inputBytes,
      spillBytes = new LongAdder
    def reset(): Unit = Seq(jobs, stages, tasks, cpuNs, shuffleRows,
      shuffleBytes, inputBytes, spillBytes).foreach(_.reset())

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
        if (perStage)
          println(f"  [stage ${info.stageId}%4d] " +
            f"cpu=${m.executorCpuTime / 1e9}%7.2f " +
            f"shufRows=${m.shuffleWriteMetrics.recordsWritten}%9d " +
            f"tasks=${info.numTasks}%3d " + info.name.take(90))
      }
    }
  }

  /** Exchange / SortMergeJoin / BroadcastHashJoin counts of one plan. */
  final case class PlanCounts(exchanges: Int, smj: Int, bhj: Int) {
    def +(o: PlanCounts): PlanCounts =
      PlanCounts(exchanges + o.exchanges, smj + o.smj, bhj + o.bhj)
  }

  /** Every operator of `p`, descending into adaptive, query-stage, cached
    * and subquery plans, which a plain tree walk treats as leaves. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ nested).flatMap(operators)
  }

  private def planCounts(p: SparkPlan): PlanCounts = {
    val ops = operators(p)
    PlanCounts(ops.count(_.isInstanceOf[ShuffleExchangeLike]),
      ops.count(_.isInstanceOf[SortMergeJoinExec]),
      ops.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  /** One query pass: walls in seconds, everything else a per-pass delta. */
  final case class Pass(query: String, pass: Int,
      wall: Double, build: Double, analyze: Double, optimize: Double,
      plan: Double, execute: Double,
      cpuS: Double, jobs: Long, stages: Long, tasks: Long,
      shuffleRows: Long, shuffleBytes: Long, inputBytes: Long, spillBytes: Long,
      janinoMs: Long, classes: Long, plans: PlanCounts) {
    def line: String =
      f"$query%-24s p$pass wall=$wall%7.2f build=$build%6.2f " +
        f"analyze=$analyze%5.2f opt=$optimize%5.2f plan=$plan%5.2f " +
        f"exec=$execute%7.2f cpu=$cpuS%7.2f jobs=$jobs%3d stages=$stages%4d " +
        f"tasks=$tasks%5d shufRows=$shuffleRows%10d shufBytes=$shuffleBytes%11d " +
        f"inBytes=$inputBytes%11d spillBytes=$spillBytes%d " +
        f"janinoMs=$janinoMs%6d classes=$classes%4d " +
        s"exch=${plans.exchanges} smj=${plans.smj} bhj=${plans.bhj}"
  }

  private def compileMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
  private def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Profile `names` for `passes` passes each, printing one line per pass. */
  def queries(spark: SparkSession, sfDir: String, passes: Int,
      names: Seq[String], plansDir: Option[Path] = None,
      perStage: Boolean = false): Seq[Pass] = {
    val sc = spark.sparkContext
    val c = new Counters(perStage)
    val mode = ExplainMode.fromString("formatted")
    plansDir.foreach(Files.createDirectories(_))
    sc.addSparkListener(c)
    try for {
      name <- names
      q = SparkEntry.all.find(_.name == name)
        .getOrElse(sys.error(s"unknown query: $name"))
      p <- 1 to passes
    } yield {
      val withText = p == 1 && plansDir.isDefined
      // counted (and explained) as built: pins execute their frame's
      // adaptive plan right after emitting it
      def capture(qe: QueryExecution): (PlanCounts, String) =
        (planCounts(qe.executedPlan), if (withText) qe.explainString(mode) else "")
      if (name == "q147_bpe_train") graft.functions.Tokenizer.clearMemo()
      GraftSqlBridge.drainListeners(sc)
      c.reset()
      val (ms0, n0) = (compileMs, compiled)
      val sections = scala.collection.mutable.LinkedHashMap.empty[String, (PlanCounts, String)]
      val t0 = System.nanoTime()
      val df = PlanProbe.withSink { (label, frame) =>
        if (!sections.contains(label)) sections(label) = capture(frame.queryExecution)
      }(q.fn(spark, sfDir))
      val tBuild = System.nanoTime()
      val qe = df.queryExecution
      qe.assertAnalyzed()
      val tAna = System.nanoTime()
      qe.optimizedPlan
      val tOpt = System.nanoTime()
      qe.executedPlan
      val tPlan = System.nanoTime()
      // the noop write plans its own command, so this frame's adaptive
      // plan stays the pre-execution one that --plans records
      val (topCounts, topText) = capture(qe)
      val tExec0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = System.nanoTime()
      GraftSqlBridge.drainListeners(sc)
      val (ms, n) = (compileMs - ms0, compiled - n0)
      spark.catalog.clearCache()
      Caches.release()
      if (withText) plansDir.foreach { dir =>
        val body = new StringBuilder(s"==== $name :: top-level ====\n$topText\n")
        sections.foreach { case (label, (_, text)) =>
          body ++= s"\n==== $name :: $label ====\n$text\n"
        }
        Files.write(dir.resolve(s"$name.txt"), body.toString.getBytes(StandardCharsets.UTF_8))
      }
      def s(a: Long, b: Long) = (b - a) / 1e9
      val r = Pass(name, p, s(t0, tPlan) + s(tExec0, tExec), s(t0, tBuild),
        s(tBuild, tAna), s(tAna, tOpt), s(tOpt, tPlan), s(tExec0, tExec),
        c.cpuNs.sum / 1e9, c.jobs.sum, c.stages.sum, c.tasks.sum,
        c.shuffleRows.sum, c.shuffleBytes.sum, c.inputBytes.sum, c.spillBytes.sum,
        ms, n, sections.values.map(_._1).foldLeft(topCounts)(_ + _))
      println(r.line)
      r
    } finally sc.removeSparkListener(c)
  }

  /** GEDCOM -> CSV passes over `path`, releasing each pass's pinned rows. */
  def ged(spark: SparkSession, path: String, passes: Int): Unit = {
    val mb = new java.io.File(path).length() / 1e6
    val out = Files.createTempDirectory("graft-prof-csv").toString
    for (p <- 1 to passes) {
      val t0 = System.nanoTime()
      val graph = GedcomGraph.fromFile(spark, path)
      // the parse job is the flat frame's materialization; force it alone
      graph.flat.queryExecution.toRdd.count()
      val t1 = System.nanoTime()
      val outputs = CsvSink.write(graph, out)
      val t2 = System.nanoTime()
      val storage = spark.sparkContext.getRDDStorageInfo
      graph.release()
      println(f"pass $p: parse=${(t1 - t0) / 1e9}%6.2f s csv=${(t2 - t1) / 1e9}%6.2f s " +
        f"${mb / ((t2 - t0) / 1e9)}%6.1f MB/s outputs=${outputs.size} " +
        s"pinnedMem=${storage.map(_.memSize).sum} pinnedDisk=${storage.map(_.diskSize).sum}")
    }
  }

  private val usage =
    "usage: Prof <sfDir> <passes> <query>... [--plans <dir>] [--stages] | Prof --ged <file.ged> <passes>"

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "--ged" :: file :: passes :: Nil => ged(_, file, passes.toInt)
      case sfDir :: passes :: rest =>
        def opts(xs: List[String], names: Vector[String], plans: Option[Path],
            stages: Boolean): (Vector[String], Option[Path], Boolean) = xs match {
          case Nil => (names, plans, stages)
          case "--plans" :: dir :: tail => opts(tail, names, Some(Paths.get(dir)), stages)
          case "--stages" :: tail => opts(tail, names, plans, stages = true)
          case name :: tail => opts(tail, names :+ name, plans, stages)
        }
        val (names, plans, stages) = opts(rest, Vector.empty, None, stages = false)
        require(names.nonEmpty, usage)
        queries(_, sfDir, passes.toInt, names, plans, stages)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    try run(spark) finally spark.stop()
  }
}
