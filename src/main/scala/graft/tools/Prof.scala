package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.{Metrics, PlanProbe, Session, SparkEntry}
import graft.gedcom.{CsvSink, GedcomGraph}

/** The profiler: per registered query and pass, where the time went and
  * what the work cost, on Bench's session configuration. Each pass runs
  * through [[SparkEntry.pass]], and its line carries, beside the walls,
  * the [[Metrics.Work]] that [[Metrics.around]] counted:
  *   - walls: total, frame build (operators that run prelude jobs pay
  *     here), analyze, optimize, physical plan, execute (noop sink);
  *   - work: jobs split into those the frame build starts (`frameJobs`,
  *     a nested `around`) and the rest (`execJobs`); Janino's pass 1 in a
  *     fresh JVM is the cold number, later passes the warm floor;
  *   - plan: Exchange, SortMergeJoin and BroadcastHashJoin counts over
  *     the top-level plan plus every [[PlanProbe]] section — iterative
  *     operators run their interesting plans while the frame is built.
  *
  * `GRAFT_CONF="k=v;k2=v2"` sets session confs for A/B runs.
  *
  * Run:
  *   tools/run.sh graft.tools.Prof <sfDir> <passes> <query>... [--plans <dir>] [--stages]
  *   tools/run.sh graft.tools.Prof --ged <file.ged> <passes>
  *
  * `--plans` writes `<dir>/<query>.txt`: `explain("formatted")` of the
  * top-level frame and of the first emission of every probe label; a
  * later pass whose plan counts differ writes `<query>.pass<k>.txt`.
  * `--stages` adds one line per completed stage. `--ged` profiles the
  * GEDCOM -> CSV bulk load: for its summary and render passes the wall,
  * jobs, tasks, executor CPU and pinned bytes, and MB/s over both.
  */
object Prof {

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

  /** One query pass: walls in seconds, the pass's work and the jobs its
    * frame build started. */
  final case class Pass(query: String, pass: Int,
      wall: Double, build: Double, analyze: Double, optimize: Double,
      plan: Double, execute: Double, work: Metrics.Work, frameJobs: Long,
      plans: PlanCounts) {
    def line: String = {
      import work._
      f"$query%-24s p$pass wall=$wall%7.2f build=$build%6.2f " +
        f"analyze=$analyze%5.2f opt=$optimize%5.2f plan=$plan%5.2f " +
        f"exec=$execute%7.2f cpu=$cpuS%7.2f frameJobs=$frameJobs%3d " +
        f"execJobs=${jobs - frameJobs}%3d stages=$stages%4d " +
        f"tasks=$tasks%5d shufRows=$shuffleRows%10d shufBytes=$shuffleBytes%11d " +
        f"inBytes=$inputBytes%11d spillBytes=$spillBytes%d " +
        f"janinoMs=$janinoMs%6d classes=$classes%4d " +
        s"exch=${plans.exchanges} smj=${plans.smj} bhj=${plans.bhj}"
    }
  }

  /** `--plans`' files under `dir`: a query's first pass writes
    * `<query>.txt`, and a later pass k writes `<query>.pass<k>.txt` when
    * its plan counts differ from every plan of the query written so far,
    * so a query whose plan alternates between passes shows each plan. */
  final class PlanFiles(dir: Path) {
    Files.createDirectories(dir)
    private val written = scala.collection.mutable.Map.empty[String, Set[PlanCounts]]

    /** Writes `text` for pass `pass` of `query` if its counts are new;
      * returns the file written. */
    def write(query: String, pass: Int, counts: PlanCounts)(text: => String): Option[Path] = {
      val seen = written.getOrElse(query, Set.empty)
      if (seen(counts)) None
      else {
        written(query) = seen + counts
        val file = dir.resolve(if (seen.isEmpty) s"$query.txt" else s"$query.pass$pass.txt")
        Files.write(file, text.getBytes(StandardCharsets.UTF_8))
        Some(file)
      }
    }
  }

  /** Profile `names` for `passes` passes each, printing one line per pass. */
  def queries(spark: SparkSession, sfDir: String, passes: Int,
      names: Seq[String], plansDir: Option[Path] = None,
      perStage: Boolean = false): Seq[Pass] = {
    val sc = spark.sparkContext
    val mode = ExplainMode.fromString("formatted")
    val planFiles = plansDir.map(new PlanFiles(_))
    val onStage: StageInfo => Unit =
      if (!perStage) _ => ()
      else info => Option(info.taskMetrics).foreach { m =>
        println(f"  [stage ${info.stageId}%4d] " +
          f"cpu=${m.executorCpuTime / 1e9}%7.2f " +
          f"shufRows=${m.shuffleWriteMetrics.recordsWritten}%9d " +
          f"tasks=${info.numTasks}%3d " + info.name.take(90))
      }
    for {
      name <- names
      q = SparkEntry.all.find(_.name == name)
        .getOrElse(sys.error(s"unknown query: $name"))
      p <- 1 to passes
    } yield {
      val withText = planFiles.isDefined
      // counted (and explained) as built: pins execute their frame's
      // adaptive plan right after emitting it
      def capture(qe: QueryExecution): (PlanCounts, String) =
        (planCounts(qe.executedPlan), if (withText) qe.explainString(mode) else "")
      def secs(body: => Any): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val sections = scala.collection.mutable.LinkedHashMap.empty[String, (PlanCounts, String)]
      val run = SparkEntry.pass(spark, name)(Metrics.around(sc, onStage) {
        // the frame's jobs, counted apart and off the walls
        val frame = Metrics.around(sc)(PlanProbe.withSink { (label, f) =>
          if (!sections.contains(label)) sections(label) = capture(f.queryExecution)
        }(q.fn(spark, sfDir)))
        val qe = frame.result.queryExecution
        val analyze = secs(qe.assertAnalyzed())
        val optimize = secs(qe.optimizedPlan)
        val plan = secs(qe.executedPlan)
        // the noop write plans its own command, so this frame's adaptive
        // plan stays the pre-execution one that --plans records
        val top = capture(qe)
        val execute = secs(frame.result.write.format("noop").mode("overwrite").save())
        (frame, analyze, optimize, plan, execute, top)
      })
      val (frame, analyze, optimize, plan, execute, (topCounts, topText)) = run.result
      val counts = sections.values.map(_._1).foldLeft(topCounts)(_ + _)
      planFiles.foreach(_.write(name, p, counts) {
        val body = new StringBuilder(s"==== $name :: top-level ====\n$topText\n")
        sections.foreach { case (label, (_, text)) =>
          body ++= s"\n==== $name :: $label ====\n$text\n"
        }
        body.toString
      })
      val r = Pass(name, p, frame.wall + analyze + optimize + plan + execute,
        frame.wall, analyze, optimize, plan, execute, run.work, frame.work.jobs, counts)
      println(r.line)
      r
    }
  }

  /** The GEDCOM bulk load over `path`, pass by pass: its summary pass and
    * render pass, each with its wall, jobs, tasks, executor CPU and the
    * bytes left pinned after it (the load pins nothing, so 0). */
  def ged(spark: SparkSession, path: String, passes: Int): Unit = {
    val sc = spark.sparkContext
    val mb = new java.io.File(path).length() / 1e6
    val out = Files.createTempDirectory("graft-prof-csv").toString
    /** Runs `body` alone on its own counters; its wall and one line of work. */
    def step[T](name: String)(body: => T): (T, Double, String) = {
      val m = Metrics.around(sc)(body)
      val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      (m.result, m.wall, f"$name=${m.wall}%6.2f s jobs=${m.work.jobs}%d " +
        f"tasks=${m.work.tasks}%3d cpu=${m.work.cpuS}%5.2f s pinned=$pinned")
    }
    for (p <- 1 to passes) {
      val raw = GedcomGraph.textLines(spark, path)
      val ((boundary, stats), s1, summary) = step("summary")(GedcomGraph.summaryPass(raw))
      val (outputs, s2, render) = step("render")(CsvSink.render(raw, boundary, stats, out))
      println(f"pass $p: $summary | $render | ${mb / (s1 + s2)}%6.1f MB/s outputs=${outputs.size}")
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
