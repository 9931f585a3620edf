package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Caches, SparkEntry}
import graft.gedcom.{CsvSink, GedcomGraph, GedcomParser, GraphOps, Main, RecordAssembler}

/** One benchmark run in one JVM: set up the session, drive one workload
  * through the program's public API for the given number of seconds, and
  * write what it measured (walls, answers, spans) to `<out>/result.json`.
  * Correctness is judged by the caller against the input's expected
  * answers; this side only records.
  *
  * Usage: perfbench.Harness <plan.json>
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One timed call into the program. */
  final case class Op(kind: String, phase: String, wall: Double, ok: Boolean,
      error: String, answer: Map[String, Any], traced: Boolean)

  /** Times calls into the program and keeps them in order; a call that
    * throws is kept as a failed operation. */
  final class OpLog {
    val list = mutable.ArrayBuffer.empty[Op]
    /** `phase` is "first" (the first call in the process), "cold" (the first
      * call of its kind) or "warm". */
    def apply(kind: String, traced: Boolean, phase: String = "warm")(
        body: => Map[String, Any]): Op = {
      val t0 = System.nanoTime()
      def wall = (System.nanoTime() - t0) / 1e9
      val o =
        try {
          val a = body
          Op(kind, phase, wall, ok = true, "", a, traced)
        } catch {
          case e: Exception =>
            Op(kind, phase, wall, ok = false,
              s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), Map.empty, traced)
        }
      list += o
      o
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    def str(k: String): String = plan(k).toString
    val out = new File(str("out"))
    out.mkdirs()
    val trace = plan("trace") == true

    // set-up: build the session and run one small action, several times;
    // the first one also pays JVM start and class loading. A collection
    // before each keeps the previous session's garbage out of the window.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val nSetups = plan("setups").toString.toInt
    for (i <- 1 to nSetups) {
      if (i > 1) System.gc()
      val t0 = System.nanoTime()
      spark = session(plan)
      val t1 = System.nanoTime()
      spark.range(0, 10000, 1, 4).select(sum(col("id"))).collect()
      val t2 = System.nanoTime()
      setups += (t2 - t0) / 1e9
      System.err.println(f"[perfbench] set-up $i: session ${(t1 - t0) / 1e9}%.2f s, first action ${(t2 - t1) / 1e9}%.2f s")
      if (i < nSetups) spark.stop()
    }
    val setupCold = (System.currentTimeMillis() - jvmStartMs) / 1e3 - setups.drop(1).sum
    val sessionInfo = Map(
      "spark_version" -> spark.version,
      "cores" -> spark.sparkContext.defaultParallelism,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory)

    val rec = new Recorder(spark, trace, s"${str("workload")}-${plan("seed")}")
    val ops = new OpLog
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val deadlineNs = (plan("seconds").toString.toDouble * 1e9).toLong

    val code =
      try {
        str("workload") match {
          case "ged-import" =>
            spark = gedImport(spark, plan, rec, out, deadlineNs, ops, extra)
          case "registry" =>
            registry(spark, plan, rec, out, deadlineNs, ops, extra)
        }
        val result = sessionInfo ++ Map(
          "setup_s" -> setups.toSeq,
          "setup_cold_s" -> setupCold,
          "ops" -> ops.list.toSeq.map(o => Map("kind" -> o.kind, "phase" -> o.phase,
            "wall_s" -> o.wall,
            "ok" -> o.ok, "error" -> o.error, "answer" -> o.answer, "traced" -> o.traced)),
          "extra" -> extra.toMap,
          "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "run_id" -> s.runId, "start_ns" -> s.start,
            "end_ns" -> s.end, "self_s" -> rec.selfSeconds(s), "attrs" -> s.attrs,
            "work" -> s.work)))
        mapper.writeValue(new File(out, "result.json"), result)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally {
        SparkSession.getDefaultSession.foreach(_.stop())
        spark.stop()
      }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }

  private def session(plan: Map[String, Any],
      more: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(plan("master").toString)
      .appName(plan("app").toString)
      .config("spark.ui.enabled", "false")
    plan("conf").asInstanceOf[Map[String, Any]].foreach { case (k, v) => b.config(k, v.toString) }
    more.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes held by persisted RDD blocks, in memory and on disk. */
  private def pinned(spark: SparkSession): (Long, Long) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(_.memSize).sum, info.map(_.diskSize).sum)
  }

  /** Frees every persisted RDD except `keep`. `Main.run` returns only an exit
    * code, so the pin it leaves behind cannot be released through its graph;
    * a long-lived caller that reuses the process has to free it this way. */
  private def unpersistAll(spark: SparkSession, keep: Set[Int] = Set.empty): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }

  /** Polls until no RDD block is stored (removal after a non-blocking
    * unpersist is asynchronous); returns what is left after at most 5 s. */
  private def residualBytes(spark: SparkSession): Long = {
    val until = System.nanoTime() + 5000000000L
    var left = pinned(spark)
    while (left._1 + left._2 > 0 && System.nanoTime() < until) {
      Thread.sleep(20)
      left = pinned(spark)
    }
    left._1 + left._2
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  // ---------------------------------------------------------------- GEDCOM

  /** Imports the file through `Main.run` (the first call cold, then warm
    * until at least `min_warm` warm imports and the time are done). When
    * tracing, also replays `Main.run`'s body span by span after each warm
    * import (a replay counts as a warm import), asks the graph questions of
    * the same file, and replays the import once more in a session whose
    * storage pool is too small for the pin, so the pin goes to disk. Returns
    * the session it ends with. */
  private def gedImport(spark0: SparkSession, plan: Map[String, Any], rec: Recorder,
      out: File, deadlineNs: Long,
      op: OpLog,
      extra: mutable.Map[String, Any]): SparkSession = {
    var spark = spark0
    val ged = plan("ged").toString
    val minWarm = plan("min_warm").toString.toInt
    var pass = 0
    def csvDir(): String = { pass += 1; new File(out, s"csv/p$pass").getPath }

    // what a one-shot CLI user runs: gedcom.Main's body, quiet, no -d
    def mainRun(phase: String): Op = {
      val dir = csvDir()
      val o = op("import", false, phase) {
        val code = Main.run(Main.Opts(src = Some(ged), tmpDir = dir, quiet = true), spark)
        Map("exit_code" -> code, "csv_dir" -> dir)
      }
      val (mem, disk) = pinned(spark)
      unpersistAll(spark)
      extra.getOrElseUpdate("pin_mem_bytes", mem)
      extra.getOrElseUpdate("pin_disk_bytes", disk)
      o
    }

    // Main.run's body replayed through public calls, one span per layer;
    // `prefix` names the spans of the spilling replay apart
    def replay(kind: String, prefix: String): Op = {
      val dir = csvDir()
      val o = op(kind, true) {
        rec.span(prefix + "import") {
          val g = rec.span(prefix + "parse")(GedcomGraph.fromFile(spark, ged))
          val (mem, disk) = pinned(spark)
          val outs = rec.span(prefix + "csv")(CsvSink.write(g, dir))
          val args = rec.span(prefix + "importargs")(CsvSink.importArgs(outs))
          val diag = rec.span(prefix + "diag") {
            Map(
              "nodes" -> g.nodes.count(),
              "edges" -> g.edges.count(),
              "skipped" -> g.skipped.count(),
              "unused_tags" -> g.unusedTags.collect().map(_.getString(0)).sorted.toSeq,
              "missing_temples" -> g.missingTemples.collect().map(_.getString(0)).sorted.toSeq)
          }
          rec.span(prefix + "release")(g.release())
          diag ++ Map("exit_code" -> 0, "csv_dir" -> dir, "import_args" -> args.size,
            "pin_mem_bytes" -> mem, "pin_disk_bytes" -> disk)
        }
      }
      // what the release left behind, looked at after the timed call
      val checked = o.copy(answer = o.answer + ("residual_bytes" -> residualBytes(spark)))
      op.list(op.list.size - 1) = checked
      checked
    }

    mainRun("first")
    if (rec.on) {
      val minParts = spark.sparkContext.defaultParallelism * 2
      rec.span("scan")(spark.sparkContext.textFile(ged, minParts).count())
      extra ++= microbench(ged)
    }
    val t0 = System.nanoTime()
    var warm = 0
    val mains = mutable.ArrayBuffer.empty[Double]
    val replays = mutable.ArrayBuffer.empty[Double]
    while (warm < minWarm || System.nanoTime() - t0 < deadlineNs) {
      mains += mainRun("warm").wall
      warm += 1
      if (rec.on) {
        replays += replay("replay", "").wall
        warm += 1
      }
    }
    if (rec.on) {
      extra("untraced_op_s") = median(mains.toSeq)
      extra("traced_op_s") = median(replays.toSeq)
      graphQuestions(spark, plan, rec, op)
      // the same import with a storage pool smaller than the pin
      spark.stop()
      spark = session(plan, plan("spill_conf").asInstanceOf[Map[String, Any]].map {
        case (k, v) => k -> v.toString })
      rec.attach(spark)
      replay("spill", "spill.")
    }
    spark
  }

  /** Single-thread cost of the two per-line/per-record layers on a fixed
    * sample of the input's first lines. */
  private def microbench(ged: String): Map[String, Any] = {
    val src = scala.io.Source.fromFile(ged, "UTF-8")
    val lines = try src.getLines().take(200000).toArray finally src.close()
    val reps = 5
    val tok = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var n = 0
      var i = 0
      while (i < lines.length) {
        if (GedcomParser.parseLine(lines(i), i.toLong).isDefined) n += 1
        i += 1
      }
      (System.nanoTime() - t0).toDouble / lines.length
    }
    val parsed = lines.iterator.zipWithIndex.flatMap { case (l, i) =>
      GedcomParser.parseLine(l, i.toLong) }.toArray
    val groups = mutable.ArrayBuffer.empty[Array[graft.gedcom.GedLine]]
    var cur = mutable.ArrayBuffer.empty[graft.gedcom.GedLine]
    parsed.foreach { l =>
      if (l.level == 0 && cur.nonEmpty) { groups += cur.toArray; cur = mutable.ArrayBuffer(l) }
      else cur += l
    }
    val records = groups.filter(_.head.level == 0).toArray
    val asm = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var k = 0L
      records.foreach { g =>
        k += RecordAssembler.flatten(k, RecordAssembler.assemble(g.iterator)).edges.size
      }
      (System.nanoTime() - t0).toDouble / records.length
    }
    Map("tokenize_ns_per_line" -> median(tok), "assemble_ns_per_record" -> median(asm),
      "sample_lines" -> lines.length, "sample_records" -> records.length)
  }

  /** Loads the file's graph once and asks every question twice: an
    * untraced cycle that pays each kind's first call, then a traced one. */
  private def graphQuestions(spark: SparkSession, plan: Map[String, Any], rec: Recorder,
      op: OpLog): Unit = {
    val ged = plan("ged").toString
    val cycle = plan("questions").asInstanceOf[Seq[Map[String, Any]]]
    var graph: GedcomGraph.Graph = null
    op("load", false, "cold") {
      graph = GedcomGraph.fromFile(spark, ged)
      val (mem, disk) = pinned(spark)
      Map("pin_mem_bytes" -> mem, "pin_disk_bytes" -> disk)
    }
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val edges = graph.edges

    def ask(q: Map[String, Any], traced: Boolean, phase: String): Op = {
      val kind = q("kind").toString
      val o = op(kind, traced, phase) {
        def run[T](body: => T): T = if (traced) rec.span(kind)(body) else body
        run(kind match {
          case "wide" =>
            val key = s"${q("key")}:date"
            val n = GedcomGraph.nodesWide(graph, q("tag").toString, typedDates = true)
              .filter(year(col(key)).between(q("y1").toString.toInt, q("y2").toString.toInt))
              .count()
            Map("rows" -> n)
          case "degrees" =>
            val r = GraphOps.degrees(edges).agg(count(lit(1)), sum(col("degree"))).head()
            Map("vertices" -> r.getLong(0), "degree_sum" -> r.getLong(1))
          case "clusters" =>
            Map("components" -> GraphOps.familyClusters(edges).select("component").distinct().count())
          case "ancestors" =>
            val rows = GraphOps.ancestorsOf(edges, q("xref").toString).collect()
              .map(r => (r.getString(0), r.getInt(1))).sorted
            Map("rows" -> rows.length, "digest" -> digest(rows.toSeq))
          case "hops" =>
            val r = GraphOps.hopDistances(edges, Seq(q("xref").toString))
              .agg(count(lit(1)), sum(col("hops"))).head()
            Map("rows" -> r.getLong(0), "sum" -> r.getLong(1))
        })
      }
      unpersistAll(spark, keep) // GraphX leaves its iteration graphs cached
      o
    }

    cycle.foreach(q => ask(q, traced = false, "cold"))
    cycle.foreach(q => ask(q, traced = true, "warm"))
    graph.release()
  }

  /** Order-free digest of (xref, number) rows; the generator computes the
    * same one. */
  private def digest(rows: Seq[(String, Int)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { case (x, n) => md.update(s"$x\t$n\n".getBytes("UTF-8")) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  // -------------------------------------------------------------- registry

  /** Order-free digest of a query result: the sum of each row's hash. */
  private def rowsDigest(rows: Array[Row]): String = {
    var acc = BigInt(0)
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("SHA-256").digest(r.toString.getBytes("UTF-8"))
      acc += BigInt(1, h.take(8))
    }
    (acc & ((BigInt(1) << 64) - 1)).toString(16)
  }

  private def registry(spark: SparkSession, plan: Map[String, Any], rec: Recorder,
      out: File, deadlineNs: Long,
      op: OpLog,
      extra: mutable.Map[String, Any]): Unit = {
    val dir = plan("tables").toString
    val modules = Map(
      "operators.Relational" -> graft.operators.Relational.defs,
      "operators.Windows" -> graft.operators.Windows.defs)
    val moduleOf = modules.flatMap { case (m, ds) => ds.map(_.name -> m) }
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val names = plan("queries").asInstanceOf[Seq[Any]].map(_.toString)
    val resultDir = new File(out, "results")
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    resultDir.mkdirs()
    mapper.writeValue(new File(resultDir, "oracle_sql.json"), oracle)

    var last: (StructType, Array[Row]) = null // the latest query's result
    def runQuery(name: String, kind: String, phase: String, traced: Boolean): Op = {
      val q = byName(name)
      val attrs = Map("query" -> name, "module" -> moduleOf.getOrElse(name, "other")) ++
        (if (kind == "probe") Map("probe" -> "1") else Map.empty)
      def sp[T](n: String)(body: => T): T = if (traced) rec.span(n, attrs)(body) else body
      val o = op(kind, traced, phase) {
        last = sp("query") {
          val df = sp("frame")(q.fn(spark, dir))
          (df.schema, sp("exec")(df.collect()))
        }
        Map("query" -> name, "rows" -> last._2.length)
      }
      // the result's digest, taken after the timed call
      val checked = if (o.ok) o.copy(answer = o.answer + ("digest" -> rowsDigest(last._2))) else o
      op.list(op.list.size - 1) = checked
      sp("lease") {
        spark.catalog.clearCache()
        Caches.release()
      }
      if (traced) extra(s"residual_blocks.$name") = {
        residualBytes(spark)
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
      }
      checked
    }

    // pass 1: each query's first execution in the process, as a batch user
    // pays it (traced when tracing); its rows are written out for the oracle
    // after the timed call. Then `min_warm` warm passes (more if time is
    // left); each result's digest must equal pass 1's.
    names.zipWithIndex.foreach { case (n, i) =>
      if (runQuery(n, "query", if (i == 0) "first" else "cold", rec.on).ok)
        spark.createDataFrame(java.util.Arrays.asList(last._2: _*), last._1)
          .coalesce(1).write.mode("overwrite").parquet(new File(resultDir, n).getPath)
    }
    val minWarm = plan("min_warm").toString.toInt
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < minWarm || System.nanoTime() - t0 < deadlineNs) {
      names.foreach(n => runQuery(n, "query", "warm", traced = false))
      passes += 1
    }
    if (rec.on) {
      // overhead: the first query again, warm, with and without spans
      val probe = names.head
      val plain = (1 to 3).map(_ => runQuery(probe, "probe", "warm", traced = false).wall)
      val spanned = (1 to 3).map(_ => runQuery(probe, "probe", "warm", traced = true).wall)
      extra("untraced_op_s") = median(plain)
      extra("traced_op_s") = median(spanned)
    }
  }
}
