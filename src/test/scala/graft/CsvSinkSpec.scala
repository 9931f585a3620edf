package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

import graft.gedcom._

/** The CSV sink, streamed from the text and written from a built graph,
  * against the per-tag `DataFrameWriter.csv` loop it replaced: for every
  * output dir, the header bytes and the multiset of data records must be
  * identical, in raw and typed-date mode. m3.ged
  * carries the quoting corners: an EVEN TYPE with a comma, quotes and a
  * leading space (it becomes a column-name prefix), values with a
  * backslash, quotes, an embedded newline and a trailing space, an empty
  * value, and keys missing on one row. A generated file repeats them at a
  * wide tag and key vocabulary. */
class CsvSinkSpec extends SparkSpec {

  private def resource(name: String): String = getClass.getResource(s"/$name").getPath

  private val fixtures = Seq("m1.ged", "m2.ged", "m3.ged")

  /** The per-tag writer loop: one node job per tag, one partitioned edge
    * job; the reference layout the sink must keep. */
  private def referenceWrite(graph: GedcomGraph.Graph, outDir: String,
      typedDates: Boolean): Unit = {
    graph.stats.keysByTag.foreach { case (tag, keys) =>
      graph.nodes.filter(col("rawTag") === tag)
        .select(CsvSink.typedNodeColumns(keys, typedDates): _*)
        .write.mode("overwrite").option("header", true).csv(s"$outDir/nodes-$tag")
    }
    graph.edges.select(col("rawTag"), col("src").as(":START_ID"),
        col("dst").as(":END_ID"), col("relType").as(":TYPE"))
      .write.partitionBy("rawTag").mode("overwrite").option("header", true)
      .csv(s"$outDir/relationships")
  }

  import CsvFiles.{contents, tmp}

  /** Writes `path` with the streamed bulk load, with the sink over its
    * built graph and with the per-tag writer, and compares every output
    * dir and the Output lists. */
  private def assertParity(path: String, typedDates: Boolean): Unit = {
    val graph = GedcomGraph.fromFile(spark, path)
    try {
      val (streamed, got, want) = (tmp("csv-stream"), tmp("csv-sink"), tmp("csv-ref"))
      val outputs = GedcomPipeline.run(spark, path, streamed.getPath, typedDates).outputs
      val graphOutputs = CsvSink.write(graph, got.getPath, typedDates)
      referenceWrite(graph, want.getPath, typedDates)
      val w = contents(want)
      for ((root, outs) <- Seq(streamed -> outputs, got -> graphOutputs)) {
        val g = contents(root)
        assert(g.keySet == w.keySet)
        g.foreach { case (dir, (headers, recs)) =>
          assert(headers.size == 1, s"$dir: parts disagree on the header")
          assert(headers == w(dir)._1, s"$dir: header")
          assert(recs == w(dir)._2, s"$dir: data records")
        }
        // the Output list: every node tag, then every written edge dir
        def rel(p: String) = root.toPath.relativize(Paths.get(p)).toString
        assert(outs.map(o => (o.kind, o.rawTag, rel(o.path))) ==
          w.keySet.toSeq.sorted.map { d =>
            if (d.startsWith("nodes-")) ("nodes", d.stripPrefix("nodes-"), d)
            else ("relationships", d.stripPrefix("relationships/rawTag="), d)
          }.sortBy(o => (o._1, o._2)))
      }
    } finally graph.release()
  }

  for (fixture <- fixtures; typedDates <- Seq(false, true)) {
    val mode = if (typedDates) "typed-date" else "raw"
    test(s"$fixture ($mode): headers and data records match the per-tag writer") {
      assertParity(resource(fixture), typedDates)
    }
  }

  /** A GEDCOM of 30 record tags whose rows flatten to 40+ keys each: every
    * value quoting corner (comma, quote, backslash, CONT newline, leading
    * and trailing space, empty), date keys in each shape of the grammar
    * (and invalid ones), edges, and every child left out of some rows. */
  private lazy val wideGedcom: String = {
    val rnd = new scala.util.Random(5)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val recordTags = Seq("INDI", "FAM", "SOUR", "REPO", "OBJE", "SUBM", "SUBN",
      "_EVENT_DEFN", "ABBR", "AGNC", "ALIA", "ANCE", "AUTH", "CALN", "CAST", "CHAR",
      "CORP", "DATA", "DESC", "DSCR", "EDUC", "FILE", "FORM", "IDNO", "LANG", "MEDI",
      "NATI", "OCCU", "PROP", "PUBL")
    val plain = Seq("ADDR", "ADR1", "ADR2", "AFN", "AGE", "CAUS", "CITY", "COPR", "CTRY",
      "_EMAIL", "_AKA", "_UID", "_RIN", "_STAT", "NICK", "NPFX", "NSFX", "PAGE", "PHON",
      "POST", "QUAY", "REFN", "RELI", "RESN", "ROLE", "SEX", "SPFX", "SSN", "STAE", "TEXT",
      "TITL", "TIME", "VERS", "NAME", "PLAC", "TEMP", "_LDS")
    val events = Seq("BIRT", "DEAT", "BURI", "CHR", "BAPM", "ADOP", "CREM", "EMIG",
      "IMMI", "NATU")
    val values = Seq("plain", "a,b", "say \"hi\"", "back\\slash", " lead", "trail ",
      " both, \"x\" \\ y ", "", "Smith /Jones/", "SLAKE", "XYZ")
    val dates = Seq("12 JAN 1900", "ABT 1850", "BET 1900 AND 1910", "FROM 1 MAR 1901 TO 1905",
      "31 FEB 1900", "INT 1890 (census)", "not a date", "900", "EST MAR 1777",
      "29 FEB 2000", "1 JAN 1900, maybe", "")
    val perTag = 12
    val ids = for (t <- recordTags.indices; i <- 0 until perTag) yield s"X${t}_$i"
    val b = new StringBuilder
    for ((tag, t) <- recordTags.zipWithIndex; i <- 0 until perTag) {
      b ++= s"0 @X${t}_$i@ $tag\n"
      def maybe(body: => Unit): Unit = if (rnd.nextDouble() < 0.85) body
      plain.foreach(c => maybe(b ++= s"1 $c ${pick(values)}\n"))
      events.foreach(e => maybe(b ++= s"1 $e\n2 DATE ${pick(dates)}\n2 PLAC ${pick(values)}\n"))
      maybe(b ++= s"1 DATE ${pick(dates)}\n")
      maybe(b ++= s"1 NOTE ${pick(values)}\n2 CONT ${pick(values)}\n")
      maybe(b ++= "1 EVEN\n2 TYPE  Moved, \"far\"\n2 DATE " + pick(dates) + "\n")
      Seq("ASSO", "CHIL", "HUSB").foreach(e => maybe(b ++= s"1 $e @${pick(ids)}@\n"))
    }
    b ++= "0 TRLR\n"
    val f = Files.createTempFile("wide", ".ged")
    Files.writeString(f, b.toString)
    f.toString
  }

  test("the wide fixture has 30 node tags of 40+ columns and edges") {
    val graph = GedcomGraph.fromFile(spark, wideGedcom)
    try {
      val keys = graph.stats.keysByTag
      assert(keys.size == 30, keys.keySet)
      assert(keys.values.forall(_.size >= 40), keys.map { case (t, k) => t -> k.size })
      assert(keys.values.forall(_.exists(GedcomDates.isDateKey)))
      assert(graph.stats.edges > 0)
    } finally graph.release()
  }

  for (typedDates <- Seq(false, true)) {
    val mode = if (typedDates) "typed-date" else "raw"
    test(s"wide vocabulary ($mode): headers and data records match the per-tag writer") {
      assertParity(wideGedcom, typedDates)
    }
  }

  test("the CSV write is one job of one stage with one task per flat partition") {
    val graph = GedcomGraph.fromFile(spark, resource("m1.ged"))
    try {
      val w = Metrics.around(spark.sparkContext)(CsvSink.write(graph, tmp("csv-sink").getPath)).work
      assert((w.jobs, w.stages) == ((1, 1)))
      assert(w.tasks == graph.flat.rdd.getNumPartitions)
    } finally graph.release()
  }

  test("an EVEN type with a comma, quotes and a leading space is one quoted header field") {
    val graph = GedcomGraph.fromFile(spark, resource("m3.ged"))
    try {
      val out = tmp("csv-sink")
      CsvSink.write(graph, out.getPath)
      val (headers, recs) = contents(out)("nodes-INDI")
      // written like the DataFrame writer does: quoted, inner quotes
      // escaped, leading space trimmed
      assert(headers.head.contains(""","Moved, \"far\" Date",""""), headers.head)
      // every record has as many fields as the header (the CSV reader
      // agrees with the writer on the quoting)
      val indi = spark.read.option("header", true).option("multiLine", true)
        .option("escape", "\\").csv(s"$out/nodes-INDI")
      assert(indi.count() == recs.values.sum)
      val eve = indi.filter(col("Gedcom Id:ID") === "I20").head()
      assert(eve.getAs[String]("Note") == "line one \nline \"two\"")
      // an empty value is written as "", a missing key as nothing
      assert(recs.keys.exists(r => r.startsWith("I20,") && r.contains(""","",""")))
      assert(recs.keys.exists(r => r.startsWith("I21,") && !r.contains("\"")))
    } finally graph.release()
  }

  test("an input without edges writes no relationships output and no error") {
    val ged = Files.createTempFile("no-edges", ".ged")
    Files.writeString(ged, "0 HEAD\n1 SOUR t\n0 @I1@ INDI\n1 NAME A /B/\n0 TRLR\n")
    val graph = GedcomGraph.fromFile(spark, ged.toString)
    try {
      val (out, streamed) = (tmp("csv-sink"), tmp("csv-stream"))
      val outputs = CsvSink.write(graph, out.getPath)
      assert(GedcomPipeline.run(spark, ged.toString, streamed.getPath).outputs.map(_.rawTag) ==
        outputs.map(_.rawTag))
      assert(outputs.map(o => (o.kind, o.rawTag)).toSet == Set(("nodes", "HEAD"), ("nodes", "INDI")))
      assert(!new File(out, "relationships").exists())
      assert(!new File(streamed, "relationships").exists())
      assert(CsvSink.importArgs(outputs).count(_ == "--relationships") == 0)
    } finally graph.release()
  }

  test("a rerun into the same dir replaces the earlier CSVs and keeps other files") {
    val graph = GedcomGraph.fromFile(spark, resource("m1.ged"))
    try {
      val out = tmp("csv-sink")
      Files.writeString(out.toPath.resolve("precious.txt"), "user data")
      val opts = Main.Opts(src = Some(resource("m1.ged")), tmpDir = out.getPath, quiet = true)
      assert(Main.run(opts, spark) == 0)
      val first = contents(out)
      // the graph's write replaces the bulk load's CSVs with the same
      // ones, and the bulk load replaces them again
      CsvSink.write(graph, out.getPath)
      assert(contents(out) == first)
      assert(Main.run(opts, spark) == 0)
      assert(contents(out) == first)
      assert(out.listFiles().map(_.getName).toSet ==
        Set("precious.txt", "relationships") ++ first.keySet.filter(_.startsWith("nodes-")))
    } finally graph.release()
  }

  private def mainRun(): Unit = {
    val opts = Main.Opts(src = Some(resource("m1.ged")), tmpDir = tmp("csv-cli").getPath,
      quiet = true)
    assert(Main.run(opts, spark) == 0)
  }

  test("Main.run without -d runs two Spark jobs: the summary pass and the render pass") {
    val (_, jobs) = withJobCount(mainRun())
    assert(jobs == 2, s"$jobs jobs")
  }

  test("Main.run pins nothing: no persistent RDD and no stored bytes") {
    val before = persistentIds()
    mainRun()
    assert(persistentIds() == before)
    assert(spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
      .map(i => i.memSize + i.diskSize).sum == 0)
  }

  test("a render attempt that throws midway leaves no part; a rerun leaves one part per dir and split") {
    val sc = spark.sparkContext
    val text = Files.readAllLines(Paths.get(wideGedcom)).toArray(Array.empty[String]).toSeq
    val raw = sc.parallelize(text, 3)
    val (boundary, stats) = GedcomGraph.summaryPass(raw)
    val clean = tmp("csv-clean")
    CsvSink.render(raw, boundary, stats, clean.getPath)
    def parts(root: File): Seq[String] =
      CsvFiles.dirs(root).flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.isFile).map(f => root.toPath.relativize(f.toPath).toString)
    assert(parts(clean).exists(_.endsWith("/part-00001.csv")))

    // split 1 throws halfway through its lines, the first time it renders
    val half = text.size / 6
    CsvSinkSpec.failures.set(1)
    val failing = raw.mapPartitionsWithIndex { (pi, it) =>
      it.zipWithIndex.map { case (l, i) =>
        if (pi == 1 && i == half && CsvSinkSpec.failures.getAndDecrement() > 0)
          throw new IllegalStateException("injected render failure")
        l
      }
    }
    val out = tmp("csv-commit")
    val e = intercept[org.apache.spark.SparkException] {
      CsvSink.render(failing, boundary, stats, out.getPath)
    }
    assert(e.getMessage.contains("injected render failure"))
    // the job's other tasks may still be finishing
    val until = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum > 0 &&
        System.nanoTime() < until) Thread.sleep(10)
    assert(!parts(out).exists(_.contains("part-00001")), parts(out))

    // the retry: exactly the clean run's files, nothing left over
    CsvSink.render(failing, boundary, stats, out.getPath)
    assert(parts(out).sorted == parts(clean).sorted)
    assert(parts(out).forall(_.matches("""(nodes-[^/]+|relationships/rawTag=[^/]+)/part-\d{5}\.csv""")),
      parts(out))
    assert(contents(out) == contents(clean))
  }
}

object CsvSinkSpec {
  /** Render failures still to inject (tasks run in this JVM). */
  val failures = new AtomicInteger
}
