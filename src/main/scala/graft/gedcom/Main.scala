package graft.gedcom

import org.apache.spark.sql.SparkSession

/** CLI entry point — the Spark-native analog of the reference's
  * `index.js` option surface (R1: `-s/-d/-b/-t/-q/-v`).
  *
  * Usage:
  *   graft.gedcom.Main -s <gedcom file> -t <csv scratch dir>
  *                     [-d <neo4j data dir>] [-b <neo4j bin dir>] [-q] [-v]
  *                     [--typed-dates]
  *
  * `--typed-dates` (extension beyond the reference surface — its own TODO,
  * README.md:55) adds parsed `K:date` + `K Qualifier` columns beside each
  * raw date string in the node CSVs; default output stays raw parity.
  *
  * Parses + flattens the GEDCOM into per-(kind,tag) CSVs and prints the
  * diagnostics the reference logs (skip/missing/unused events,
  * lib/csv_writer.js:97-104). With `-d`, runs the reference's full
  * import/publish saga end-to-end (index.js:91-108): `neo4j-import` into
  * `<dest>.tmp` -> stop -> atomic swap with backup -> start, then removes
  * the scratch CSVs (`csvs.cleanup()`); on any failure the CSVs are
  * RETAINED for inspection/retry and the exit code is nonzero.
  */
object Main {

  final case class Opts(
      src: Option[String] = None,
      dest: Option[String] = None,
      binDir: String = "/usr/bin",
      tmpDir: String = sys.props("java.io.tmpdir") + "/ged2neo-csvs",
      quiet: Boolean = false,
      verbose: Boolean = false,
      typedDates: Boolean = false)

  def parseArgs(args: List[String], acc: Opts = Opts()): Opts = args match {
    case Nil => acc
    case ("-s" | "--src") :: v :: rest => parseArgs(rest, acc.copy(src = Some(v)))
    case ("-d" | "--dest") :: v :: rest => parseArgs(rest, acc.copy(dest = Some(v)))
    case ("-b" | "--bindir") :: v :: rest => parseArgs(rest, acc.copy(binDir = v))
    case ("-t" | "--tmpdir") :: v :: rest => parseArgs(rest, acc.copy(tmpDir = v))
    case ("-q" | "--quiet") :: rest => parseArgs(rest, acc.copy(quiet = true))
    case ("-v" | "--verbose") :: rest => parseArgs(rest, acc.copy(verbose = true))
    case "--typed-dates" :: rest => parseArgs(rest, acc.copy(typedDates = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown option: $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    // no -s => read STDIN, staged to a temp file (reference R3,
    // index.js:122-125: `process.stdin.pipe(gedcom)`; Spark has no stdin
    // source, so the stage-to-file step replaces the pipe)
    val src = opts.src.getOrElse {
      val tmp = java.nio.file.Files.createTempFile("ged-stdin", ".ged")
      tmp.toFile.deleteOnExit()
      java.nio.file.Files.copy(System.in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      if (sys.env.get("SPARK_MASTER").exists(m => !m.startsWith("local")))
        System.err.println(
          s"warning: stdin staged to driver-local $tmp — remote executors cannot read it; use -s with a shared path")
      if (!opts.quiet) println(s"Reading from STDIN (staged to $tmp)")
      tmp.toString
    }
    val spark = graft.Session.builder().appName("ged2neo").getOrCreate()
    spark.sparkContext.setLogLevel(if (opts.verbose) "INFO" else "WARN")

    val code = run(opts.copy(src = Some(src)), spark)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Everything after session setup, returning the process exit code —
    * factored from [[main]] so specs can drive the complete CLI
    * (including the `-d` saga against stub binaries) on a shared
    * SparkSession without the stop/exit side effects. */
  def run(opts: Opts, spark: SparkSession): Int = {
    val t0 = System.nanoTime()
    val res = GedcomPipeline.run(spark, opts.src.get, opts.tmpDir, opts.typedDates)
    def log(s: String): Unit = if (!opts.quiet) println(s)

    log(f"Finished writing intermediate csv files. Time elapsed: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    log(s"nodes: ${res.graph.nodes.count()}  edges: ${res.graph.edges.count()}  " +
      s"skipped: ${res.graph.skipped.count()}")
    val unused = res.graph.unusedTags.collect().map(_.getString(0)).sorted
    if (unused.nonEmpty) log(s"Missing Tags: ${unused.mkString(", ")}")
    val missing = res.graph.missingTemples.collect().map(_.getString(0)).sorted
    if (missing.nonEmpty) log(s"Missing Temple Codes: ${missing.mkString(", ")}")
    res.outputs.foreach(o => log(s"generated ${o.kind}-${o.rawTag}: ${o.path}"))

    // -d: the reference's end-to-end load (index.js:91-108) — import into
    // <dest>.tmp, stop, atomic swap (previous kept as .bak), start; only a
    // FULLY published database earns the scratch-CSV cleanup.
    opts.dest.map { dest =>
      val admin = new Neo4jAdmin(opts.binDir, dest,
        (stream, line) => if (opts.verbose) println(s"[$stream] $line"))
      log("import command: " + GedcomPipeline
        .importCommand(opts.binDir, s"$dest.tmp", res.importArgs).mkString(" "))
      if (admin.importAndPublish(res.importArgs)) {
        CsvSink.cleanup(res.outputs, opts.tmpDir) // csvs.cleanup(), success path only
        log(s"Published $dest (previous kept at $dest.bak); scratch CSVs removed")
        0
      } else {
        log(s"import/publish FAILED; scratch CSVs retained at ${opts.tmpDir}")
        1
      }
    }.getOrElse(0)
  }
}
