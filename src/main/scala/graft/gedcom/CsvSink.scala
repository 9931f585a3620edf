package graft.gedcom

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapred.{FileOutputFormat, JobConf, RecordWriter, TextOutputFormat}
import org.apache.hadoop.mapred.lib.MultipleOutputFormat
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned multiplexing CSV sink (reference R15, lib/csv_writer.js:85-113):
  * one output per (kind, raw-tag), `nodes-<TAG>` with the union of that
  * tag's flattened columns, `relationships/rawTag=<TAG>` with the fixed
  * `:START_ID,:END_ID,:TYPE` triple. Headers included, like fast-csv's
  * `{'headers': true}`.
  *
  * Documented fix over the reference (SURVEY §4.3.1): fast-csv derives the
  * header from early rows and silently misaligns later rows with novel
  * columns; here each tag's schema is the union of all its rows' keys
  * (`Gedcom Id:ID` first, properties sorted, `:LABEL` last), folded by the
  * parse pass (or, on the shuffle path, one aggregation scan).
  *
  * Like the reference's one streaming pass, every output is written by ONE
  * Spark job: each node and edge row is rendered to its CSV line by
  * `to_csv` (the same Univocity generator and defaults as the DataFrame
  * CSV writer, so the bytes match), keyed by its output dir, and a
  * multiplexing output format routes it to `<dir>/part-NNNNN.csv`. Each
  * part file opens with its dir's header; `neo4j-import` receives one
  * `--<kind>` group per part.
  */
object CsvSink {

  final case class Output(kind: String, rawTag: String, path: String)

  /** Job-conf key prefix of a dir's rendered header line (edge dirs share
    * the one under "relationships"). */
  private[gedcom] val HeaderKey = "gedcom.csvsink.header."

  /** Column order for a node tag given the union of its prop keys. */
  def nodeColumns(keys: Set[String]): Seq[String] = {
    val special = Seq("Gedcom Id:ID").filter(keys)
    special ++ keys.diff(Set("Gedcom Id:ID", ":LABEL")).toSeq.sorted :+ ":LABEL"
  }

  /** (name, value) pairs of [[typedNodeColumns]]. */
  private def typedNodeFields(keys: Set[String],
      typedDates: Boolean): Seq[(String, Column)] =
    nodeColumns(keys).flatMap { k =>
      val raw = col("props").getItem(k)
      if (typedDates && GedcomDates.isDateKey(k))
        Seq(k -> raw,
          s"$k:date" -> GedcomDates.typedDateCol(raw),
          s"$k Qualifier" -> GedcomDates.qualifierCol(raw))
      else Seq(k -> raw)
    }

  /** Select list over the `props` map for one node tag: the ordered raw
    * columns, and — in typed-date mode — a parsed `K:date` + `K Qualifier`
    * pair directly after each date-grammar column K (the `:date` header
    * suffix is `neo4j-import`'s own typed-property convention, so the bulk
    * load ingests real dates with zero extra ceremony). Shared by the CSV
    * sink and [[GedcomGraph.nodesWide]] so the two surfaces cannot drift. */
  def typedNodeColumns(keys: Set[String],
      typedDates: Boolean): Seq[Column] =
    typedNodeFields(keys, typedDates).map { case (n, c) => c.as(n) }

  def write(graph: GedcomGraph.Graph, outDir: String,
      typedDates: Boolean = false): Seq[Output] = {
    // no extra cache layer: graph.flat is already pinned as blocks of raw
    // UnsafeRows, and the one write job scans them directly
    val nodes = graph.nodes
    val spark = nodes.sparkSession

    // per-tag column union: free when the parse pass folded it (text fast
    // path); otherwise one distinct (tag, key) scan — driver-side size is
    // bounded by the tag-dictionary x flattened-key vocabulary, not by rows
    val keysByTag: Map[String, Set[String]] = graph.summary.map(_.keysByTag).getOrElse(
      nodes
        .select(col("rawTag"), explode(map_keys(col("props"))).as("k"))
        .distinct().collect()
        .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getString(1)).toSet })
    val nodeFields = keysByTag.toSeq.sortBy(_._1).map { case (tag, keys) =>
      tag -> typedNodeFields(keys, typedDates)
    }

    // (output dir, CSV line) for every row of the import: a node's line
    // picks its tag's column list; edge dirs are named like a
    // partitionBy("rawTag") write
    val edgeLines = graph.edges.select(
      concat(lit("relationships/rawTag="), col("rawTag")),
      to_csv(struct(col("src"), col("dst"), col("relType"))))
    val lines = nodeFields.map { case (tag, fields) =>
      tag -> to_csv(struct(fields.map(_._2): _*))
    } match {
      case Seq() => edgeLines
      case (t0, l0) +: rest =>
        val line = rest.foldLeft(when(col("rawTag") === t0, l0)) {
          case (c, (t, l)) => c.when(col("rawTag") === t, l)
        }
        nodes.select(concat(lit("nodes-"), col("rawTag")), line).union(edgeLines)
    }

    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    // the -t dir is the user's: no _SUCCESS marker beside their files
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    renderHeaders(spark,
      nodeFields.map { case (tag, fields) => s"nodes-$tag" -> fields.map(_._1) } :+
        ("relationships" -> Seq(":START_ID", ":END_ID", ":TYPE")))
      .foreach { case (dir, h) => conf.set(HeaderKey + dir, h) }

    // SaveMode.Overwrite: drop what an earlier run left in the dirs this
    // run writes, and nothing else
    val base = new Path(outDir)
    val fs = base.getFileSystem(conf)
    (nodeFields.map(t => s"nodes-${t._1}") :+ "relationships")
      .foreach(d => fs.delete(new Path(base, d), true))

    lines.queryExecution.toRdd
      .mapPartitions { it =>
        val line = new Text()
        it.map { r => line.set(r.getUTF8String(1).getBytes); (r.getUTF8String(0).toString, line) }
      }
      .saveAsHadoopFile(outDir, classOf[String], classOf[Text], classOf[CsvDirsFormat], conf)

    nodeFields.map { case (tag, _) => Output("nodes", tag, s"$outDir/nodes-$tag") } ++
      edgeOutputs(fs, new Path(base, "relationships"))
  }

  /** The per-tag edge dirs the write produced (none for an input without
    * edges), enumerated through the Hadoop FS of the output path —
    * java.io.File would silently return nothing for any non-plain-local
    * URI and the import command would drop all edges. */
  private def edgeOutputs(fs: FileSystem, base: Path): Seq[Output] =
    (if (fs.exists(base)) fs.listStatus(base).toSeq else Nil)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("rawTag="))
      .map { st =>
        val p = st.getPath
        // keep plain local paths plain (the bulk-import command and the
        // part-file scan are local-process consumers)
        val pathStr =
          if (p.toUri.getScheme == "file") p.toUri.getPath else p.toString
        Output("relationships", p.getName.stripPrefix("rawTag="), pathStr)
      }
      .sortBy(_.rawTag)

  /** Each (dir, column names) header rendered by the same `to_csv`
    * generator as the rows — names can carry commas, quotes and leading
    * spaces (EVEN types become column prefixes). The names are literals
    * over a one-row local relation, so the driver folds it without a job. */
  private def renderHeaders(spark: SparkSession,
      headers: Seq[(String, Seq[String])]): Seq[(String, String)] = {
    val one = spark.createDataFrame(java.util.List.of(Row.empty), StructType(Nil))
    val row = one.select(headers.map { case (_, names) =>
      to_csv(struct(names.zipWithIndex.map { case (n, i) => lit(n).as(s"c$i") }: _*))
    }: _*).collect().head
    headers.indices.map(i => headers(i)._1 -> row.getString(i))
  }

  /** `neo4j-admin import`-style argument list from the written outputs
    * (reference index.js:81-84 builds `--<kind> <path>` pairs). Every part
    * file carries its own header row, so each becomes its own `--<kind>`
    * group — comma-joining parts would feed the later parts' header rows
    * in as data. A part is opened by its first row, so none is
    * header-only. */
  def importArgs(outputs: Seq[Output]): Seq[String] =
    outputs.flatMap { o =>
      val dir = new java.io.File(o.path)
      Option(dir.listFiles())
        .map(_.filter { f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".csv")
        }.map(_.getPath).sorted)
        .getOrElse(Array.empty[String])
        .flatMap(p => Seq(s"--${o.kind}", p))
    }

  /** Remove the scratch CSVs after a successful publish — the reference's
    * `csvs.cleanup()` (lib/csv_writer.js:27-29, invoked from
    * index.js:105-108 only on the success path; failures keep the CSVs
    * for inspection/retry, and so do we). Unlike the reference's
    * `fs.remove(scratch_dir)` (which owns a dedicated mkdirp'd dir), the
    * `-t` dir here is user-supplied, so only what THIS run wrote is
    * deleted: the recorded output dirs, then the `relationships` dir and
    * the scratch dir itself only once they are empty — pre-existing user
    * files survive. */
  def cleanup(outputs: Seq[Output], outDir: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete(): Unit
    }
    outputs.foreach(o => rec(new java.io.File(o.path)))
    // delete() succeeds only when nothing user-placed remains
    new java.io.File(outDir, "relationships").delete(): Unit
    new java.io.File(outDir).delete(): Unit
  }
}

/** Multiplexing text output for [[CsvSink.write]]: each (dir, line) record
  * goes to `<dir>/part-NNNNN.csv` of its task, a file that opens with the
  * dir's header (carried in the job conf) and then holds bare lines. The
  * output root is the user's scratch dir, which may already exist, so the
  * output-exists check is skipped; the sink clears its own dirs first. */
final class CsvDirsFormat extends MultipleOutputFormat[String, Text] {
  override protected def generateFileNameForKeyValue(
      dir: String, line: Text, name: String): String = s"$dir/$name.csv"

  override protected def generateActualKey(dir: String, line: Text): String = null

  override protected def getBaseRecordWriter(fs: FileSystem, job: JobConf,
      name: String, progress: Progressable): RecordWriter[String, Text] = {
    val file = FileOutputFormat.getTaskOutputPath(job, name)
    val out =
      if (file.toUri.getScheme == "file") {
        // Hadoop's local FS forks `chmod`/`stat` for each file and dir it
        // creates when its native library is absent (~10 ms a file, most of
        // this job's wall on a 4 MB input). NIO writes the same bytes,
        // minus the .crc sidecars, still counted in the task's output
        // metrics; the committer moves them like any other file.
        val p = Paths.get(file.toUri)
        Files.createDirectories(p.getParent)
        new FSDataOutputStream(
          new BufferedOutputStream(Files.newOutputStream(p, StandardOpenOption.CREATE_NEW), 1 << 16),
          FileSystem.getStatistics("file", classOf[RawLocalFileSystem]))
      } else file.getFileSystem(job).create(file, progress)
    val w = new TextOutputFormat.LineRecordWriter[String, Text](out)
    // "nodes-<TAG>/part-NNNNN.csv" or "relationships/rawTag=<TAG>/part-..."
    val dir = name.substring(0, name.indexOf('/'))
    w.write(null, new Text(job.get(CsvSink.HeaderKey + dir)))
    w
  }

  override def checkOutputSpecs(ignored: FileSystem, job: JobConf): Unit = ()
}
