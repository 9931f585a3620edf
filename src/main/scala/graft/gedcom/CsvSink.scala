package graft.gedcom

import java.io.{BufferedOutputStream, CharArrayWriter}
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapred.{FileOutputFormat, JobConf, RecordWriter, TextOutputFormat}
import org.apache.hadoop.mapred.lib.MultipleOutputFormat
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

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
  * Spark job that scans the pinned flat rows once: each row's node line and
  * its edge lines are rendered in the same pass, keyed by their output dir,
  * and a multiplexing output format routes them to `<dir>/part-NNNNN.csv`.
  * Lines are rendered by Spark's own `UnivocityGenerator` with the options
  * `to_csv` uses (defaults, UTC), the generator of the DataFrame CSV
  * writer, so the bytes match it. Each part file opens with its dir's
  * header; `neo4j-import` receives one `--<kind>` group per part.
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

  /** [[nodeColumns]], each with the names of the parsed pair that follows
    * it in typed-date mode: `K:date` + `K Qualifier` after each
    * date-grammar column K (the `:date` header suffix is `neo4j-import`'s
    * own typed-property convention, so the bulk load ingests real dates
    * with zero extra ceremony), none otherwise. */
  private def typedNodeFields(keys: Set[String],
      typedDates: Boolean): Seq[(String, Seq[String])] =
    nodeColumns(keys).map { k =>
      k -> (if (typedDates && GedcomDates.isDateKey(k)) Seq(s"$k:date", s"$k Qualifier")
        else Nil)
    }

  /** Select list over the `props` map for one node tag: the ordered raw
    * columns and, in typed-date mode, each date column's parsed pair —
    * the layout of the tag's CSV, as a frame ([[GedcomGraph.nodesWide]]). */
  def typedNodeColumns(keys: Set[String],
      typedDates: Boolean): Seq[Column] =
    typedNodeFields(keys, typedDates).flatMap {
      case (k, Seq()) => Seq(col("props").getItem(k).as(k))
      case (k, Seq(date, qualifier)) =>
        val raw = col("props").getItem(k)
        Seq(raw.as(k), GedcomDates.typedDateCol(raw).as(date),
          GedcomDates.qualifierCol(raw).as(qualifier))
    }

  /** `to_csv`'s generator options: all defaults, UTC (dates carry no zone). */
  private def csvOptions = new CSVOptions(Map.empty[String, String], true, "UTC")

  /** A write task's renderer for one node tag: a slot table from each
    * prop key (as the props map's own UTF-8 bytes) to its column, and one
    * reused row, so a row costs one walk of its map — not one map probe
    * per column. */
  private final class NodeRenderer(tag: String, fields: Seq[(String, Seq[String])]) {
    val dir: String = s"nodes-$tag"
    private val slots = new java.util.HashMap[UTF8String, Integer]()
    private val dated = new Array[Boolean](fields.map(1 + _._2.size).sum)
    fields.foldLeft(0) { case (i, (k, pair)) =>
      slots.put(UTF8String.fromString(k), i)
      dated(i) = pair.nonEmpty
      i + 1 + pair.size
    }
    private val values = new Array[Any](dated.length)
    private val row = new GenericInternalRow(values)
    private val gen = new UnivocityGenerator(
      StructType(fields.flatMap { case (k, pair) =>
        StructField(k, StringType) +: pair.zip(Seq(DateType, StringType)).map {
          case (n, t) => StructField(n, t)
        }
      }),
      new CharArrayWriter, csvOptions)

    def render(props: MapData): String = {
      java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
      val ks = props.keyArray()
      val vs = props.valueArray()
      var i = 0
      while (i < props.numElements()) {
        val slot = slots.get(ks.getUTF8String(i))
        if (slot != null) {
          val v = vs.getUTF8String(i)
          values(slot) = v
          if (dated(slot) && v != null) {
            // the functions the typed-date columns' udf wraps
            val d = GedcomDates.parse(v.toString)
            values(slot + 1) =
              GedcomDates.toLocalDate(d).map(_.toEpochDay.toInt: Any).orNull
            values(slot + 2) = UTF8String.fromString(d.qualifier)
          }
        }
        i += 1
      }
      gen.writeToString(row)
    }
  }

  /** `m(k)`, made on a miss; the key is stored as a copy, since a row's
    * bytes are reused for the next row. */
  private def memo[V <: AnyRef](m: java.util.HashMap[UTF8String, V], k: UTF8String)(
      make: => V): V = {
    var v = m.get(k)
    if (v == null) { v = make; m.put(k.clone(), v) }
    v
  }

  /** The column names as one CSV line, by the generator that renders the
    * rows — names can carry commas, quotes and leading spaces (EVEN types
    * become column prefixes). */
  private def headerLine(names: Seq[String]): String =
    new UnivocityGenerator(
      StructType(names.indices.map(i => StructField(s"c$i", StringType))),
      new CharArrayWriter, csvOptions)
      .writeToString(new GenericInternalRow(names.map(UTF8String.fromString(_): Any).toArray))

  private val EdgeColumns = Seq(":START_ID", ":END_ID", ":TYPE")

  def write(graph: GedcomGraph.Graph, outDir: String,
      typedDates: Boolean = false): Seq[Output] = {
    val flat = graph.flat
    val spark = flat.sparkSession

    // per-tag column union: free when the parse pass folded it (text fast
    // path); otherwise one distinct (tag, key) scan — driver-side size is
    // bounded by the tag-dictionary x flattened-key vocabulary, not by rows
    val keysByTag: Map[String, Set[String]] = graph.summary.map(_.keysByTag).getOrElse(
      graph.nodes
        .select(col("rawTag"), explode(map_keys(col("props"))).as("k"))
        .distinct().collect()
        .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getString(1)).toSet })
    val tags = keysByTag.keys.toSeq.sorted
    val fields = keysByTag.map { case (t, keys) => t -> typedNodeFields(keys, typedDates) }

    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    // the -t dir is the user's: no _SUCCESS marker beside their files
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    fields.foreach { case (t, cols) =>
      conf.set(HeaderKey + s"nodes-$t", headerLine(cols.flatMap { case (k, pair) => k +: pair }))
    }
    conf.set(HeaderKey + "relationships", headerLine(EdgeColumns))

    // SaveMode.Overwrite: drop what an earlier run left in the dirs this
    // run writes, and nothing else
    val base = new Path(outDir)
    val fs = base.getFileSystem(conf)
    (tags.map(t => s"nodes-$t") :+ "relationships")
      .foreach(d => fs.delete(new Path(base, d), true))

    // one scan of the pin: every flat row yields its node line (a non-skipped
    // record with props, like graph.nodes) and one line per edge (like
    // graph.edges), keyed by output dir; edge dirs are named like a
    // partitionBy("rawTag") write
    val schema = flat.schema
    val Seq(tagAt, skippedAt, propsAt, edgesAt) =
      Seq("rawTag", "skipped", "props", "edges").map(schema.fieldIndex)
    flat.queryExecution.toRdd
      .mapPartitions { rows =>
        val nodeRenderers = new java.util.HashMap[UTF8String, NodeRenderer]()
        val edgeDirs = new java.util.HashMap[UTF8String, String]()
        val edgeValues = new Array[Any](EdgeColumns.size)
        val edgeRow = new GenericInternalRow(edgeValues)
        val edgeGen = new UnivocityGenerator(
          StructType(EdgeColumns.map(StructField(_, StringType))), new CharArrayWriter, csvOptions)
        val line = new Text()
        rows.flatMap { r =>
          val node =
            if (r.getBoolean(skippedAt) || r.isNullAt(propsAt) ||
                r.getMap(propsAt).numElements() == 0) Nil
            else {
              val tag = r.getUTF8String(tagAt)
              val nr = memo(nodeRenderers, tag)(new NodeRenderer(tag.toString, fields(tag.toString)))
              List(nr.dir -> nr.render(r.getMap(propsAt)))
            }
          val edges = if (r.isNullAt(edgesAt)) null else r.getArray(edgesAt)
          val edgeLines = if (edges == null) Nil else List.tabulate(edges.numElements()) { j =>
            // (src, dst, relType, rawTag): the line is the first three
            val e = edges.getStruct(j, 4)
            var i = 0
            while (i < edgeValues.length) { edgeValues(i) = e.getUTF8String(i); i += 1 }
            val tag = e.getUTF8String(3)
            memo(edgeDirs, tag)(s"relationships/rawTag=$tag") -> edgeGen.writeToString(edgeRow)
          }
          node ::: edgeLines
        }.map { case (dir, s) => line.set(s); (dir, line) }
      }
      .saveAsHadoopFile(outDir, classOf[String], classOf[Text], classOf[CsvDirsFormat], conf)

    tags.map(t => Output("nodes", t, s"$outDir/nodes-$t")) ++
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
