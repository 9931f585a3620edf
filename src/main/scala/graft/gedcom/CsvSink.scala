package graft.gedcom

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Encoders, GraftSqlBridge}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.util.{DateFormatter, LegacyDateFormats}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import com.univocity.parsers.csv.CsvWriter

import graft.gedcom.RecordAssembler.FlatRecord

/** Partitioned multiplexing CSV sink (reference R15, lib/csv_writer.js:85-113):
  * one output per (kind, raw-tag), `nodes-<TAG>` with the union of that
  * tag's flattened columns, `relationships/rawTag=<TAG>` with the fixed
  * `:START_ID,:END_ID,:TYPE` triple. Headers included, like fast-csv's
  * `{'headers': true}`.
  *
  * Documented fix over the reference (SURVEY §4.3.1): fast-csv derives the
  * header from early rows and silently misaligns later rows with novel
  * columns; here each tag's schema is the union of all its rows' keys
  * (`Gedcom Id:ID` first, properties sorted, `:LABEL` last), folded by a
  * pass over the records before any line is written.
  *
  * Like the reference's one streaming pass, each task renders its split's
  * records straight to part files as they stream by: a record's node line
  * and its edge lines go to `<dir>/part-<split>.csv` of their output dirs,
  * each part opened on its first line with the dir's header. Lines are
  * rendered from `String` rows by univocity's `CsvWriter` on the settings
  * and date formatter of Spark's `UnivocityGenerator` with the options
  * `to_csv` uses (defaults, UTC), the generator of the DataFrame CSV
  * writer, so the bytes match it. [[render]] streams records parsed from
  * the text (after [[GedcomGraph.summaryPass]]); [[write]] streams a built
  * graph's rows.
  * `neo4j-import` receives one `--<kind>` group per part.
  */
object CsvSink {

  final case class Output(kind: String, rawTag: String, path: String)

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

  /** A write task's CSV line writer: univocity's `CsvWriter` on the
    * settings `UnivocityGenerator` writes with under `to_csv`'s options
    * (all defaults, UTC: dates carry no zone), fed `String` rows in which
    * an absent value is `null` (an empty field, where `""` would be
    * written quoted), and the `DateFormatter` the generator formats a
    * `DateType` column with. */
  private final class CsvLines {
    private val options = new CSVOptions(Map.empty[String, String], true, "UTC")
    private val writer = new CsvWriter(options.asWriterSettings)
    val dates: DateFormatter = DateFormatter(options.dateFormatInWrite, options.locale,
      LegacyDateFormats.FAST_DATE_FORMAT, isParsing = false)
    def apply(row: Array[String]): String = writer.writeRowToString(row)
  }

  /** A write task's renderer for one node tag: a slot table from each
    * prop key to its column, and one reused row, so a row costs one walk
    * of its map — not one map probe per column. */
  private final class NodeRenderer(tag: String, fields: Seq[(String, Seq[String])],
      lines: CsvLines) {
    val dir: String = s"nodes-$tag"
    // names can carry commas, quotes and leading spaces (EVEN types become
    // column prefixes): the header is quoted like a row
    val header: String = lines(fields.flatMap { case (k, pair) => k +: pair }.toArray)
    private val slots = new java.util.HashMap[String, Integer]()
    private val dated = new Array[Boolean](fields.map(1 + _._2.size).sum)
    fields.foldLeft(0) { case (i, (k, pair)) =>
      slots.put(k, i)
      dated(i) = pair.nonEmpty
      i + 1 + pair.size
    }
    private val values = new Array[String](dated.length)

    def render(props: scala.collection.Map[String, String]): String = {
      java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
      props.foreachEntry { (k, v) =>
        val slot = slots.get(k)
        if (slot != null) {
          values(slot) = v
          if (dated(slot) && v != null) {
            // the functions the typed-date columns' udf wraps
            val d = GedcomDates.parse(v)
            values(slot + 1) = GedcomDates.toLocalDate(d)
              .map(day => lines.dates.format(day.toEpochDay.toInt)).orNull
            values(slot + 2) = d.qualifier
          }
        }
      }
      lines(values)
    }
  }

  private val EdgeColumns = Array(":START_ID", ":END_ID", ":TYPE")

  /** One split's part files, `<dir>/<name>` under `root`, opened on their
    * dir's first line. Each is written under a hidden attempt-unique name
    * and renamed into place by [[commit]]; [[abort]] deletes them, so a
    * failed attempt leaves no part behind. `conf` is absent for the local
    * FS, which is written through NIO: without its native library,
    * Hadoop's local FS forks `chmod`/`stat` for each file and dir it
    * creates (~10 ms a file). */
  private final class Parts(root: String, name: String, attempt: String,
      conf: Option[Broadcast[SerializableConfiguration]]) {
    private val open = new java.util.LinkedHashMap[String, OutputStream]()
    private lazy val fs = conf.map(c => new Path(root).getFileSystem(c.value.value))
    var bytes = 0L

    private def path(dir: String, file: String) = new Path(new Path(root, dir), file)
    private def tmp(dir: String) = path(dir, s".$name.$attempt")

    def line(dir: String, header: => String, s: String): Unit = {
      var out = open.get(dir)
      if (out == null) {
        out = fs match {
          case Some(f) => f.create(tmp(dir), false)
          case None =>
            val p = Paths.get(tmp(dir).toUri)
            Files.createDirectories(p.getParent)
            new BufferedOutputStream(Files.newOutputStream(p, StandardOpenOption.CREATE_NEW), 1 << 16)
        }
        open.put(dir, out)
        put(out, header)
      }
      put(out, s)
    }

    private def put(out: OutputStream, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      out.write(b)
      out.write('\n')
      bytes += b.length + 1
    }

    /** Closes every part and renames it into place; returns their dirs. */
    def commit(): Seq[String] = {
      open.values.forEach(_.close())
      open.keySet.toArray(Array.empty[String]).toSeq.map { dir =>
        val (from, to) = (tmp(dir), path(dir, name))
        fs match {
          case Some(f) =>
            f.delete(to, false)
            if (!f.rename(from, to)) throw new IOException(s"could not rename $from to $to")
          case None =>
            Files.move(Paths.get(from.toUri), Paths.get(to.toUri), StandardCopyOption.ATOMIC_MOVE)
        }
        dir
      }
    }

    def abort(): Unit = open.forEach { (dir, out) =>
      try out.close()
      finally fs match {
        case Some(f) => f.delete(tmp(dir), false)
        case None => Files.deleteIfExists(Paths.get(tmp(dir).toUri))
      }
    }
  }

  /** Renders `records` into part `part` of every dir they reach: each
    * non-skipped record with props as a node line (like `graph.nodes`),
    * each edge as a line of its edge dir (like `graph.edges`, named like a
    * `partitionBy("rawTag")` write). Returns the dirs written. */
  private def writePart(records: Iterator[FlatRecord],
      fields: Map[String, Seq[(String, Seq[String])]], root: String, part: Int,
      attempt: String, conf: Option[Broadcast[SerializableConfiguration]]): Seq[String] = {
    val parts = new Parts(root, f"part-$part%05d.csv", attempt, conf)
    val lines = new CsvLines
    val nodeRenderers = new java.util.HashMap[String, NodeRenderer]()
    val edgeDirs = new java.util.HashMap[String, String]()
    val edgeValues = new Array[String](EdgeColumns.length)
    lazy val edgeHeader = lines(EdgeColumns)
    try {
      records.foreach { r =>
        if (!r.skipped && r.props.nonEmpty) {
          val nr = nodeRenderers.computeIfAbsent(r.rawTag, t => new NodeRenderer(t, fields(t), lines))
          parts.line(nr.dir, nr.header, nr.render(r.props))
        }
        r.edges.foreach { e =>
          edgeValues(0) = e.src
          edgeValues(1) = e.dst
          edgeValues(2) = e.relType
          parts.line(edgeDirs.computeIfAbsent(e.rawTag, t => s"relationships/rawTag=$t"),
            edgeHeader, lines(edgeValues))
        }
      }
      val dirs = parts.commit()
      Option(TaskContext.get()).foreach(GraftSqlBridge.addBytesWritten(_, parts.bytes))
      dirs
    } catch {
      case t: Throwable => parts.abort(); throw t
    }
  }

  /** One job writes each partition of `records` as part `<partition>`,
    * then the driver writes `driverRecords` as one part after them. The
    * node dirs are those of `keysByTag`, each headed by its union. */
  private def writeAll(records: RDD[FlatRecord], driverRecords: Seq[FlatRecord],
      keysByTag: Map[String, Set[String]], outDir: String,
      typedDates: Boolean): Seq[Output] = {
    val sc = records.sparkContext
    val fields = keysByTag.map { case (t, keys) => t -> typedNodeFields(keys, typedDates) }
    val base = new Path(outDir)
    val fs = base.getFileSystem(sc.hadoopConfiguration)
    val root = fs.makeQualified(base).toString
    val conf = LocalOrHadoop.conf(sc, fs)

    // SaveMode.Overwrite: drop what an earlier run left in the dirs this
    // run writes, and nothing else
    (fields.keys.toSeq.map(t => s"nodes-$t") :+ "relationships")
      .foreach(d => fs.delete(new Path(base, d), true))
    val dirs = sc.runJob(records, (ctx: TaskContext, it: Iterator[FlatRecord]) =>
      writePart(it, fields, root, ctx.partitionId, ctx.taskAttemptId.toString, conf)).flatten ++
      writePart(driverRecords.iterator, fields, root, records.getNumPartitions, "driver", conf)

    val edgeTags = dirs.filter(_.startsWith("relationships/"))
      .map(_.stripPrefix("relationships/rawTag=")).distinct.sorted
    fields.keys.toSeq.sorted.map(t => Output("nodes", t, s"$outDir/nodes-$t")) ++
      edgeTags.map(t => Output("relationships", t, s"$outDir/relationships/rawTag=$t"))
  }

  /** The bulk load's render pass, after [[GedcomGraph.summaryPass]] over
    * the same `raw` returned `boundary` and `stats`: each task parses its
    * split's contained records again and streams them to its parts; the
    * driver writes the stitched boundary records as one more part. Headers
    * are the summary's unions. Nothing is encoded or pinned. */
  def render(raw: RDD[String], boundary: Seq[FlatRecord], stats: GedcomGraph.SplitStats,
      outDir: String, typedDates: Boolean = false): Seq[Output] =
    writeAll(GedcomGraph.containedRecords(raw, None), boundary, stats.keysByTag, outDir,
      typedDates)

  /** Writes a built graph's CSVs in one job over its flat rows, through
    * the same renderer and part files as [[render]]. */
  def write(graph: GedcomGraph.Graph, outDir: String,
      typedDates: Boolean = false): Seq[Output] =
    writeAll(graph.flat.as(Encoders.product[FlatRecord]).rdd, Nil, graph.stats.keysByTag,
      outDir, typedDates)

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
