package graft.gedcom

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** End-to-end GEDCOM -> property-graph CSV pipeline with the reference's
  * driver-side orchestration (SURVEY §3.1/§3.3): parse, flatten, fan out
  * per-(kind,tag) CSVs, build the bulk-import command, and publish the new
  * database directory atomically with backup/rollback.
  *
  * The Spark work ends at the CSV fan-out; everything after (neo4j-admin
  * import, directory swap, process restart) is plain driver-side
  * orchestration exactly as in the reference (index.js:81-114,
  * lib/neo4j.js:31-110) — the CSVs are the interchange.
  */
object GedcomPipeline {

  final case class Result(
      stats: GedcomGraph.SplitStats, // nodes, edges, skips and the diagnostics
      outputs: Seq[CsvSink.Output],
      importArgs: Seq[String])

  /** Parse + flatten + write CSVs. `typedDates` opts into the parsed
    * `K:date` / `K Qualifier` columns beside each raw date string
    * ([[CsvSink.typedNodeColumns]]); the default stays raw reference
    * parity. */
  def run(spark: SparkSession, gedcomPath: String, csvOutDir: String,
      typedDates: Boolean = false): Result =
    fromTextRdd(GedcomGraph.textLines(spark, gedcomPath), csvOutDir, typedDates)

  /** The bulk load of GEDCOM text lines, in two jobs over the text that
    * pin nothing: [[GedcomGraph.summaryPass]] folds the per-tag column
    * unions and diagnostics, then [[CsvSink.render]] parses again and
    * streams every record to its CSV lines (each dir's header needs the
    * whole input's union before its first line). Both passes read the
    * same splits: past [[GedcomGraph.MAX_STITCH_SPLITS]], adjacent ones
    * merged. */
  def fromTextRdd(raw: RDD[String], csvOutDir: String,
      typedDates: Boolean = false): Result = {
    val lines = GedcomGraph.adjacentSplits(raw)
    val (boundary, stats) = GedcomGraph.summaryPass(lines)
    val outputs = CsvSink.render(lines, boundary, stats, csvOutDir, typedDates)
    Result(stats, outputs, CsvSink.importArgs(outputs))
  }

  /** Full `neo4j-admin` bulk import command (reference lib/neo4j.js:78-99
    * spawns `<bindir>/neo4j-import --into <db>.tmp --nodes ... `). */
  def importCommand(binDir: String, intoDir: String, importArgs: Seq[String]): Seq[String] =
    Seq(s"$binDir/neo4j-import", "--into", intoDir) ++ importArgs
}

/** Atomic directory publish with backup and rollback — the reference's
  * swap/restore saga (lib/neo4j.js:31-51): on publish, `real -> real.bak`
  * then `tmp -> real`; on a failed post-publish validation, delete the bad
  * `real` and restore `real.bak`. The Spark-side analog of the
  * FileOutputCommitter rename protocol, applied to the external DB dir.
  */
object AtomicPublish {

  def bakOf(real: Path): Path = real.resolveSibling(real.getFileName.toString + ".bak")

  /** Swap `tmp` into `real`, keeping the previous `real` as `.bak`.
    * `validate` runs after the swap (the reference's "did neo4j start"
    * check); if it returns false or throws, the swap is rolled back and
    * this returns false. */
  def publish(real: Path, tmp: Path)(validate: => Boolean = true): Boolean = {
    val bak = bakOf(real)
    if (Files.exists(bak)) deleteRecursively(bak)
    val hadReal = Files.exists(real)
    if (hadReal) Files.move(real, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, real, StandardCopyOption.ATOMIC_MOVE)
    val ok = try validate catch { case _: Throwable => false }
    if (!ok) {
      deleteRecursively(real)
      if (hadReal) Files.move(bak, real, StandardCopyOption.ATOMIC_MOVE)
    }
    ok
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
