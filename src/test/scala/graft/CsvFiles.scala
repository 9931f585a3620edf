package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Reads a CSV output tree the way the bulk import sees it: per output dir,
  * the header records of its part files and the multiset of their data
  * records, independent of how the records fall into parts. */
object CsvFiles {

  /** CSV records of a file, split on newlines outside quoted fields (the
    * writer escapes quotes inside a field with a backslash). */
  def records(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var quoted = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quoted && c == '\\') i += 1
      else if (c == '"') quoted = !quoted
      else if (c == '\n' && !quoted) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.toSeq
  }

  def dirs(d: File): Seq[File] =
    d +: Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(dirs)

  /** Per output dir (relative to `root`): the distinct header records of
    * its part files and the multiset of their data records. */
  def contents(root: File): Map[String, (Set[String], Map[String, Int])] =
    dirs(root).flatMap { d =>
      val parts = Option(d.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      if (parts.isEmpty) None
      else {
        val recs = parts.map(f => records(
          new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)))
        val rel = root.toPath.relativize(d.toPath).toString
        Some(rel -> (recs.flatMap(_.headOption).toSet,
          recs.flatMap(_.drop(1)).groupBy(identity).map { case (r, rs) => r -> rs.size }))
      }
    }.toMap

  def tmp(prefix: String): File = Files.createTempDirectory(prefix).toFile

  def delete(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}
