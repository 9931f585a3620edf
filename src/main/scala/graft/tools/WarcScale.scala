package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.Metrics
import graft.sources.Warc

/** Multi-file WARC ingestion audit (VERDICT r20 item 7): the registered
  * q171/q183 bench the PARSE over fixture containers built in-query (one
  * groupBy exchange, then a pure map), so the bench never exercises the
  * production read shape — whole-file binary rows from a directory of
  * `.warc` files (`binaryFile` source) into [[Warc.warcBinaryRecordsRel]].
  * This tool builds that fixture once (N container files of the q183
  * byte-domain shape, gzip members included, written from a synthetic
  * docs frame) and times the read+parse+HTTP-decode+count at the env
  * core count, printing the scan's task count — the audit is that the
  * walk is embarrassingly parallel across files (tasks track
  * min(files-packed-by-size, cores), wall scales with cores).
  *
  * Run: tools/run.sh graft.tools.WarcScale [nFiles] [docsPerFile] [passes]
  * (fixture cached under /tmp/warcscale-<n>x<d>; delete to regenerate)
  */
object WarcScale {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(256)
    val docsPer = args.lift(1).map(_.toInt).getOrElse(256)
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = graft.Session.defaultCpus
    val spark = graft.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = Paths.get(s"/tmp/warcscale-${nFiles}x$docsPer")
    if (!Files.isDirectory(dir)) {
      Files.createDirectories(dir)
      // synthetic docs frame with the columns the q183 fixture reads
      // (doc_id, text, source); text sized so a record lands ~1.5 KB
      val words = (1 to 40).map(i => s"w$i").mkString(" ")
      val docs = spark.range(nFiles.toLong * docsPer)
        .select(col("id").as("doc_id"),
          concat(lit(words + " body "), col("id").cast("string")).as("text"),
          concat(lit("src"), (col("id") % 97).cast("string")).as("source"))
      // one container file per `docsPer` consecutive doc ids
      val containers = Warc.syntheticBinaryContainersGrouped(docs, docsPer)
        .collect()
      containers.foreach { r =>
        Files.write(dir.resolve(f"c${r.getLong(0)}%06d.warc"),
          r.getAs[Array[Byte]](1))
      }
      System.err.println(s"[warcscale] wrote ${containers.length} files to $dir")
    }

    (1 to passes).foreach { p =>
      val taskCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
      val m = Metrics.around(spark.sparkContext, taskCounts += _.numTasks) {
        val files = spark.read.format("binaryFile").load(dir.toString)
          .select(col("path"), col("content"))
        val recs = Warc.warcBinaryRecordsRel(files, col("content"),
          maxRecords = docsPer + 2, keys = Seq("path"))
          .select(col("path"), explode(col("records")).as("r"))
          .filter(col("r.typ") === "response")
          .select(col("path"), Warc.httpPayload(col("r.payload")).as("h"))
          .select(octet_length(col("h.body")).as("n"))
        recs.write.format("noop").mode("overwrite").save()
      }
      val bytes = Files.list(dir).mapToLong(p => Files.size(p)).sum()
      println(f"pass $p: ${m.wall}%.2f s  ${bytes / 1e6 / m.wall}%.1f MB/s  " +
        s"stageTasks=${taskCounts.toList.sortBy(-_).take(3)} cpus=$cpus")
    }
    spark.stop()
  }
}
