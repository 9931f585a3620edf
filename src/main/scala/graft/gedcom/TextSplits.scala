package graft.gedcom

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf, LineRecordReader, TextInputFormat}
import org.apache.spark.{InterruptibleIterator, Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.util.SerializableConfiguration

/** The one choice between the local FS and Hadoop for task-side file I/O.
  * Tasks on the local FS read and write through NIO and need no Hadoop
  * conf, so nothing is broadcast; any other FS gets the driver's conf,
  * broadcast once per call. Without its native library, Hadoop's local FS
  * also forks `chmod`/`stat` for each file and dir it creates. */
private[gedcom] object LocalOrHadoop {
  def conf(sc: SparkContext, fs: FileSystem,
      nio: Boolean = true): Option[Broadcast[SerializableConfiguration]] =
    if (nio && fs.getScheme == "file") None
    else Some(sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
}

/** One split of a text file: the bytes `[start, start + length)` of
  * `file`. `nio` marks an uncompressed local file. */
private final case class TextSplit(index: Int, file: String, start: Long, length: Long,
    hosts: Seq[String], nio: Boolean) extends Partition

/** The lines of a text path, as `SparkContext.textFile` reads them: the
  * partitions are the splits `TextInputFormat` returns for `minPartitions`,
  * computed on the driver, and each task reads its split by
  * `LineRecordReader`'s rules. An uncompressed local file is read straight
  * from its bytes through NIO, with no Hadoop conf on the task; any other
  * file goes through Hadoop's own reader and codecs on the conf
  * [[LocalOrHadoop]] broadcasts. */
private[gedcom] final class TextSplits private (sc: SparkContext, splits: Array[TextSplit],
    conf: Option[Broadcast[SerializableConfiguration]]) extends RDD[String](sc, Nil) {

  override protected def getPartitions: Array[Partition] = splits.toArray[Partition]

  override protected def getPreferredLocations(p: Partition): Seq[String] =
    p.asInstanceOf[TextSplit].hosts

  override def compute(p: Partition, context: TaskContext): Iterator[String] = {
    val s = p.asInstanceOf[TextSplit]
    val lines =
      if (s.nio) new TextSplits.ByteRangeLines(s.file, s.start, s.start + s.length)
      else new TextSplits.HadoopLines(conf.get.value.value, s)
    context.addTaskCompletionListener[Unit] { ctx =>
      GraftSqlBridge.addBytesRead(ctx, lines.bytesRead)
      lines.close()
    }
    new InterruptibleIterator(context, lines)
  }
}

private[gedcom] object TextSplits {

  def apply(sc: SparkContext, path: String, minPartitions: Int): TextSplits = {
    val jobConf = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(jobConf, path)
    val format = new TextInputFormat
    format.configure(jobConf)
    val codecs = new CompressionCodecFactory(jobConf)
    // empty splits dropped, as textFile drops them by default
    val fileSplits = format.getSplits(jobConf, minPartitions).map(_.asInstanceOf[FileSplit])
      .filter(_.getLength > 0)
    val fs = new Path(path).getFileSystem(jobConf)
    val splits = fileSplits.zipWithIndex.map { case (f, i) =>
      TextSplit(i, f.getPath.toString, f.getStart, f.getLength,
        f.getLocations.filter(_ != "localhost").toSeq,
        nio = fs.getScheme == "file" && codecs.getCodec(f.getPath) == null)
    }
    new TextSplits(sc, splits, LocalOrHadoop.conf(sc, fs, nio = splits.forall(_.nio)))
  }

  private trait Lines extends Iterator[String] with AutoCloseable {
    /** The bytes of the file this split has read so far. */
    def bytesRead: Long
  }

  /** A split's lines through Hadoop's reader, for remote or compressed files. */
  private final class HadoopLines(conf: org.apache.hadoop.conf.Configuration,
      s: TextSplit) extends Lines {
    private val reader = new LineRecordReader(conf,
      new FileSplit(new Path(s.file), s.start, s.length, Array.empty[String]))
    private val (key, value) = (new LongWritable, new Text)
    private val lines = Iterator.continually(reader.next(key, value)).takeWhile(identity)
      .map(_ => value.toString)
    override def hasNext: Boolean = lines.hasNext
    override def next(): String = lines.next()
    override def bytesRead: Long = reader.getPos - s.start
    override def close(): Unit = reader.close()
  }

  private val Bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** The lines of the bytes `[start, end)` of a local file, by
    * `LineRecordReader`'s rules: a split that does not start the file
    * drops its first line (the previous split reads it), the split reads
    * every line that starts at or before `end`, `\n`, `\r` and `\r\n` end
    * a line, a UTF-8 byte order mark opening the file is dropped, and
    * each line decodes as UTF-8 with replacement. Streams through one
    * reused read buffer. */
  private final class ByteRangeLines(file: String, start: Long, end: Long) extends Lines {
    private val ch = FileChannel.open(Paths.get(new Path(file).toUri), StandardOpenOption.READ)
    ch.position(start)
    private val buf = ByteBuffer.allocate(1 << 16)
    private val bytes = buf.array
    buf.limit(0)
    private var line = new Array[Byte](256)
    private var lineLen = 0
    private var from = 0 // where the line's text starts: past a byte order mark
    private var pos = start // the file offset of the next line
    private var ready = false
    private var done = false
    var bytesRead = 0L

    private def fill(): Boolean = {
      buf.clear()
      var n = 0
      while (n == 0) n = ch.read(buf)
      buf.flip()
      if (n > 0) bytesRead += n
      n > 0
    }

    private def append(from: Int, until: Int): Unit = {
      val n = until - from
      if (lineLen + n > line.length)
        line = java.util.Arrays.copyOf(line, math.max(line.length * 2, lineLen + n))
      System.arraycopy(bytes, from, line, lineLen, n)
      lineLen += n
    }

    /** Reads one line into `line`; returns the bytes consumed with its
      * terminator, 0 at the end of the file. */
    private def readLine(): Int = {
      lineLen = 0
      var consumed = 0
      while (buf.hasRemaining || fill()) {
        val from = buf.position()
        val lim = buf.limit()
        var i = from
        while (i < lim && bytes(i) != '\n' && bytes(i) != '\r') i += 1
        append(from, i)
        consumed += i - from
        if (i < lim) {
          buf.position(i + 1)
          consumed += 1
          if (bytes(i) == '\r' && (buf.hasRemaining || fill()) && bytes(buf.position()) == '\n') {
            buf.position(buf.position() + 1)
            consumed += 1
          }
          return consumed
        }
        buf.position(i)
      }
      consumed
    }

    if (start != 0) pos += readLine()

    override def hasNext: Boolean = {
      if (!ready && !done) {
        val first = pos == 0
        val n = if (pos > end) 0 else readLine()
        pos += n
        from = if (first && lineLen >= 3 && java.util.Arrays.equals(line, 0, 3, Bom, 0, 3)) 3 else 0
        ready = n > from
        done = !ready
      }
      ready
    }

    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException
      ready = false
      new String(line, from, lineLen - from, StandardCharsets.UTF_8)
    }

    override def close(): Unit = ch.close()
  }
}
