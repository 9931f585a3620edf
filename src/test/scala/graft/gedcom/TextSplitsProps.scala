package graft
package gedcom

import java.io.File
import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties, Test}

/** [[GedcomGraph.textLines]] against `SparkContext.textFile`, its oracle:
  * for texts with mixed `\n`, `\r` and `\r\n` terminators, a byte order
  * mark, multi-byte and malformed UTF-8, blank lines, lines longer than a
  * split, no trailing newline and no bytes at all, both give the same
  * lines in the same partitions. The only `textFile` call of the project
  * is here. */
object TextSplitsProps extends Properties("text-splits") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40) // each case runs two Spark jobs

  private lazy val spark = SparkSpec.session
  private lazy val sc = spark.sparkContext

  private val terminator = Gen.frequency(4 -> "\n", 2 -> "\r\n", 2 -> "\r")

  /** Mostly GEDCOM-like lines; some empty, some long, some with 2-, 3- and
    * 4-byte characters, some with bytes that are not UTF-8. */
  private val line: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.chooseNum(0, 40).map(i => s"$i NOTE x$i".getBytes("UTF-8")),
    2 -> Gen.const(Array.empty[Byte]),
    3 -> Gen.listOfN(12, Gen.oneOf("é", "中", "𝄞", "a", " ")).map(_.mkString.getBytes("UTF-8")),
    1 -> Gen.chooseNum(300, 900).map(n => ("L" * n).getBytes("UTF-8")),
    1 -> Gen.oneOf(Array(0xFF.toByte), Array('a'.toByte, 0xC3.toByte), Array(0xE4.toByte, 0xB8.toByte)))

  private val text: Gen[Array[Byte]] = for {
    bom <- Gen.frequency(1 -> true, 4 -> false)
    n <- Gen.chooseNum(0, 80)
    ls <- Gen.listOfN(n, Gen.zip(line, terminator))
    trailing <- Gen.oneOf(true, false)
  } yield {
    val out = new java.io.ByteArrayOutputStream
    if (bom) out.write(Array(0xEF, 0xBB, 0xBF).map(_.toByte))
    ls.zipWithIndex.foreach { case ((l, t), i) =>
      out.write(l)
      if (trailing || i < ls.size - 1) out.write(t.getBytes("UTF-8"))
    }
    out.toByteArray
  }

  private def byPartition(rdd: org.apache.spark.rdd.RDD[String]): Seq[Seq[String]] =
    rdd.mapPartitionsWithIndex((i, it) => Iterator((i, it.toVector))).collect()
      .sortBy(_._1).map(_._2).toSeq

  /** Both readers' lines of `bytes` written to a file, partition by partition. */
  private def read(bytes: Array[Byte], name: String = "text.txt"): (Seq[Seq[String]], Seq[Seq[String]]) = {
    val dir = Files.createTempDirectory("text-splits").toFile
    val f = new File(dir, name)
    try {
      Files.write(f.toPath, bytes)
      (byPartition(GedcomGraph.textLines(spark, f.getPath)),
        byPartition(sc.textFile(f.getPath, sc.defaultParallelism * 2)))
    } finally CsvFiles.delete(dir)
  }

  property("the same lines in the same partitions as textFile") =
    Prop.forAllNoShrink(text) { bytes =>
      val (ours, oracle) = read(bytes)
      Prop(ours == oracle) :| s"${bytes.length} bytes: ${ours.map(_.size)} vs ${oracle.map(_.size)}"
    }

  property("an empty file has no partition") = Prop {
    val (ours, oracle) = read(Array.empty[Byte])
    ours == oracle && ours.isEmpty
  }

  property("a gzip file reads through Hadoop's codec as textFile reads it") =
    Prop.forAllNoShrink(text) { bytes =>
      val gz = new java.io.ByteArrayOutputStream
      val z = new java.util.zip.GZIPOutputStream(gz)
      z.write(bytes)
      z.close()
      val (ours, oracle) = read(gz.toByteArray, "text.txt.gz")
      ours == oracle
    }

  property("a small local block size caps the splits for both readers") = {
    val bytes = (0 until 300).map { i =>
      Seq(s"$i NAME é中𝄞 /x$i/", "", s"$i NOTE n$i").mkString(Seq("\n", "\r\n", "\r")(i % 3)) +
        Seq("\r", "\n", "\r\n")(i % 3)
    }.mkString.getBytes("UTF-8")
    val conf = sc.hadoopConfiguration
    // the local FS reads its block size when it is created: a cached
    // instance would keep the default
    val keys = Seq("fs.local.block.size" -> "256", "fs.file.impl.disable.cache" -> "true")
    val saved = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val (ours, oracle) = read(bytes)
      Prop(ours == oracle && ours.size >= bytes.length / 256) :|
        s"${bytes.length} bytes, ${ours.size} vs ${oracle.size} splits"
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
