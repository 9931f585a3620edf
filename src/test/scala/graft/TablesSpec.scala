package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.types.TimestampType

/** Table reads take their schema from a parquet footer read on the
  * driver: the same schema Spark's inference gives, and no Spark job. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  private def withNanosAsLong[A](on: Boolean)(body: => A): A = {
    val before = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, on.toString)
    try body
    finally before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  /** `documents` rows written by Spark as an uncompressed 6-part directory
    * (with its `_SUCCESS` marker) at `<root>/documents.parquet`. */
  private lazy val partsRoot: String = {
    val root = Files.createTempDirectory("graft-tables").toString
    spark.read.parquet(s"$SF/documents.parquet").repartition(6)
      .write.option("compression", "none").parquet(s"$root/documents.parquet")
    root
  }

  private def parts(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  private def assertSameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)

  test("every testdata table gets the schema Spark infers, nanosAsLong off and on") {
    for {
      on <- Seq(false, true)
      dir <- dirs
      name <- tools.ScaleUp.tables
    } withNanosAsLong(on)(assertSameSchema(s"$dir/$name.parquet"))
  }

  test("a Spark-written multi-part directory gets the schema Spark infers") {
    val dir = Paths.get(partsRoot, "documents.parquet")
    assert(Files.exists(dir.resolve("_SUCCESS")) && parts(dir).size > 1)
    assertSameSchema(dir.toString)
  }

  test("no table loader starts a Spark job") {
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings,
      "documentsSpread" -> Tables.documentsSpread,
      "lineitemSpread" -> Tables.lineitemSpread)
    withNanosAsLong(false) {
      val counted = loaders.map { case (name, load) => (name, withJobCount(load(spark, SF))) }
      val started = counted.collect { case (name, (_, jobs)) if jobs > 0 => s"$name: $jobs" }
      assert(started.isEmpty, started.mkString(", "))
      // the events normalization still runs, on the footer's schema
      val events = counted.collectFirst { case ("events", (df, _)) => df }.get
      assert(events.schema("ts").dataType == TimestampType)
    }
  }

  test("a directory table spreads by its parts' bytes, not its inode's") {
    val dir = Paths.get(partsRoot, "documents.parquet")
    val bytes = parts(dir).map(Files.size).sum
    val maxN = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val want = math.min(maxN, (bytes + (1L << 16) - 1) / (1L << 16)).toInt
    val n = Tables.documentsSpread(spark, partsRoot).queryExecution.analyzed
      .collectFirst { case r: RepartitionByExpression => r.numPartitions }
    assert(want > 1 && n.contains(want), s"bytes=$bytes want=$want got=$n")
  }

  test("a missing path still raises Spark's PATH_NOT_FOUND, naming the path") {
    val e = intercept[AnalysisException](Tables.table(spark, "/no/such/dir", "region"))
    assert(e.getCondition == "PATH_NOT_FOUND", e)
    assert(e.getMessage.contains("/no/such/dir/region.parquet"), e)
  }

  test("a directory with no parquet file still raises UNABLE_TO_INFER_SCHEMA") {
    val root = Files.createTempDirectory("graft-tables-empty")
    val dir = Files.createDirectory(root.resolve("region.parquet"))
    Files.createFile(dir.resolve("_SUCCESS"))
    val e = intercept[AnalysisException](Tables.table(spark, root.toString, "region"))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e)
  }

  test("the query modules read parquet only through Tables") {
    // split so this file does not match itself
    val needle = "read.parquet" + "("
    val files = Seq("operators", "functions", "sources", "gedcom").flatMap { m =>
      val s = Files.walk(Paths.get(s"src/main/scala/graft/$m"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.endsWith("operators/Relational.scala")))
    val offenders = files.filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
