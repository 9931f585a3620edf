package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session configuration: [[Session]] is the only place a session is
  * built, and the suite's own session carries exactly its settings. */
class SessionSpec extends SparkSpec {

  test("no source file but Session.scala builds a session") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.exists(_.endsWith("graft/Session.scala")))
    val offenders = files
      .filterNot(_.endsWith("graft/Session.scala"))
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("SparkSpec's session carries exactly the Session confs at 4 cores") {
    val conf = spark.sparkContext.getConf
    val want = Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft-test",
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.session.timeZone" -> "UTC")
    want.foreach { case (k, v) => assert(conf.get(k) === v, k) }
    assert(conf.get("spark.sql.warehouse.dir").contains("graft-wh"))
    val sqlKeys = conf.getAll.map(_._1).filter(_.startsWith("spark.sql.")).toSet
    assert(sqlKeys === want.keySet.filter(_.startsWith("spark.sql.")) +
      "spark.sql.warehouse.dir")
  }
}
