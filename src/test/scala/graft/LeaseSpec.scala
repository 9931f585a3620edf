package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import org.apache.spark.sql.functions._

import graft.gedcom.GedcomGraph

/** One lifecycle for pinned blocks: [[Lease]] is the only place Spark's
  * persistence methods are called, and whatever a lease holds is gone
  * once it closes — returned, thrown, or released by its owner. */
class LeaseSpec extends SparkSpec {

  /** Every `.scala` file under `src/main`. */
  private def mainSources: List[Path] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no source file but Lease.scala persists, caches, checkpoints or unpersists") {
    // split so this file does not match itself
    val needles = Seq(".cache" + "()", ".persist" + "(",
      ".localCheckpoint" + "(", ".unpersist" + "(")
    val files = mainSources
    assert(files.exists(_.endsWith("graft/Lease.scala")))
    val offenders = files.filterNot(_.endsWith("graft/Lease.scala")).flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      needles.filter(text.contains).map(n => s"$f: $n")
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("no source file imports GraphX") {
    // split so this file does not match itself
    val needle = "org.apache.spark." + "graphx"
    val offenders = mainSources.filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
    assert(offenders.isEmpty, s"GraphX in ${offenders.mkString(", ")}")
  }

  test("close frees pins, cached frames and checkpoints, and is idempotent") {
    val before = persistentIds()
    val l = new Lease
    val (pinned, rdd) = l.pin(spark.range(50).toDF("id"))
    assert(rdd.count() == 50)
    val cached = l.cache(spark.range(20).toDF("id"))
    assert(cached.count() == 20)
    val ck = l.checkpoint(spark.range(30).toDF("id").repartition(3, col("id")))
    assert(ck.count() == 30)
    assert(pinned.count() == 50)
    assert(l.liveCount == 3)
    assert(residualRdds(before, waitMs = 0).size == 3) // the cache is an RDD too
    l.close()
    assert(l.liveCount == 0)
    assert(residualRdds(before).isEmpty)
    l.close()
    assert(l.liveCount == 0)
  }

  test("free drops one pin and keeps the rest") {
    val before = persistentIds()
    Lease.scoped { l =>
      val (_, a) = l.pin(spark.range(10).toDF("id"))
      val (b, bRdd) = l.pin(spark.range(5).toDF("id"))
      a.count(); bRdd.count()
      l.free(a)
      assert(l.liveCount == 1)
      val left = residualRdds(before)
      assert(left.size == 1 && left.head.startsWith(s"rdd ${bRdd.id} "), left)
      assert(b.count() == 5)
    }
    assert(residualRdds(before).isEmpty)
  }

  test("scoped frees what it pinned when the body throws") {
    val before = persistentIds()
    intercept[IllegalStateException](Lease.scoped { l =>
      l.pin(spark.range(10).toDF("id"))._2.count()
      throw new IllegalStateException("boom")
    })
    assert(residualRdds(before).isEmpty)
  }

  test("Graph.release frees the GEDCOM row pin") {
    val before = persistentIds()
    val g = GedcomGraph.fromFile(spark, getClass.getResource("/m1.ged").getPath)
    assert(g.nodes.count() > 0)
    assert(residualRdds(before, waitMs = 0).nonEmpty)
    g.release()
    assert(residualRdds(before).isEmpty)
  }

  test("freeing a checkpointed pin logs no lineage warning; other warnings still log") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("lease-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage): Unit
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    try {
      val l = new Lease
      assert(l.checkpoint(spark.range(10).toDF("id")).count() == 10)
      l.close()
      LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").warn("an unrelated warning")
    } finally root.removeAppender("lease-spec")
    assert(!seen.asScala.exists(_.contains("was locally checkpointed")), seen)
    assert(seen.asScala.exists(_ == "an unrelated warning"), seen)
  }
}
