package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one lazy local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val SF: String = "/root/testdata/sf0.001"

  /** Ids of every RDD currently marked persistent. */
  def persistentIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def withJobCount[A](body: => A): (A, Int) = {
    val m = Metrics.around(spark.sparkContext)(body)
    (m.result, m.work.jobs.toInt)
  }

  /** The RDDs outside `before` that still hold cached partitions, polled
    * for up to `waitMs` until there are none: removal after a
    * non-blocking unpersist is asynchronous. Empty when everything pinned
    * since `before` was freed. */
  def residualRdds(before: Set[Int], waitMs: Long = 5000L): Seq[String] = {
    def left = spark.sparkContext.getRDDStorageInfo.toSeq
      .filter(i => !before(i.id) && i.numCachedPartitions > 0)
    val until = System.nanoTime() + waitMs * 1000000L
    var l = left
    while (l.nonEmpty && System.nanoTime() < until) { Thread.sleep(20); l = left }
    l.map(i => s"rdd ${i.id} (${i.numCachedPartitions} cached partitions)")
  }
}

object SparkSpec {
  // one session for the whole forked test JVM: the runtime surfaces'
  // configuration at 4 cores, plus a throwaway warehouse
  lazy val session: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
