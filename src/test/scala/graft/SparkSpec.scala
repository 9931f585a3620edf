package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one lazy local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val SF: String = "/root/testdata/sf0.001"
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
