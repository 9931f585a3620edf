package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusProbe
import org.apache.spark.sql.functions.col

/** The profiler's counters are per pass: each pass drains the listener
  * bus and resets before it runs. [[Metrics.around]], the spine under it,
  * counts exactly one block's work. */
class ProfSpec extends SparkSpec {

  test("Prof on q01_agg: jobs and stages counted, pass 2 not cumulative") {
    val Seq(p1, p2) = tools.Prof.queries(spark, SF, 2, Seq("q01_agg"))
    val (w1, w2) = (p1.work, p2.work)
    assert(w1.jobs >= 1 && w1.stages >= 1, p1)
    assert(w2.jobs >= 1 && w2.stages >= 1, p2)
    // cumulative counters would read pass 1's work plus pass 2's
    assert(w2.jobs <= w1.jobs && w2.stages <= w1.stages && w2.tasks <= w1.tasks,
      s"$p1\n$p2")
    assert(p1.plans.exchanges >= 1 && p2.plans === p1.plans, s"$p1\n$p2")
  }

  test("Prof counts frame-build jobs apart: q01_agg's table read starts none") {
    val Seq(p) = tools.Prof.queries(spark, SF, 1, Seq("q01_agg"))
    assert(p.frameJobs == 0 && p.work.jobs >= 1, p)
  }

  test("Prof --plans writes each distinct plan of a query once") {
    val dir = java.nio.file.Files.createTempDirectory("prof-plans")
    def names = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    try {
      // q01_agg's plan is the same on both passes: one file
      tools.Prof.queries(spark, SF, 2, Seq("q01_agg"), Some(dir))
      assert(names == Set("q01_agg.txt"))
      val files = new tools.Prof.PlanFiles(dir)
      val (a, b) = (tools.Prof.PlanCounts(17, 0, 2), tools.Prof.PlanCounts(13, 0, 2))
      assert(files.write("q65", 1, a)("plan a").map(_.getFileName.toString) == Some("q65.txt"))
      assert(files.write("q65", 2, a)("plan a again").isEmpty)
      assert(files.write("q65", 3, b)("plan b").map(_.getFileName.toString) == Some("q65.pass3.txt"))
      assert(files.write("q65", 4, a)("plan a").isEmpty && files.write("q65", 5, b)("plan b").isEmpty)
      assert(new String(java.nio.file.Files.readAllBytes(dir.resolve("q65.pass3.txt")), "UTF-8") == "plan b")
      assert(names == Set("q01_agg.txt", "q65.txt", "q65.pass3.txt"))
    } finally CsvFiles.delete(dir.toFile)
  }

  /** A fixed shape: a 4-partition range, one aggregation exchange. */
  private def grouped(): Int =
    spark.range(0, 1000, 1, 4).groupBy(col("id") % 3).count().collect().length

  test("Metrics.around counts a fixed shape's jobs, stages and tasks exactly") {
    val m = Metrics.around(spark.sparkContext)(grouped())
    assert(m.result == 3)
    // under AQE: the map stage's job (4 tasks), then the result job, whose
    // own copy of the map stage is skipped, reading the coalesced
    // shuffle in one task
    assert((m.work.jobs, m.work.stages, m.work.tasks) == ((2L, 2L, 5L)), m.work)
    assert(m.work.shuffleRows == 12 && m.work.shuffleBytes > 0 && m.work.cpuNs > 0, m.work)
    assert(m.wall > 0)
  }

  test("a nested around counts only its own body") {
    val sc = spark.sparkContext
    val outer = Metrics.around(sc) {
      grouped()
      Metrics.around(sc)(grouped())
    }
    val inner = outer.result.work
    assert((inner.jobs, inner.stages, inner.tasks) == ((2L, 2L, 5L)), inner)
    assert((outer.work.jobs, outer.work.stages, outer.work.tasks) == ((4L, 4L, 10L)), outer.work)
  }

  test("a throwing body leaves the bus's listeners as they were") {
    val sc = spark.sparkContext
    val before = ListenerBusProbe.listenerCount(sc)
    val e = intercept[IllegalStateException](Metrics.around(sc) {
      spark.range(10).count()
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(ListenerBusProbe.listenerCount(sc) == before)
  }
}
