package graft

/** The profiler's counters are per pass: each pass drains the listener
  * bus and resets before it runs. */
class ProfSpec extends SparkSpec {

  test("Prof on q01_agg: jobs and stages counted, pass 2 not cumulative") {
    val Seq(p1, p2) = tools.Prof.queries(spark, SF, 2, Seq("q01_agg"))
    assert(p1.jobs >= 1 && p1.stages >= 1, p1)
    assert(p2.jobs >= 1 && p2.stages >= 1, p2)
    // cumulative counters would read pass 1's work plus pass 2's
    assert(p2.jobs <= p1.jobs && p2.stages <= p1.stages && p2.tasks <= p1.tasks,
      s"$p1\n$p2")
    assert(p1.plans.exchanges >= 1 && p2.plans === p1.plans, s"$p1\n$p2")
  }

  test("Prof counts frame-build jobs apart: q01_agg's table read starts none") {
    val Seq(p) = tools.Prof.queries(spark, SF, 1, Seq("q01_agg"))
    assert(p.frameJobs == 0 && p.jobs >= 1, p)
  }
}
