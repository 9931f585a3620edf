package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft entry point runs under —
  * Bench, Verify, the GEDCOM CLI, the profiler, the scale tools and the
  * test suite all start from this builder, so plan evidence from any of
  * them describes the plan Bench times. Callers add only what is theirs
  * (an app name, a test warehouse dir) on the returned builder.
  *
  * Adaptive execution and partition coalescing are Spark defaults and are
  * not restated here.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Master `SPARK_MASTER` or `local[cpus]`, shuffle partitions = cpus. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // without this, a cached (leased) frame's plan compiles WITHOUT AQE:
      // its static shuffle.partitions exchanges and unadapted joins then
      // execute inside whichever consumer job cold-builds the cache —
      // measured 14.8-23.7 executor-CPU-s vs 4.4-4.9 for q99's pair lease
      // under the CC pin job at sf0.1, same results either way
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the JVM-wide generated-class cache defaults to 100 entries and
      // q188's composed chain alone generates 101 distinct classes — it
      // evicts ITSELF, so even the warm pass re-runs Janino (measured
      // 319 ms of recompiles on q188 pass-2, 360 ms on q189, and zero at
      // 2000 entries). A code cache, not a result cache: every pass still
      // computes from the parquet inputs.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
