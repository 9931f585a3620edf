package graft

import org.apache.spark.sql.functions._

/** The lease registry contract the r14 verdict's directive 6 asks to pin:
  * leased frames are cached, release() unpersists them AND empties the
  * registry (so a harness or library loop calling release per query never
  * accumulates driver-side DataFrame references), and release after
  * clearCache — the gate harnesses' order — is a safe no-op. */
class CachesSpec extends SparkSpec {

  test("lease caches the frame and release empties the registry") {
    Caches.release() // isolate from any earlier suite's leases
    val df = Caches.lease(spark.range(100).select(col("id")))
    assert(df.count() === 100)
    assert(df.storageLevel.useMemory, "leased frame must be cached")
    assert(Caches.liveCount >= 1)
    Caches.release()
    assert(Caches.liveCount === 0, "release must forget every lease")
    assert(!df.storageLevel.useMemory, "release must unpersist leases")
  }

  test("release after clearCache (the harness order) is safe and idempotent") {
    Caches.release()
    val df = Caches.lease(spark.range(10).select(col("id")))
    df.count()
    spark.catalog.clearCache() // the harness frees the blocks first
    Caches.release() // then drops the stale references — must not throw
    assert(Caches.liveCount === 0)
    Caches.release() // second release on an empty registry: no-op
    assert(Caches.liveCount === 0)
  }

  test("a leasing query leaves no live lease after harness-style release") {
    Caches.release()
    // q161 leases two frames internally; consume it the way Bench does
    SparkEntry.queries("q161_curation_funnel")(spark, SF).collect()
    assert(Caches.liveCount >= 1, "q161 should have leased its frames")
    spark.catalog.clearCache()
    Caches.release()
    assert(Caches.liveCount === 0)
  }

  test("a pass that throws leaves no pins") {
    Caches.release()
    val before = persistentIds()
    val e = intercept[IllegalStateException](SparkEntry.pass(spark, "q01_agg") {
      Caches.lease(spark.range(100).toDF("id")).count()
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(Caches.liveCount === 0)
    assert(residualRdds(before).isEmpty)
  }
}
