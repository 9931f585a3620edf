package graft

/** Smoke: every registered query runs at sf0.001 and (except two that are
  * legitimately empty at this tiny scale) returns rows, and leaves no
  * pinned block once the harness's per-query release has run. The
  * value-level check is the driver's DuckDB oracle at sf0.01
  * (tools/selfcheck.py). */
class QueriesSpec extends SparkSpec {

  // too selective to produce rows on ~1k-row inputs; non-empty at sf0.01+
  private val emptyOkAtTinyScale = Set("q15_theta_join", "q22_range_join")

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val before = persistentIds()
      // one pass by the harnesses' rule: clearCache, then release
      val n = SparkEntry.pass(spark, q.name)(q.fn(spark, SF).count())
      if (!emptyOkAtTinyScale(q.name)) assert(n > 0, s"${q.name} returned no rows")
      assert(Caches.liveCount == 0)
      val left = residualRdds(before)
      assert(left.isEmpty, s"${q.name} left pinned blocks: ${left.mkString(", ")}")
    }
  }

  test("q54 bigrams survives documents with fewer than two tokens") {
    import spark.implicits._
    val tiny = Seq((0L, "solo", "en", "s", 4L), (1L, "two words here", "en", "s", 14L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("tinydocs").toString
    tiny.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q54_bigrams")(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(out == Map("two words" -> 1L, "words here" -> 1L))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has unique registration") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("oracle map only references registered queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("bench-detail.json lists each pass's work beside its wall, in pass order") {
    val w = Metrics.Work(jobs = 2, stages = 3, tasks = 8, cpuNs = 1500000000L,
      shuffleRows = 10, shuffleBytes = 200, inputBytes = 300, spillBytes = 0,
      janinoMs = 5, classes = 1)
    val passes = Vector(Metrics.Measured((), 0.7, w),
      Metrics.Measured((), 0.5, w.copy(jobs = 1, cpuNs = 500000000L)))
    val detail = Bench.renderDetailJson(Seq("q1" -> 0.5), Map("q1" -> passes),
      Map("q1" -> Vector(1.0, 2.0)))
    assert(detail == """{"q1":{"best":0.5,"passes":[0.7,0.5],"loads":[1.0,2.0],""" +
      """"work":[{"jobs":2,"stages":3,"tasks":8,"cpu_s":1.5,"shuffle_bytes":200,"spill_bytes":0},""" +
      """{"jobs":1,"stages":3,"tasks":8,"cpu_s":0.5,"shuffle_bytes":200,"spill_bytes":0}]}}""")
  }

  test("a failed bench query poisons the headline JSON") {
    val ok = Bench.renderJson(Seq("a" -> 1.5, "b" -> 2.0), "sf", Some(41.96))
    assert(ok.contains("\"value\":3.5") && ok.contains("\"failed\":0"), ok)
    assert(ok.contains("\"a\":15") && ok.contains("\"b\":20"), ok) // decisec
    assert(ok.contains("\"qunit\":\"decisec\""), ok)
    assert(ok.contains("\"gedcom_mb_per_s\":42.0"), ok)
    val broken = Bench.renderJson(Seq("a" -> 1.5, "b" -> -1.0), "sf")
    assert(broken.contains("\"value\":null") && broken.contains("\"failed\":1"), broken)
    assert(broken.contains("\"b\":-10"), broken) // per-query failure visible too
    assert(broken.contains("\"gedcom_mb_per_s\":null"), broken)
  }

  test("leg rerun reference reads the LATEST band file; absent files disable the rule") {
    val dir = java.nio.file.Files.createTempDirectory("bandref").toFile
    // empty dir: rule disabled, never a crash
    assert(Bench.priorBandBests(dir.getPath).isEmpty)
    def write(name: String, text: String): Unit =
      java.nio.file.Files.writeString(new java.io.File(dir, name).toPath, text)
    write("BAND_r17.json",
      """{"gedcom_legs":{"gedcom_150m":{"best_mb_per_s": 99.9},
        |"gedcom_1g":{"best_mb_per_s": 199.9}}}""".stripMargin)
    write("BAND_r18.json",
      """{"gedcom_legs":{
        |"gedcom_150m":{"mbs_passes_per_bench_pass":[[19.8,51.2]],
        |  "best_mb_per_s": 51.2},
        |"gedcom_1g":{"best_mb_per_s": 101.4}}}""".stripMargin)
    // r18 wins over r17 (latest round), and each leg reads ITS block's
    // best even with other numeric fields in between
    assert(Bench.priorBandBests(dir.getPath) ==
      Map("150m" -> 51.2, "1g" -> 101.4))
    // a malformed latest file degrades to the disabled rule, not a crash
    write("BAND_r19.json", "{ not json at all")
    assert(Bench.priorBandBests(dir.getPath).isEmpty)
    // r20 (advisor r19): a leg whose OWN object omits best_mb_per_s
    // drops that leg — the scan is scoped to the leg's braces and must
    // never capture the NEXT leg's value through a cross-object match
    write("BAND_r20.json",
      """{"gedcom_legs":{
        |"gedcom_150m":{"mbs_passes_per_bench_pass":[[19.8,51.2]]},
        |"gedcom_1g":{"best_mb_per_s": 88.8}}}""".stripMargin)
    assert(Bench.priorBandBests(dir.getPath) == Map("1g" -> 88.8))
    new java.io.File(dir, "BAND_r20.json").delete()
  }

  test("bench JSON carries loadavg and fits the driver's 2 KB stdout tail") {
    val ok = Bench.renderJson(Seq("a" -> 1.5), "sf")
    assert(ok.contains("\"loadavg\":"), ok)
    // BENCH_r07/r08 went "parsed":null because ~93 full-precision doubles
    // pushed the one line past the captured tail; the registry-sized
    // render must stay comfortably under it
    // model the worst leg shape (r15 directive 1 + r17 directive 4):
    // both legs at three 3-digit-MB/s passes PLUS the rerun-rule fourth
    // pass, each pass with its loadavg snapshot
    val worstLegs = Seq(
      "gedcom_150m" -> Vector(131.9, 142.7, 155.3, 140.0),
      "gedcom_1g" -> Vector(152.9, 166.4, 182.5, 170.1))
    val worstLoads = Seq(
      "gedcom_150m" -> Vector(13.2, 11.7, 9.4, 3.1),
      "gedcom_1g" -> Vector(12.9, 10.4, 8.5, 2.7))
    val full = Bench.renderJson(
      SparkEntry.all.map(q => q.name -> 12.345678901234567),
      "/root/testdata/sf0.1", Some(41.96), Some(139.7), worstLegs, worstLoads)
    // tenths since r17 (directive 2): the in-record 1.5x-rule check is
    // now exact to +-1%; loads since r18 (directive 4): a contended leg
    // identifies itself
    assert(full.contains("\"gedcom_150m_passes\":[131.9,142.7,155.3,140.0]"), full)
    assert(full.contains("\"gedcom_150m_load\":[13.2,11.7,9.4,3.1]"), full)
    // r18 structural change (r17 directive 5, landed with query 179):
    // the COMPOUND worst case — EVERY query 3-digit decisec AND both
    // legs on four passes with loads — no longer drops the per-query
    // data. The map compacts to the registry-order decisecond value
    // array ("queries":{"n":N,"v":[...]}); names live under the same
    // ordering in bench-detail.json. The omission marker remains only
    // as the final fallback (overflow case below).
    assert(full.length <= 1990, s"compound worst case ${full.length} bytes")
    assert(full.contains("\"q01\":123") ||
      (full.contains("\"queries\":{\"n\":") && full.contains("123")),
      s"compound worst case must carry real per-query values: $full")
    assert(full.contains("\"gedcom_1g_passes\":") && full.contains("\"value\":"), full)
    // the directive's acceptance shape: the compound model must stay
    // green at 190+ hypothetical queries (the wall the r17 line was
    // budgeted against)
    val hypothetical = (1 to 195).map(i => f"q$i%03d_x" -> 12.3)
    val big = Bench.renderJson(hypothetical, "/root/testdata/sf0.1",
      Some(41.96), Some(139.7), worstLegs, worstLoads)
    assert(big.length <= 1990 && big.contains("\"n\":195") &&
      big.contains("\"v\":[123,123"),
      s"195-query compound case (${big.length} bytes) must compact, not omit: $big")
    // the DEGRADED-HOST regime that actually occurs (r13/r16 artifacts:
    // every query 1-10 s) must still ship real per-query values —
    // map if it fits, compact array past the wall
    val degraded = Bench.renderJson(
      SparkEntry.all.map(q => q.name -> 9.9),
      "/root/testdata/sf0.1", Some(41.96), Some(139.7), worstLegs, worstLoads)
    assert(degraded.length <= 1990 &&
      (degraded.contains("\"q01\":99") || degraded.contains("\"v\":[99,99")),
      s"degraded-host case (${degraded.length} bytes) must carry real values")
    // final fallback: a registry so large even the value array overflows
    val overflow = Bench.renderJson(
      (1 to 900).map(i => f"q$i%03d_x" -> 12.3), "sf", Some(41.96),
      Some(139.7), worstLegs, worstLoads)
    assert(overflow.length < 800 && overflow.contains("\"queries\":{\"omitted\":900}")
      && overflow.contains("\"gedcom_1g_passes\":"),
      s"overflow must degrade to the omission marker: $overflow")
    // the realistic (quiet-host) line must keep shipping the NAMED map
    // with growth headroom — the compact array is a degradation, not the
    // default: cross-round per-query comparisons read the named map
    val realistic = Bench.renderJson(
      SparkEntry.all.map(q => q.name -> 0.87),
      "/root/testdata/sf0.1", Some(41.96), Some(139.7), worstLegs, worstLoads)
    assert(realistic.length <= 1990 && realistic.contains("\"q01\":9"),
      s"realistic bench line (${realistic.length} bytes) must keep the named map")
    // the short bench keys (qNN prefix) must stay unique or the JSON map
    // silently drops measurements
    val shorts = SparkEntry.all.map(_.name.takeWhile(_ != '_'))
    assert(shorts.distinct.size == shorts.size,
      shorts.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.mkString(","))
  }
}
