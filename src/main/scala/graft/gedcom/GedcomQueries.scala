package graft.gedcom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Driver-gate visibility for the GEDCOM pipeline (the reference's core
  * capability, index.js:64-125: parse -> flatten -> property graph):
  * registered queries that run the full pipeline over checked-in fixtures
  * and emit a deterministic (section, name, n) summary of every output
  * family — node rows per tag, flattened property-key histogram, edges per
  * relType, skipped records, unused tags, missing temple codes (q72 adds
  * pinned property VALUES and parsed dates on top).
  *
  * The oracles are the frozen expected summaries as SQL literals: the
  * fixtures are immutable, so the expected rows are reviewed constants
  * (each row is hand-checked against lib/csv_writer.js semantics — see
  * GedcomSpec, which asserts the same facts record-by-record).
  */
object GedcomQueries {

  private def materialize(resource: String): String = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"fixture $resource missing from classpath")
    val tmp = java.nio.file.Files.createTempFile("gedcom-fixture", ".ged")
    try java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.toFile.deleteOnExit()
    tmp.toString
  }

  /** Checked-in fixtures (the same ones GedcomSpec pins record-by-record),
    * shipped on the main classpath so the queries work from any launch
    * directory or packaged jar: each resource is materialized once per JVM
    * to a temp file for `sc.textFile`. */
  lazy val FixturePath: String = materialize("/m1.ged")

  /** Second fixture (q72): repeated tags, level-3 nesting, CONC chains,
    * dual-year / interpreted / ranged dates, EVEN-without-Type and a
    * pointer at depth 2 — the semantics corners m1 leaves unexercised. */
  lazy val Fixture2Path: String = materialize("/m2.ged")

  /** The six-section (section, name, n) output summary shared by q63/q72. */
  private def summarize(g: GedcomGraph.Graph): DataFrame = {
    val nodes = g.nodes.groupBy(col("rawTag"))
      .agg(count(lit(1)).as("n"))
      .select(lit("node").as("section"), col("rawTag").as("name"), col("n"))
    val keys = g.nodes
      .select(explode(map_keys(col("props"))).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .select(lit("node_key").as("section"), col("k").as("name"), col("n"))
    val edges = g.edges.groupBy(col("relType"))
      .agg(count(lit(1)).as("n"))
      .select(lit("edge").as("section"), col("relType").as("name"), col("n"))
    val skipped = g.skipped.groupBy(col("rawTag"))
      .agg(count(lit(1)).as("n"))
      .select(lit("skipped").as("section"), col("rawTag").as("name"), col("n"))
    val unused = g.unusedTags
      .select(lit("unused_tag").as("section"), col("tag").as("name"), lit(1L).as("n"))
    val missing = g.missingTemples
      .select(lit("missing_temple").as("section"), col("code").as("name"), lit(1L).as("n"))
    nodes.unionByName(keys).unionByName(edges).unionByName(skipped)
      .unionByName(unused).unionByName(missing)
  }

  /** Keys whose VALUES q72 pins (not just their presence): last-wins
    * (Occupation), CONC/CONT merge (Note), NAME split incl. the JS
    * trailing-space artifact (Given Name/Name), TEMP lookup + miss
    * (Sealing to Parents Temple), PLAC temple rewrite (Burial Place). */
  private val PinnedValueKeys = Seq(
    "Occupation", "Note", "Given Name", "Name",
    "Sealing to Parents Temple", "Burial Place")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q63_gedcom_pipeline",
      (s, _) => summarize(GedcomGraph.fromFile(s, FixturePath, graft.Caches))
        .orderBy(col("section"), col("name")),
      Some(GedcomOracle.SQL),
      "full GEDCOM parse->flatten->graph pipeline summary over the checked-in fixture"),

    QueryDef(
      "q72_gedcom_semantics",
      (s, _) => {
        val g = GedcomGraph.fromFile(s, Fixture2Path, graft.Caches)
        val kv = g.nodes.select(explode(col("props")).as(Seq("k", "v")))
        val props = kv.filter(col("k").isin(PinnedValueKeys: _*))
          .groupBy(concat(col("k"), lit("="), col("v")).as("name"))
          .agg(count(lit(1)).as("n"))
          .select(lit("prop").as("section"), col("name"), col("n"))
        val dates = GedcomDates.withParsedDate(
            kv.filter(col("k").endsWith("Date")), col("v"), "d")
          .groupBy(concat(col("k"), lit("="), col("d_qualifier"), lit(":"),
            coalesce(col("d_date").cast("string"), lit("null")), lit(":"),
            coalesce(col("d_year2").cast("string"), lit("null"))).as("name"))
          .agg(count(lit(1)).as("n"))
          .select(lit("date").as("section"), col("name"), col("n"))
        summarize(g).unionByName(props).unionByName(dates)
          .orderBy(col("section"), col("name"))
      },
      Some(GedcomOracle.SQL2),
      "GEDCOM semantics corners: repeated tags, deep nesting, CONC chains, date grammar, EVEN w/o Type, pointer at depth")
  )
}
