package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every module's [[QueryDef]] registry into the
  * `queries`/`oracleSql` maps the driver's Verify/Bench harness consumes.
  */
object SparkEntry {

  /** Every registered query, in registration order. */
  def all: Seq[QueryDef] =
    operators.Relational.defs ++
      operators.Aggregates.defs ++
      operators.Advanced.defs ++
      operators.Windows.defs ++
      functions.Functions.defs ++
      operators.Temporal.defs ++
      operators.Quality.defs ++
      operators.Cdc.defs ++
      functions.TextAnalysis.defs ++
      functions.Dedup.defs ++
      functions.Similarity.defs ++
      functions.Search.defs ++
      functions.Fuzzy.defs ++
      functions.Privacy.defs ++
      functions.Multimodal.defs ++
      functions.Tokenizer.defs ++
      functions.LanguageModel.defs ++
      functions.Web.defs ++
      functions.Normalize.defs ++
      functions.Robots.defs ++
      functions.Batching.defs ++
      functions.Winnowing.defs ++
      functions.Mixture.defs ++
      operators.Skyline.defs ++
      sources.Layout.defs ++
      sources.Warc.defs ++
      sources.Jsonl.defs ++
      sources.Sitemap.defs ++
      gedcom.GedcomQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * revenue by region through the broadcast dim chain. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_join_broadcast")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql.stripMargin.trim)).toMap

  /** One pass of the query or aux table `name`, by the rule every harness
    * keeps: q147's trainer pays its fit each pass, so its memo is cleared
    * first, and the SQL cache and the query-scope lease are released in a
    * `finally`, so a pass that throws leaves no pin behind. */
  def pass[T](spark: SparkSession, name: String)(body: => T): T = {
    if (name == "q147_bpe_train") functions.Tokenizer.clearMemo()
    try body finally { spark.catalog.clearCache(); Caches.release() }
  }

  /** Oracle-support tables: deterministically-trained artifacts (Lloyd
    * codebooks) that are out of single-statement SQL reach. Verify dumps
    * each beside the query results and substitutes the
    * [[functions.Similarity.AUXDIR]] placeholder in oracle SQL with the
    * dump dir, so the q67/q86/q79 oracles replay assignment + scoring
    * against the exact codebooks the engine trained. */
  def auxTables: Map[String, (SparkSession, String) => DataFrame] =
    functions.Similarity.auxDefs ++ functions.Dedup.auxDefs ++
      functions.Normalize.auxDefs
}
