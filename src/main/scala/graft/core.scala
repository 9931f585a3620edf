package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered engine query.
  *
  * @param name   stable key; used by the driver's correctness + bench gates
  * @param fn     (session, sfDir) => result DataFrame. Column names MUST match
  *               the oracle's aliases exactly (driver sorts columns by name
  *               before hashing values).
  * @param oracle equivalent DuckDB-runnable SQL over the same parquet tables
  *               (table names resolve to `<sfDir>/<name>.parquet`). None for
  *               ops that aren't SQL-expressible => driver does rows-only check.
  * @param doc    what this exercises (ties back to SURVEY.md §2).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Parquet table loaders for the driver testdata star schema (TESTDATA.md). */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across testdata vintages, so the read is
    * schema-adaptive:
    *   - NANOS: Spark rejects it by default; read as raw long nanos
    *     (legacy conf) and floor-convert via integer `div` (a double
    *     division would lose bits above 2^53) — identical to DuckDB's
    *     ns->us cast semantics.
    *   - MICROS (no tz): Spark reads TIMESTAMP_NTZ natively; cast to the
    *     session-tz timestamp. Session tz is pinned to UTC everywhere, so
    *     the cast is a no-op on the instant and matches the DuckDB oracle.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType            => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                   => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** File bytes per spread partition: [[documentsSpread]] 64 KB,
    * [[lineitemSpread]] 1 MB. */
  private val DocSpreadBytes = 1L << 16
  private val LineitemSpreadBytes = 1L << 20

  /** [[documents]] spread for heavy fused scan work — OPT-IN per call
    * site (tokenize/shingle/signature pipelines), not the default:
    * consumers whose per-row work is light (q158's map-side
    * canonicalization, fixture generators) would pay the exchange for
    * nothing, and several pin their exchange counts. */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "documents", "doc_id", DocSpreadBytes)

  /** [[lineitem]] spread for the graph-prelude pair generators — OPT-IN
    * per call site, same gate as [[documentsSpread]]. The co-purchase /
    * trade-graph preludes join lineitem on `l_orderkey` (self-join or
    * orders⋈lineitem) and explode each order's item set into C(L,2)
    * pairs; fused onto a one-row-group scan, that explosion plus the
    * symmetrize and the distinct/agg partials run on the scan's 1–3
    * tasks (measured q122: 3.1 CPU-s serialized in one 3-task stage).
    * Spreading by the JOIN key means the exchange is not even extra
    * work at scale reasoning: the self-join reuses the hash layout on
    * both sides. Relational consumers keep the bare scan (their fused
    * work is cheap arithmetic; several pin exchange counts). */
  def lineitemSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "lineitem", "l_orderkey", LineitemSpreadBytes)

  /** Spread a small single-file scan across the session parallelism before
    * expensive per-row work. The driver testdata ships each table as ONE
    * parquet row group, so a scan produces at most one non-empty task no
    * matter the split size — and every expression fused onto the scan
    * (tokenizer, signature hash draws, shingles, vector math) runs
    * single-threaded. Guide §2.5's unsplittable-input remedy: repartition
    * immediately after the read. Applied to documents only — the table
    * whose scan fuses the tokenizer/shingle/signature work that dominates
    * the text family (measured at 8 cores, best-of-3 wall: q36 3.44→2.37,
    * q65 2.61→1.37, q37 1.41→1.08). NOT applied to embeddings: the IVF-PQ
    * ADC scan (q86) builds its per-partition ADC lookup tables and top-k
    * partials once per input partition, so spreading multiplied its CPU
    * ~10x (1.5→17.5 CPU-s) and doubled 8-core wall (2.55→5.19); the
    * vector queries' per-row scan work is SIMD-cheap relative to that
    * fixed per-partition cost. Relational tables keep their bare scans —
    * their fused work is cheap arithmetic and many of their consumers pin
    * exchange counts.
    *
    * Scale-gated, not a local[32] constant: fires only when the file is
    * too small to fill the session parallelism at the configured split
    * size (bytes < shuffle.partitions x maxPartitionBytes) — a
    * production-sized table splits naturally and pays nothing. The
    * repartition hashes the row key: deterministic under task retry
    * (guide §2.5's rand() repartition warning) and, unlike keyless
    * round-robin, no sort-before-repartition pass. Filters and column
    * pruning push through a RepartitionByExpression, so scans keep their
    * PushedFilters/ReadSchema.
    *
    * The partition COUNT is derived from the data, not the core count
    * (r20 verdict item 2): ceil(fileBytes / chunk) capped at
    * shuffle.partitions, where `chunk` (per table: file bytes per spread
    * partition, sized to the table's fused per-row work) keeps per-task
    * fixed costs (sort/hash init, shuffle segment setup, codegen entry)
    * amortized over real work. The previous
    * n = shuffle.partitions fanned a 0.6 MB documents file over 32 tasks
    * at 32 cores: the driver's 8-vs-32-core scaling block read the cost
    * directly (spread queries ran FASTER at 8 cores — q65 0.39, q141-143
    * ~0.36, q120 0.29), because n tracked the core count while the work
    * didn't. A data-derived n is the same at every core count, so the
    * measurement follows the data. */
  private def spread(s: SparkSession, d: String, name: String,
      key: String, chunk: Long): DataFrame = {
    val df = table(s, d, name)
    val bytes =
      try java.nio.file.Files.size(java.nio.file.Paths.get(s"$d/$name.parquet"))
      catch { case _: Exception => Long.MaxValue }
    val maxN = s.conf.get("spark.sql.shuffle.partitions").toInt
    // byteStringAsBytes, not filter(_.isDigit): a "128MB"-suffixed conf
    // parsed as 128 BYTES silently disabled the spread (r20 verdict item)
    val split =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        s.conf.get("spark.sql.files.maxPartitionBytes"))
      catch { case _: Exception => 128L * 1024 * 1024 }
    if (bytes >= maxN.toLong * split) df // production file: splits naturally
    else {
      val n = math.max(1L, math.min(maxN.toLong,
        (bytes + chunk - 1L) / chunk)).toInt
      if (n <= 1) df else df.repartition(n, col(key))
    }
  }
}

/** Exact-money arithmetic shared by Spark queries and their DuckDB oracles.
  *
  * All money/ratio columns in the testdata are 2-decimal values stored as
  * doubles. Summing doubles is order-dependent (Spark partial aggregation vs
  * DuckDB's scan order differ in low-order bits), which would break the
  * driver's hash compare. Instead we convert to integer cents
  * (`round(x*100)` is within 1e-9 of an integer for every row, so both
  * engines agree), sum exactly as BIGINT, and divide once at the end — a
  * fully deterministic double in both engines. This is also the faster plan
  * at scale: integer sum aggregation, no decimal overhead.
  */
object Money {
  /** Integer cents of a 2-decimal double column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact, order-independent sum of a 2-decimal double column, as double. */
  def sum2(c: Column): Column = (sum(cents(c)) / 100.0)

  /** Exact average of a 2-decimal double column, as double. */
  def avg2(c: Column): Column = sum(cents(c)) / 100.0 / count(lit(1))

  /** Exact sum of price*(1-discount): cents * (100 - disc%) summed as
    * BIGINT, scaled back by 1e4. */
  def sumDiscounted(price: Column, disc: Column): Column =
    sum(cents(price) * (lit(100L) - cents(disc))) / 10000.0

  // The same expressions in DuckDB SQL, for oracle authoring:
  def sqlCents(e: String): String = s"cast(round(($e)*100) as bigint)"
  def sqlSum2(e: String): String = s"sum(${sqlCents(e)})/100.0"
  def sqlAvg2(e: String): String = s"sum(${sqlCents(e)})/100.0/count(*)"
  def sqlSumDiscounted(p: String, d: String): String =
    s"sum(${sqlCents(p)} * (100 - ${sqlCents(d)}))/10000.0"
}
