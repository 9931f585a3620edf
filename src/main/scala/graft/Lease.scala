package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.filter.{AbstractFilter, CompositeFilter}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Owner of pinned blocks: raw-row pins, SQL-cached frames, eager local
  * checkpoints and persisted RDDs all register here, and [[close]] frees
  * them (non-blocking). [[Lease.scoped]] closes in a `finally`, so a
  * throw frees every block pinned so far; [[Caches]] is the query-scope
  * lease; a `GedcomGraph.Graph` owns one. The only file of `src/main`
  * that calls Spark's persistence methods (LeaseSpec scans for others). */
class Lease extends AutoCloseable {
  private val rdds = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]
  private val frames = scala.collection.mutable.LinkedHashSet.empty[DataFrame]

  /** Persist `rdd` (MEMORY_AND_DISK) for the life of the lease. */
  def hold[T](rdd: RDD[T]): RDD[T] =
    synchronized { rdds += rdd; rdd.persist(StorageLevel.MEMORY_AND_DISK) }

  /** Pin a frame's rows and rebuild it lineage-free — what every graph
    * loop does with a frame its rounds reference many times, each lazy
    * reference otherwise re-executing the whole upstream subtree. Rows
    * must be copied (toRdd reuses per-partition buffers) before
    * persisting. The RDD localCheckpoint truncates PHYSICAL lineage at
    * first materialization, so a lost block late in an iterative loop
    * cannot cascade recomputation through every earlier round; the
    * rebuilt frame is a LogicalRDD, so its logical plan never grows
    * either (cache() alone leaves the plan whole). Lazy: the first action
    * over the returned RDD or frame fills the blocks.
    *
    * `probe` labels the pinned subtree for [[PlanProbe]]: prelude plans
    * execute inside the pin job and are invisible to an explain of the
    * returned LogicalRDD. */
  def pin(df: DataFrame, probe: String = null): (DataFrame, RDD[InternalRow]) = {
    if (probe != null) PlanProbe.emit(probe, df)
    pin(df.queryExecution.toRdd.map(_.copy()), df.schema, df.sparkSession)
  }

  /** [[pin]] for rows the caller already owns (no copy): persisted,
    * lineage-truncated and wrapped as a frame of `schema`. */
  def pin(rows: RDD[InternalRow], schema: StructType,
      spark: SparkSession): (DataFrame, RDD[InternalRow]) = {
    hold(rows).localCheckpoint()
    (GraftSqlBridge.internalCreateDataFrame(spark, rows, schema), rows)
  }

  /** Bytes per [[pinPartitioned]] partition: 64 MB, the AQE advisory
    * partition size default. */
  private val PinPartitionBytes = 1L << 26

  /** [[pin]] with the rows repartitioned by `keys` and that hash
    * distribution DECLARED on the rebuilt frame — the loop-state shape
    * (guide §2.4: operations keyed the same way share one exchange). A
    * plain pin is a LogicalRDD with UnknownPartitioning, so EVERY
    * per-round join re-exchanges (and, under SortMergeJoin, re-sorts) the
    * pinned edge set — the largest relation the loop touches, shuffled
    * once per iteration at any scale. Declaring the distribution lets
    * each round's state-onto-edges join plan with NO exchange and no
    * sort on the pinned side; only the O(V) state side moves.
    *
    * The partition count is DERIVED FROM THE MEASURED relation, not the
    * core count: the rows are first pinned plain and counted, then laid
    * out in ~[[PinPartitionBytes]] chunks capped at
    * `spark.sql.shuffle.partitions`.
    * A fixed n = cores would fan every round's fixed per-task costs
    * (sort/hash init, shuffle segment setup) across the full core count
    * even for a toy edge set — measured 2x total CPU on the sf0.1 loop
    * queries, which is exactly the wall cost at the driver's lower-core
    * scaling bench — while a huge input still gets the full parallelism.
    *
    * Truthfulness of the declaration: the rows really are distributed
    * `HashPartitioning(keys, n)` because the pin itself runs an explicit
    * `repartition(n, keys)` — a user-numbered repartition AQE never
    * coalesces or splits — immediately before capturing the rows.
    *
    * Cost: one extra pass over the pinned rows (staging pin + count +
    * repartition) — paid once, against `iters` saved per-round exchanges
    * and sorts of the same rows. NOT lazy: builds run two jobs. */
  def pinPartitioned(df: DataFrame, keys: Seq[String],
      probe: String = null): (DataFrame, RDD[InternalRow]) = {
    val spark = df.sparkSession
    val (df0, rdd0) = pin(df, probe)
    val rows = rdd0.count()
    val rowBytes = 16L + 8L * df.schema.length // UnsafeRow, fixed-width cols
    val maxN = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val n = math.max(1L, math.min(maxN,
      (rows * rowBytes + PinPartitionBytes - 1L) / PinPartitionBytes)).toInt
    val rdd = hold(df0.repartition(n, keys.map(col): _*)
      .queryExecution.toRdd.map(_.copy()))
    rdd.localCheckpoint()
    rdd.count() // materialize before releasing the staging copy
    free(rdd0)
    (GraftSqlBridge.internalCreateDataFramePartitioned(
      spark, rdd, df.schema, keys, n), rdd)
  }

  /** SQL-cache `df` (the columnar cache, `Dataset.cache`) for the life
    * of the lease. */
  def cache(df: DataFrame): DataFrame = synchronized { frames += df; df.cache() }

  /** Eager `Dataset.localCheckpoint`: one job materializes `df`, and the
    * returned frame reads the checkpointed blocks with the partitioning
    * and ordering `df`'s plan had. The blocks belong to this lease —
    * after [[close]] the returned frame can no longer be read. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    out.queryExecution.logical.collectFirst { case r: LogicalRDD => synchronized(rdds += r.rdd) }
    out
  }

  /** Free one pin before the lease closes — a loop's swap of the
    * previous round. */
  def free(rdd: RDD[_]): Unit = synchronized {
    Lease.quietCheckpointWarning()
    rdds -= rdd; rdd.unpersist(blocking = false)
  }

  /** Free one [[cache]]d frame before the lease closes. */
  def free(df: DataFrame): Unit = synchronized { frames -= df; df.unpersist(false) }

  /** Free everything held. Idempotent; the lease can hold again after. */
  def close(): Unit = synchronized {
    Lease.quietCheckpointWarning()
    rdds.foreach(_.unpersist(blocking = false))
    frames.foreach(_.unpersist(false))
    rdds.clear(); frames.clear()
  }

  /** Number of pins and cached frames held — for specs and leak checks. */
  private[graft] def liveCount: Int = synchronized(rdds.size + frames.size)
}

object Lease {
  /** Run `body` with a fresh lease and close it on the way out, thrown
    * or returned. */
  def scoped[T](body: Lease => T): T = {
    val l = new Lease
    try body(l) finally l.close()
  }

  /** Denies the WARN Spark logs on every unpersist of a locally
    * checkpointed RDD ("RDD N was locally checkpointed, its lineage has
    * been truncated and cannot be recomputed after unpersisting"): true
    * and expected for each pin a lease frees, and otherwise most of a
    * run's log. Every other event passes. */
  private object CheckpointWarning
      extends AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {
    override def filter(e: LogEvent): Filter.Result =
      if (e.getLevel == Level.WARN && e.getMessage.getFormattedMessage
          .contains("was locally checkpointed, its lineage has been truncated")) onMatch
      else onMismatch
  }
  CheckpointWarning.start()

  /** Puts [[CheckpointWarning]] on the root logger config, unless it is
    * there already; a reloaded logging config gets it again on the next
    * free. */
  private def quietCheckpointWarning(): Unit = LogManager.getContext(false) match {
    case ctx: LoggerContext =>
      val root = ctx.getConfiguration.getRootLogger
      val present = root.getFilter match {
        case c: CompositeFilter => c.getFiltersArray.contains(CheckpointWarning)
        case f => f eq CheckpointWarning
      }
      if (!present) root.addFilter(CheckpointWarning)
    case _ => // not log4j-core: nothing to configure
  }
}
