package graft.gedcom

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Dataset-level wiring of parse -> assemble -> flatten into the property
  * graph (nodes + edges + diagnostics), the Spark analog of the reference's
  * streaming CsvWriter stage (SURVEY §3.2).
  *
  * Text input ([[fromTextRdd]]) is one pass with no shuffle: each split
  * assembles the records it holds, and the driver stitches the records
  * that straddle split boundaries. The same pass folds a [[SplitStats]]
  * summary (per-tag column union, row counts, diagnostics), so the CSV
  * sink and the CLI need no further scan. Pre-parsed lines ([[fromLines]])
  * take one hash shuffle on recordNo and fold nothing. Per-record work is
  * bounded by record size either way.
  */
object GedcomGraph {

  final case class Graph(
      flat: DataFrame,    // one row per record, pinned; everything below derives from it
      nodes: DataFrame,   // recordNo, rawTag, label, props(map)
      edges: DataFrame,   // src, dst, relType, rawTag
      skipped: DataFrame, // recordNo, rawTag
      unusedTags: DataFrame,      // tag (distinct)
      missingTemples: DataFrame,  // code (distinct)
      // folded by the text fast path's parse pass; None (the shuffle path)
      // means every figure in it has to be scanned from the frames above
      summary: Option[SplitStats],
      lease: graft.Lease) {

    /** Closes `lease`, freeing the RDD-level row pin behind `flat` (and so
      * behind every frame above), which clearCache cannot reach; on a
      * graph built on `graft.Caches` this ends the whole query scope.
      * Long-lived callers MUST free each batch's graph, by this or by
      * building it on a lease they close (the streaming ingest does). */
    def release(): Unit = lease.close()
  }

  /** General path for pre-parsed line Datasets: one hash shuffle on
    * recordNo + one Tungsten sort per partition, then streaming assembly
    * over contiguous ordered groups. The row pin goes to `lease`. */
  def fromLines(lines: Dataset[GedLine],
      lease: graft.Lease = new graft.Lease): Graph = {
    val spark = lines.sparkSession
    import spark.implicits._
    val flat = lines
      .repartition(col("recordNo"))
      .sortWithinPartitions(col("recordNo"), col("lineNo"))
      .mapPartitions { it =>
        new Iterator[RecordAssembler.FlatRecord] {
          private val buf = it.buffered
          override def hasNext: Boolean = buf.hasNext
          override def next(): RecordAssembler.FlatRecord = {
            val recNo = buf.head.recordNo
            val group = new scala.collection.mutable.ArrayBuffer[GedLine]()
            while (buf.hasNext && buf.head.recordNo == recNo) group += buf.next()
            RecordAssembler.flatten(recNo, RecordAssembler.assemble(group.iterator))
          }
        }
      }
    fromFlat(lease.pin(flat.toDF())._1, lease, None)
  }

  /** Above this split count the stitch path's driver state stops being
    * negligible — each split parks up to one record of boundary lines on
    * the driver, so a literal 100 TB text input (~800k x 128 MB splits)
    * could park GBs. 2^16 splits (~8 TB at 128 MB splits) caps the
    * fragment memory at a comfortable bound; past it the shuffle path is
    * the right plan anyway (its one shuffle amortizes better the bigger
    * the input). */
  val MAX_STITCH_SPLITS: Int = 1 << 16

  /** Fast path for text input — zero shuffle, ONE pass over the text.
    *
    * GEDCOM records are contiguous runs of lines, so grouping them never
    * needs a cluster-wide shuffle: each input split assembles the records
    * it fully contains in one local pass, and only the split-boundary
    * fragments (the lines before a split's first level-0 line and from its
    * last level-0 line to the end — at most one record each) travel to the
    * driver to be stitched. The fragments ride back on a partition-keyed
    * accumulator populated by the SAME pass that assembles the contained
    * records (keying by partition index makes retried/speculated tasks
    * idempotent), so the whole parse is one scan — replacing the
    * parse->persist->count->assign->shuffle->sort chain; at 100 TB that
    * removes both the full-data shuffle and the second read.
    *
    * Inputs wider than `maxStitchSplits` fall back to [[fromLines]] (the
    * shuffle path) so driver fragment memory stays bounded; GedcomProps
    * proves the two paths produce identical graphs. The row pin goes to
    * `lease`; a registered query passes `graft.Caches`.
    */
  def fromTextRdd(spark: SparkSession, raw: RDD[String],
      maxStitchSplits: Int = MAX_STITCH_SPLITS,
      lease: graft.Lease = new graft.Lease): Graph = {
    import spark.implicits._
    if (raw.getNumPartitions > maxStitchSplits)
      return fromLines(GedcomParser.fromLineRdd(spark, raw), lease)
    val acc = new BoundsAccumulator
    spark.sparkContext.register(acc, "gedcomBounds")
    // hot path: InternalRows built by hand — the reflective product encoder
    // (ExternalMapToCatalyst per props entry + nested serializers) measured
    // ~2.7 s of pure overhead on the 150 MB bench vs ~0 for direct rows.
    // One UnsafeProjection per partition compacts them so the downstream
    // checkpoint pins flat byte rows, not boxed object graphs.
    val schema = flatSchema
    val unsafeRows = containedRecords(raw, acc).mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      // prop keys / tags / labels / relTypes repeat across nearly every
      // record (bounded vocabulary) — intern their UTF8 encodings per
      // partition instead of re-encoding ~12 of them per record. Sharing
      // is safe: the projection copies bytes into each row's buffer.
      val interned = new java.util.HashMap[String, UTF8String]()
      val intern: String => UTF8String = { s =>
        var v = interned.get(s)
        if (v == null) { v = UTF8String.fromString(s); interned.put(s, v) }
        v
      }
      it.map(r => proj(toInternal(r, intern)).copy(): InternalRow)
    }
    // pin the rows at the RDD level: raw UnsafeRow blocks, NOT the
    // columnar cache, which would re-encode every props map and edge
    // array into column builders (measured ~6 s of the 150 MB bench) for
    // zero pruning benefit — every consumer reads the map columns whole
    val (containedDF, pinnedRdd) = lease.pin(unsafeRows, schema, spark)
    // EAGER materialization = the one real job over the text; afterwards
    // the accumulator holds every split's boundary fragments for the stitch
    pinnedRdd.count()
    val bounds = acc.value
    require(bounds.size == raw.getNumPartitions,
      s"boundary accumulator saw ${bounds.size} of ${raw.getNumPartitions} splits")
    val boundaryFlat = stitchBounds(bounds)
    val stats = (bounds.values.map(_.stats) ++ Seq(SplitStats.of(boundaryFlat)))
      .reduce(SplitStats.merge)
    // union of pinned blocks + a driver-local handful needs no re-pinning
    fromFlat(containedDF.unionByName(spark.createDataset(boundaryFlat).toDF()),
      lease, Some(stats))
  }

  /** Schema of the flat frame — taken from the case-class encoder so the
    * hand-built rows and the (tiny) encoder-built boundary frame agree. */
  private lazy val flatSchema = Encoders.product[RecordAssembler.FlatRecord].schema

  /** FlatRecord -> InternalRow. `intern` encodes a string drawn from a
    * bounded vocabulary (keys/tags/labels/relTypes); free-form values use
    * a fresh encode. */
  private def toInternal(
      r: RecordAssembler.FlatRecord,
      intern: String => UTF8String): InternalRow = {
    val n = r.props.size
    val ks = new Array[Any](n)
    val vs = new Array[Any](n)
    var i = 0
    r.props.foreach { case (k, v) =>
      ks(i) = intern(k); vs(i) = UTF8String.fromString(v); i += 1
    }
    val es = new Array[Any](r.edges.size)
    i = 0
    r.edges.foreach { e =>
      es(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.src), UTF8String.fromString(e.dst),
        intern(e.relType), intern(e.rawTag)))
      i += 1
    }
    def sarr(xs: Seq[String]): GenericArrayData =
      new GenericArrayData(xs.iterator.map(intern(_): Any).toArray)
    new GenericInternalRow(Array[Any](
      r.recordNo, intern(r.rawTag), intern(r.label),
      r.skipped,
      new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs)),
      new GenericArrayData(es), sarr(r.unusedTags), sarr(r.missingTemples)))
  }

  /** Per-split output summary, folded while the records stream by: node
    * prop-key union per raw tag (drives the CSV sink's schemas), node, edge
    * and skipped-record counts, and the distinct unused tags and missing
    * temple codes (the CLI's diagnostics) — all deterministic functions of
    * the split, so last-wins-per-pi accumulation stays retry-safe. Each
    * field equals the matching scan of the [[Graph]] frames. */
  final case class SplitStats(
      keysByTag: Map[String, Set[String]], nodes: Long, edges: Long,
      skipped: Long, unusedTags: Set[String], missingTemples: Set[String]) {
    def add(r: RecordAssembler.FlatRecord): SplitStats = {
      val isNode = !r.skipped && r.props.nonEmpty
      SplitStats(
        if (isNode)
          keysByTag.updated(r.rawTag,
            keysByTag.getOrElse(r.rawTag, Set.empty) ++ r.props.keysIterator)
        else keysByTag,
        nodes + (if (isNode) 1 else 0),
        edges + r.edges.size,
        skipped + (if (r.skipped) 1 else 0),
        unusedTags ++ r.unusedTags,
        missingTemples ++ r.missingTemples)
    }
  }
  object SplitStats {
    val empty: SplitStats = SplitStats(Map.empty, 0L, 0L, 0L, Set.empty, Set.empty)
    def of(rs: Iterable[RecordAssembler.FlatRecord]): SplitStats =
      rs.foldLeft(empty)(_.add(_))
    def merge(a: SplitStats, b: SplitStats): SplitStats = SplitStats(
      b.keysByTag.foldLeft(a.keysByTag) { case (m, (t, ks)) =>
        m.updated(t, m.getOrElse(t, Set.empty) ++ ks)
      },
      a.nodes + b.nodes, a.edges + b.edges, a.skipped + b.skipped,
      a.unusedTags ++ b.unusedTags, a.missingTemples ++ b.missingTemples)
  }

  /** A split's boundary fragments: the lines before its first level-0 line
    * and from its last level-0 line to the end (at most one record each). */
  private[gedcom] final case class Bound(
      pi: Int, prefix: Seq[GedLine], suffix: Seq[GedLine], hasLevel0: Boolean,
      stats: SplitStats = SplitStats.empty)

  /** Partition-index-keyed accumulator: `add` is last-wins per split, so a
    * retried or speculated task (which re-derives the identical Bound from
    * the identical split) cannot double-count. */
  private[gedcom] final class BoundsAccumulator
      extends org.apache.spark.util.AccumulatorV2[Bound, Map[Int, Bound]] {
    private val m = scala.collection.mutable.Map.empty[Int, Bound]
    override def isZero: Boolean = m.isEmpty
    override def copy(): BoundsAccumulator = {
      val c = new BoundsAccumulator; c.m ++= m; c
    }
    override def reset(): Unit = m.clear()
    override def add(b: Bound): Unit = m(b.pi) = b
    override def merge(o: org.apache.spark.util.AccumulatorV2[Bound, Map[Int, Bound]]): Unit =
      m ++= o.asInstanceOf[BoundsAccumulator].m
    override def value: Map[Int, Bound] = m.toMap
  }

  /** The single parse pass: assembles every record fully contained in its
    * split and reports the split's boundary fragments through `acc` when
    * the iterator exhausts. */
  private[gedcom] def containedRecords(
      raw: RDD[String], acc: BoundsAccumulator): RDD[RecordAssembler.FlatRecord] =
    raw.mapPartitionsWithIndex { (pi, it) =>
      new Iterator[RecordAssembler.FlatRecord] {
        private var j = 0L
        private val lines = it.flatMap { s =>
          val l = GedcomParser.parseLine(s, (pi.toLong << 40) | j); j += 1; l
        }.buffered
        // capture this split's prefix fragment (stitched on the driver)
        private val prefix = scala.collection.mutable.ArrayBuffer.empty[GedLine]
        locally {
          while (lines.hasNext && lines.head.level != 0) prefix += lines.next()
        }
        private val seen0 = lines.hasNext
        private var group = scala.collection.mutable.ArrayBuffer.empty[GedLine]
        private var pending: Option[RecordAssembler.FlatRecord] = None
        private var recIdx = 0L
        private var reported = false
        private var stats = SplitStats.empty
        private def advance(): Unit = {
          while (pending.isEmpty && lines.hasNext) {
            val l = lines.next()
            if (l.level == 0 && group.nonEmpty) {
              recIdx += 1
              val rec = RecordAssembler.flatten((pi.toLong << 40) | recIdx,
                RecordAssembler.assemble(group.iterator))
              stats = stats.add(rec)
              pending = Some(rec)
              group = scala.collection.mutable.ArrayBuffer(l)
            } else group += l
          }
          // at exhaustion the trailing group is this split's suffix
          // fragment — report fragments + folded stats exactly once
          if (pending.isEmpty && !lines.hasNext && !reported) {
            reported = true
            acc.add(Bound(pi, prefix.toSeq, group.toSeq, seen0, stats))
          }
        }
        override def hasNext: Boolean = { advance(); pending.nonEmpty }
        override def next(): RecordAssembler.FlatRecord = {
          advance(); val r = pending.get; pending = None; r
        }
      }
    }

  /** Driver-side stitch of boundary records (at most one per split edge). */
  private def stitchBounds(bounds: Map[Int, Bound]): Seq[RecordAssembler.FlatRecord] = {
    val stitched = scala.collection.mutable.ArrayBuffer.empty[Seq[GedLine]]
    var current = scala.collection.mutable.ArrayBuffer.empty[GedLine]
    bounds.values.toSeq.sortBy(_.pi).foreach { b =>
      current ++= b.prefix
      if (b.hasLevel0) {
        if (current.nonEmpty) stitched += current.toSeq
        current = scala.collection.mutable.ArrayBuffer(b.suffix: _*)
      }
    }
    if (current.nonEmpty) stitched += current.toSeq
    stitched.toSeq
      .filter(_.head.level == 0) // a non-record head is pre-file junk
      .zipWithIndex.map { case (g, i) =>
        RecordAssembler.flatten(-(i + 1L), RecordAssembler.assemble(g.iterator))
      }
  }

  /** Derived outputs — pure Column algebra over the pinned row frame, so
    * no pass deserializes the per-record maps back into JVM objects (a
    * typed-lambda version spent most of its runtime doing exactly that).
    * `flat` reads blocks `lease` holds. */
  private def fromFlat(flat: DataFrame, lease: graft.Lease,
      summary: Option[SplitStats]): Graph = {
    val nodes = flat
      .filter(!col("skipped") && size(map_keys(col("props"))) > 0)
      .select(col("recordNo"), col("rawTag"), col("label"), col("props"))

    val edges = flat
      .select(explode(col("edges")).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.relType"), col("e.rawTag"))

    val skipped = flat.filter(col("skipped")).select(col("recordNo"), col("rawTag"))

    val unusedTags = flat.select(explode(col("unusedTags")).as("tag")).distinct()
    val missingTemples = flat.select(explode(col("missingTemples")).as("code")).distinct()

    Graph(flat, nodes, edges, skipped, unusedTags, missingTemples,
      summary, lease)
  }

  def fromFile(spark: SparkSession, path: String,
      lease: graft.Lease = new graft.Lease): Graph = {
    val minParts = spark.sparkContext.defaultParallelism * 2
    fromTextRdd(spark, spark.sparkContext.textFile(path, minParts), lease = lease)
  }

  /** Wide, directly queryable table for one record type: the union of the
    * tag's flattened property keys as real columns (same layout as the
    * CSV sink's output, but as a DataFrame — callers can filter/join/agg
    * the property graph without going through Neo4j at all).
    *
    * `typedDates = true` (opt-in; default is exact raw parity) additionally
    * emits, directly after each date-grammar column K, a parsed
    * `K:date` (`DateType`) and `K Qualifier` column — the reference's own
    * TODO (README.md:55 "Convert dates to more useful format"). The raw
    * string columns are untouched in both modes. */
  def nodesWide(graph: Graph, rawTag: String,
      typedDates: Boolean = false): DataFrame = {
    val forTag = graph.nodes.filter(col("rawTag") === rawTag)
    val keys = forTag
      .select(explode(map_keys(col("props"))).as("k"))
      .distinct().collect().map(_.getString(0)).toSet
    forTag.select(
      CsvSink.typedNodeColumns(keys, typedDates): _*)
  }
}
