package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.2 streaming rows; the analog of
  * the reference's pipe-based incremental processing, index.js:77).
  *
  * Every transform takes a DataFrame that may be batch or streaming — the
  * same declarative plan runs in both modes, which is how the operators are
  * unit-tested (StreamingSpec drives them through MemoryStream + memory
  * sink) while staying deployable with file/kafka sources and checkpoints.
  *
  * Scale notes: watermarks bound the state store (late rows beyond the
  * delay are dropped); all aggregations are keyed so state partitions by
  * the shuffle key; `flatMapGroupsWithState` state is per-key constant
  * size.
  */
object StreamingOps {

  /** Schema of the events table for `readStream` (ts arrives as raw nanos
    * when reading the driver parquet — see graft.Tables.events). */
  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Tumbling-window counts/sums per event type, late data beyond 10
    * minutes dropped. Append-mode compatible (watermarked window key). */
  def tumblingCounts(events: DataFrame, size: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), size).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window distinct-ish user activity. */
  def slidingUserCounts(events: DataFrame, size: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), size, slide).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col("user_id"), col("n"))

  /** Session windows per user with an inactivity gap — the streaming form
    * of q26; state closes (and emits) once the watermark passes the gap. */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup on event_id: watermark bounds the id state. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id", "ts")

  /** Per-user purchase anomaly detector via flatMapGroupsWithState: emits
    * an alert row whenever a purchase exceeds `factor` x the user's running
    * mean purchase value. Custom keyed state = (count, sum) — constant per
    * user. */
  final case class SpendState(n: Long, sum: Double)
  final case class Alert(user_id: Long, event_id: Long, value: Double, mean_before: Double)

  def purchaseAnomalies(events: Dataset[Event], factor: Double = 3.0): Dataset[Alert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SpendState, Alert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SpendState]) =>
          var st = state.getOption.getOrElse(SpendState(0L, 0.0))
          val alerts = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val alert =
              if (st.n > 0 && e.value > factor * (st.sum / st.n))
                Some(Alert(userId, e.event_id, e.value, st.sum / st.n))
              else None
            st = SpendState(st.n + 1, st.sum + e.value)
            alert
          }
          state.update(st)
          alerts.iterator
      }
  }

  /** Streaming document input for the near-dup operator. */
  final case class DocIn(
      doc_id: Long, lang: String, source: String, text: String,
      ts: java.sql.Timestamp)
  // private[streaming], not private: the encoders' generated deserializers
  // are separate JVM classes and cannot touch a JVM-private nested type
  private[streaming] final case class BandedDoc(
      doc_id: Long, lang: String, source: String, ts: java.sql.Timestamp,
      sig: Seq[String], band: Int, bh: String)
  private[streaming] final case class SigEntry(id: Long, sig: Seq[String])
  private[streaming] final case class BucketState(entries: Seq[SigEntry])
  final case class DupPair(ia: Long, ib: Long, est_jaccard: Double)

  /** Streaming MinHash near-dup pairs — the LSH family member of the batch
    * dedup suite ([[graft.functions.Dedup.minhashPairs]] / q36), stream-
    * capable: emits (ia, ib, est_jaccard) whenever an arriving document
    * estimates Jaccard >= threshold against ANY previously seen document.
    *
    * Shape: the 32-perm signature is computed PER ROW (min over the doc's
    * own tokens needs no shuffle — unlike the batch path's explode+groupBy,
    * which would be a second stateful operator in a stream), then each doc
    * fans out to its 8 LSH band buckets and the ONLY stateful operator is
    * `flatMapGroupsWithState` keyed by (lang, source, band, band_hash):
    * state = the bucket's signatures. An arriving doc verifies against its
    * co-bucketed signatures exactly like the batch join, so the emitted
    * est values are bit-identical to q36's (StreamingSpec replays a corpus
    * and asserts set equality; a pair sharing several bands emits once per
    * band — identical rows, collapsed by distinct/upsert downstream).
    *
    * State is bounded three ways, matching the batch plan's 100 TB story:
    * buckets are scoped by (lang, source); band buckets are small by
    * construction (xxhash64 spreads non-dups); and EventTimeTimeout
    * expires buckets idle past `stateTtlMs` once the watermark passes, so
    * state tracks the active window of the corpus, not its history.
    * Docs with no tokens have no signature and never pair (batch parity:
    * their exploded token set is empty). */
  def minhashNearDups(docs: Dataset[DocIn], threshold: Double = 0.75,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600_000L): Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nPerms = graft.functions.Dedup.MINHASH_PERMS
    val toks = array_distinct(graft.functions.TextAnalysis.tokens(col("text")))
    // signature + band expressions come from Dedup so the streaming twin
    // and batch q36 cannot drift (StreamingSpec pins set equality)
    val banded = docs.toDF()
      .filter(size(toks) > 0)
      .withColumn("__mh", graft.functions.Dedup.minhashDrawsExpr(toks))
      .withColumn("sig", graft.functions.Dedup.minhashSigFromDraws(col("__mh")))
      .select(col("doc_id"), col("lang"), col("source"), col("ts"), col("sig"),
        explode(graft.functions.Dedup.minhashBandStructs(col("sig"))).as("bk"))
      .select(col("doc_id"), col("lang"), col("source"), col("ts"),
        col("sig"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      .as[BandedDoc]
    banded
      .withWatermark("ts", watermarkDelay)
      .groupByKey(d => (d.lang, d.source, d.band, d.bh))
      .flatMapGroupsWithState[BucketState, DupPair](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_, rows: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var entries = state.getOption.map(_.entries.toVector)
              .getOrElse(Vector.empty[SigEntry])
            val out = Vector.newBuilder[DupPair]
            var maxTs = 0L
            // doc_id order makes within-batch emission deterministic
            rows.toSeq.sortBy(_.doc_id).foreach { d =>
              maxTs = math.max(maxTs, d.ts.getTime)
              entries.foreach { e =>
                if (e.id != d.doc_id) {
                  val est = e.sig.iterator.zip(d.sig.iterator)
                    .count { case (a, b) => a == b }.toDouble / nPerms
                  if (est >= threshold)
                    out += DupPair(math.min(e.id, d.doc_id),
                      math.max(e.id, d.doc_id), est)
                }
              }
              entries :+= SigEntry(d.doc_id, d.sig)
            }
            state.update(BucketState(entries))
            // never set a timeout at/behind the watermark (illegal): a
            // bucket fed only near-late rows still expires ttl past NOW
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + stateTtlMs)
            out.result().iterator
          }
      }
  }

  /** Streaming incremental near-dup — q96's onboarding pattern made
    * ingest-time: arriving documents probe a STATIC corpus prefix index
    * ([[graft.functions.Dedup.prefixIndex]], the stored index a production
    * pipeline maintains) and every candidate is verified with the exact
    * Jaccard in-row. Emits (ia = index doc, ib = arriving doc, jaccard),
    * EXACT against the index (StreamingSpec asserts equality with batch
    * q96's mixed pairs on a replayed corpus).
    *
    * Two design points keep it stateless except for pair dedup:
    *   - the arriving side probes ALL its distinct tokens — a SUPERSET of
    *     any prefix — so a qualifying pair still intersects the INDEX
    *     doc's prefix (Bayardo's per-member guarantee under the index's
    *     own df order) and no df ranking, aggregation, or shared token
    *     order is needed on the stream side; extra candidates cost probe
    *     volume (bounded by the index's prefix-token df), never recall;
    *   - a pair can match through several prefix tokens, so the ONLY
    *     stateful operator is per-pair dedup, watermark-expired
    *     (`dropDuplicatesWithinWatermark`).
    * Incoming-incoming pairs are the next index refresh's business (or
    * stream-stream [[minhashNearDups]]) — splitting onboarding that way is
    * exactly what keeps the corpus-probe half stateless. At scale the
    * index is bucketed on (lang, source, word) so each micro-batch's probe
    * join co-locates; nothing here ever shuffles the corpus. */
  def incrementalNearDupProbe(docs: Dataset[DocIn], index: DataFrame,
      threshold: Double = 0.8,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val idxTok = index.select(col("doc_id").as("ia"), col("lang"),
      col("source"), col("ws").as("wsa"), explode(col("prefix")).as("word"))
    val inc = docs.toDF()
      .withColumn("wsb",
        array_distinct(graft.functions.TextAnalysis.tokens(col("text"))))
      .filter(size(col("wsb")) > 0)
      .select(col("doc_id").as("ib"), col("lang"), col("source"),
        col("ts"), col("wsb"))
    inc.withWatermark("ts", watermarkDelay)
      .select(col("ib"), col("lang"), col("source"), col("ts"), col("wsb"),
        explode(col("wsb")).as("word"))
      .join(idxTok, Seq("lang", "source", "word"))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"), col("ts"),
        size(array_intersect(col("wsa"), col("wsb"))).as("i"),
        size(col("wsa")).as("sza"), size(col("wsb")).as("szb"))
      // same rounding as the batch verify tail => bit-identical values
      .select(col("ia"), col("ib"), col("ts"),
        round(col("i") * lit(1.0) / (col("sza") + col("szb") - col("i")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicatesWithinWatermark("ia", "ib")
      .select(col("ia"), col("ib"), col("jaccard"))
  }

  /** Streaming split-leakage guard — q138's audit made ADMISSION-TIME:
    * each arriving document probes the corpus prefix index exactly like
    * [[incrementalNearDupProbe]], and a near-dup match whose md5 split
    * coin DIFFERS from the arriving doc's is flagged BEFORE the doc ever
    * lands in a training shard (the batch audit finds leakage after the
    * fact; this stops it at the door). Pure stateless composition over
    * the probe: the split is the q70 coin — content-stable, so the stream
    * and the batch audit agree on every assignment — and the crossing
    * filter adds no state. Emits (ia, ib, jaccard, split_a, split_b);
    * StreamingSpec pins replay parity with the batch q138 relation
    * restricted to incoming-involving pairs. */
  def splitLeakageGuard(docs: Dataset[DocIn], index: DataFrame,
      threshold: Double = 0.8,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val coin = graft.functions.TextAnalysis.splitCoin _
    incrementalNearDupProbe(docs, index, threshold, watermarkDelay)
      .select(col("ia"), col("ib"), col("jaccard"),
        coin(col("ia")).as("split_a"), coin(col("ib")).as("split_b"))
      .filter(col("split_a") =!= col("split_b"))
  }

  /** An arriving embedding row: id, float-widened vector, event time. */
  final case class VecIn(vec_id: Long, v: Seq[Double], ts: java.sql.Timestamp)

  /** Streaming incremental embedding near-dup — q98's onboarding pattern
    * made ingest-time, the hyperplane-code mirror of
    * [[incrementalNearDupProbe]]: arriving vectors probe a STATIC corpus
    * code index ([[graft.functions.Dedup.lshCodeIndex]], the stored index
    * a production pipeline maintains), candidates come from the (table,
    * code) equi join over the probe ring, and every candidate is verified
    * with the exact cosine in-row — the index rows carry the vector and
    * norm, so verification needs no second join. Emits (ia, ib, cos)
    * pairs with the same rounding as the batch verify tail; the ONLY
    * stateful operator is watermark-expired per-pair dedup (a pair can
    * match through several tables/masks). Output is identical to the
    * batch [[graft.functions.Dedup.probeLshIndex]] over the same index
    * (StreamingSpec replays a corpus and asserts set equality).
    *
    * `p` must be the plane count the index was coded with. Incoming-
    * incoming pairs are the next index refresh's business — exactly the
    * split that keeps the corpus-probe half stateless. At scale the index
    * is bucketed on (t, code) so each micro-batch's probe join
    * co-locates; nothing here ever shuffles the corpus. */
  def incrementalEmbedProbe(vecs: Dataset[VecIn], index: DataFrame, p: Int,
      threshold: Double = 0.4, radius: Int = 3, nTables: Int = 2,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.{Similarity, VectorOps}
    val r = math.min(radius, Similarity.ringBoundedRadius(p, radius))
    val idx = index.select(col("vec_id").as("xa"), col("v").as("va"),
      col("nrm").as("na"), col("t"), col("code"))
    vecs.toDF()
      .withColumn("nb", VectorOps.norm(col("v")))
      .withWatermark("ts", watermarkDelay)
      .select(col("vec_id").as("xb"), col("v").as("vb"), col("nb"), col("ts"),
        posexplode(array((0 until nTables).map(t =>
          Similarity.lshCode(col("v"), p, t)): _*)).as(Seq("t", "c0")))
      .select(col("xb"), col("vb"), col("nb"), col("ts"), col("t"),
        explode(array(Similarity.probeMasks(p, r).map(m =>
          col("c0").bitwiseXOR(lit(m))): _*)).as("code"))
      .join(idx, Seq("t", "code"))
      .filter(col("xa") =!= col("xb"))
      .select(least(col("xa"), col("xb")).as("ia"),
        greatest(col("xa"), col("xb")).as("ib"), col("ts"),
        // same rounding as the batch verify tail => bit-identical values
        round(VectorOps.cosinePre(VectorOps.dot(col("va"), col("vb")),
          col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicatesWithinWatermark("ia", "ib")
      .select(col("ia"), col("ib"), col("cos"))
  }

  final case class MediaIn(asset_id: Long, payload: Array[Byte], kind: String,
      ts: java.sql.Timestamp)

  /** Streaming image onboarding — q142's incremental discipline made
    * ingest-time, the perceptual-hash mirror of [[incrementalEmbedProbe]]:
    * arriving image payloads decode + dHash INSIDE the micro-batch
    * (map-side, no shuffle), their bands probe a STATIC corpus band index
    * ([[graft.functions.Multimodal.imageBandIndex]] — the stored index a
    * production pipeline maintains), and every candidate verifies with
    * bit_count in-row (index rows carry the full hash, so verification
    * needs no second join). Emits (ia, ib, hamming) matches, exact dups
    * included — exact for hamming <= maxHamming <= 3 by the band
    * pigeonhole. The ONLY stateful operator is watermark-expired per-pair
    * dedup (a pair can match through several bands). Incoming-incoming
    * pairs are the next index refresh's business — the split that keeps
    * the corpus-probe half stateless. At scale the index is bucketed on
    * (band, bv) so each micro-batch's probe join co-locates; nothing here
    * ever shuffles the corpus. */
  def imageOnboardProbe(assets: Dataset[MediaIn], index: DataFrame,
      maxHamming: Int = 2, watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.Multimodal
    val spark = assets.sparkSession
    import spark.implicits._
    require(maxHamming <= Multimodal.DHASH_BANDS - 1,
      s"banded candidates exact only to hamming ${Multimodal.DHASH_BANDS - 1}")
    val idx = index.select(col("asset_id").as("xa"), col("dhash").as("ha"),
      col("band"), col("bv"))
    assets.mapPartitions { rows =>
      rows.flatMap { a =>
        if (a.kind != "image") None
        else Multimodal.dhashImage(a.payload).map(h => (a.asset_id, h, a.ts))
      }
    }.toDF("xb", "hb", "ts")
      .withWatermark("ts", watermarkDelay)
      .select(col("xb"), col("hb"), col("ts"),
        explode(array((0 until Multimodal.DHASH_BANDS).map(k =>
          struct(lit(k).as("band"),
            shiftright(col("hb"), k * Multimodal.DHASH_BAND_BITS)
              .bitwiseAND((1L << Multimodal.DHASH_BAND_BITS) - 1)
              .as("bv"))): _*)).as("bk"))
      .select(col("xb"), col("hb"), col("ts"), col("bk.band"), col("bk.bv"))
      .join(idx, Seq("band", "bv"))
      .filter(col("xa") =!= col("xb"))
      .select(least(col("xa"), col("xb")).as("ia"),
        greatest(col("xa"), col("xb")).as("ib"), col("ts"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicatesWithinWatermark("ia", "ib")
      .select(col("ia"), col("ib"), col("hamming"))
  }

  final case class Admitted(lang: String, source: String, doc_id: Long, rank: Int)

  /** Streaming per-domain admission quota — the ingest-time form of
    * q102's domain cap: admit at most `k` documents per (lang, source),
    * then drop the rest of the stream for that domain. The batch query
    * picks the k smallest md5 coins; a stream cannot (it would have to
    * hold the whole domain), so the streaming contract is arrival-order
    * admission — the standard ingest quota. State per key is ONE counter
    * (the admitted count), so the store is bounded by the number of
    * domains regardless of stream length; no timeout is needed because a
    * saturated counter never grows. Within a micro-batch rows are ordered
    * by doc_id before admitting, making replays deterministic
    * (StreamingSpec pins single-batch parity with the keep-first-k-by-id
    * batch query). */
  def domainQuota(docs: Dataset[DocIn], k: Int = 25): Dataset[Admitted] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(dc => (dc.lang, dc.source))
      .flatMapGroupsWithState[Int, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((lang, source), rows, state) =>
          var n = state.getOption.getOrElse(0)
          val admit = rows.toSeq.sortBy(_.doc_id).take(k - n).map { r =>
            n += 1
            Admitted(lang, source, r.doc_id, n)
          }
          state.update(n)
          admit.iterator
      }
  }

  /** Streaming temperature-mixture admission — q151's keep decision made
    * ingest-time: `thresholds` is the TRAINED per-source table (the
    * batch q151 output, refreshed on whatever cadence re-prices the
    * mixture) broadcast against the stream, and each arriving document
    * flips the SAME "temp:" md5 coin
    * ([[graft.functions.Mixture.keptUnder]] — one shared expression, so
    * stream and batch agree on every admit). Stateless: the decision is
    * a pure map given the thresholds — no state store, no watermark,
    * nothing grows with stream length. A source absent from the trained
    * table admits open (k = 65536): new sources flow until the next
    * threshold refresh prices them. StreamingSpec pins replay parity
    * with the batch kept set. */
  def temperatureAdmission(docs: Dataset[DocIn], thresholds: DataFrame): DataFrame =
    docs.toDF()
      .join(broadcast(thresholds.select(col("source"), col("k"))),
        Seq("source"), "left")
      .withColumn("k", coalesce(col("k"), lit(65536L)))
      .filter(graft.functions.Mixture.keptUnder(col("doc_id"), col("k")))
      .select(col("doc_id"), col("source"), col("k"), col("ts"))

  final case class IndexStateOut(
      word: String, bucket: Long, n_docs: Long, tf_sum: Long, set_sig: Long)
  private[streaming] final case class PostingUpd(
      word: String, bucket: Long, tf: Long, sig: Long)
  private[streaming] final case class PostingState(
      n_docs: Long, tf_sum: Long, set_sig: Long)

  /** Streaming inverted-index maintenance — the incremental form of batch
    * q146: each arriving document's per-word tf and posting-set signature
    * draw fold into the (word, bucket) state, and the touched keys'
    * updated states emit every micro-batch (Update mode). The per-word tf
    * is computed IN-ROW over the doc's own token array (no second
    * stateful aggregate), and the signature draw is
    * [[graft.functions.TextAnalysis.postingSigDraw]] — the SAME
    * expression the batch query folds, so after any replay the last
    * emitted state per key is exactly the batch index (StreamingSpec pins
    * the equality).
    *
    * State has NO timeout: the state store IS the live index, bounded by
    * |vocab| x |buckets| — not by stream length (a production deployment
    * periodically snapshots it into the stored q100/q146 index and lets
    * the q146 merge absorb it; that merge being oracle-equal to a full
    * rebuild is the whole contract). */
  def indexMaintain(docs: Dataset[DocIn],
      bucket: Long = graft.functions.TextAnalysis.INDEX_BUCKET): Dataset[IndexStateOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = graft.functions.TextAnalysis.tokens(col("text"))
    val upds = docs.toDF()
      .select(col("doc_id"),
        graft.functions.TextAnalysis.postingSigDraw(col("doc_id")).as("sig"),
        expr(s"doc_id div $bucket").as("bucket"),
        explode(transform(array_distinct(w), t =>
          struct(t.as("word"),
            size(filter(w, x => x === t)).cast("long").as("tf")))).as("u"))
      .select(col("u.word").as("word"), col("bucket"), col("u.tf").as("tf"),
        col("sig"))
      .as[PostingUpd]
    upds
      .groupByKey(u => (u.word, u.bucket))
      .mapGroupsWithState[PostingState, IndexStateOut](
        GroupStateTimeout.NoTimeout) {
        case ((word, bkt), rows, state) =>
          val s0 = state.getOption.getOrElse(PostingState(0L, 0L, 0L))
          var n = s0.n_docs; var t = s0.tf_sum; var g = s0.set_sig
          rows.foreach { u =>
            n += 1; t += u.tf
            g = (g + u.sig) % graft.functions.TextAnalysis.POSTING_SIG_P
          }
          val ns = PostingState(n, t, g)
          state.update(ns)
          IndexStateOut(word, bkt, n, t, g)
      }
  }

  final case class ChangeIn(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, value_cents: Long)
  private[streaming] final case class Scd2State(
      value_cents: Long, valid_from: java.sql.Timestamp)
  final case class Scd2Out(
      user_id: Long, value_cents: Long, valid_from: java.sql.Timestamp,
      valid_to: Option[java.sql.Timestamp], is_current: Boolean)

  /** Streaming SCD2 maintenance — the incremental form of
    * [[graft.operators.Cdc.scd2History]] (q107): each arriving real
    * transition CLOSES the key's open version (emits it with its
    * valid_to) and OPENS a new one (emitted with valid_to = None); no-op
    * touches collapse exactly like the batch operator. State per key is
    * ONE (value, valid_from) pair, so the store is bounded by the number
    * of live keys. Append mode means an open version's row is emitted at
    * open time and never retracted — consumers union "closed" rows with
    * the latest open row per key, the standard CDC-sink contract.
    * Within a micro-batch rows order by (ts, event_id); cross-batch
    * ordering is the replayer's contract (production deployments
    * watermark the change stream and drop late rows upstream). */
  def scd2Stream(changes: Dataset[ChangeIn]): Dataset[Scd2Out] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var st = state.getOption
          val out = Seq.newBuilder[Scd2Out]
          rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).foreach { r =>
            if (!st.exists(_.value_cents == r.value_cents)) {
              st.foreach(s =>
                out += Scd2Out(uid, s.value_cents, s.valid_from, Some(r.ts), is_current = false))
              out += Scd2Out(uid, r.value_cents, r.ts, None, is_current = true)
              st = Some(Scd2State(r.value_cents, r.ts))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Stream-stream interval join: purchases joined to the errors that
    * follow them within 10 minutes for the same user (the streaming form of
    * q22). Both sides are watermarked so the state store can discard
    * buffered rows once the event-time bound passes — the join condition's
    * time range is what makes the state finite. */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "10 minutes")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("ets"))
      .withWatermark("ets", "10 minutes")
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("ets") >= col("pts") &&
        col("ets") < col("pts") + expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("pts"), col("ets"))
  }

  /** Stream-static enrichment: a streaming fact joined to a static
    * dimension frame — planned as a broadcast join per micro-batch, no
    * streaming state at all. */
  def enrichWithStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")

  /** Streaming benchmark decontamination — q73's probe made ingest-time:
    * arriving documents explode to their distinct trigrams, hit the STATIC
    * benchmark gram set through a stream-static broadcast join (stateless
    * per micro-batch — eval suites are MBs, so the broadcast is the same
    * one the batch plan uses), and per-doc hit counts aggregate under an
    * event-time window + watermark so append mode can emit closed windows.
    * Only contaminated docs emit rows (inner join): the clean majority
    * costs zero state, which is what lets this run unbounded — state is
    * one count per (window, contaminated doc), expired by the watermark.
    * StreamingSpec replays a corpus and asserts the emitted hit counts
    * equal batch q73's n_hits for every contaminated doc. */
  def contaminationProbe(docs: Dataset[DocIn], bench: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowSize: String = "1 hour"): DataFrame = {
    val grams = docs.toDF()
      .withColumn("w", graft.functions.TextAnalysis.tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("lang"), col("ts"),
        explode(graft.functions.TextAnalysis.trigramSet(col("w"))).as("g"))
    grams.withWatermark("ts", watermarkDelay)
      .join(org.apache.spark.sql.functions.broadcast(bench), Seq("lang", "g"))
      .groupBy(window(col("ts"), windowSize), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_hits"))
  }

  private[streaming] final case class BucketCount(b: Long, x: Long)
  private[streaming] final case class AnomState(
      ring: Seq[BucketCount], pending: Seq[BucketCount])
  final case class AnomalyOut(event_type: String,
      bucket: java.sql.Timestamp, x: Long, trailing_sum: Long)

  /** Streaming twin of q135's trailing-window anomaly flags: ONE stateful
    * operator keyed by event type whose state is (a) the open hourly
    * buckets still accumulating and (b) the ring of the last 24 CLOSED
    * bucket counts — 25-ish rows per event type at any corpus rate,
    * because raw event volume folds into the pending counts before any
    * per-bucket logic runs. A bucket closes when a later bucket's first
    * event arrives (the replay-ordered analog of watermark expiry; a
    * production deployment closes on event-time timeout instead) and is
    * then judged against the ring with the same sqrt-free integer
    * 3-sigma test as the batch query, so emitted flags are bit-identical
    * to q135's (spec replays a corpus plus a per-type sentinel to flush
    * the final real bucket and asserts set equality). Assumes buckets
    * ARRIVE in order across batches — the same in-order contract the
    * watermarked aggregations already impose on late data. */
  def anomalyStream(events: Dataset[Event]): Dataset[AnomalyOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[Event], state: GroupState[AnomState]) =>
          val st = state.getOption.getOrElse(AnomState(Nil, Nil))
          val pend = scala.collection.mutable.Map(
            st.pending.map(p => p.b -> p.x).toSeq: _*)
          rows.foreach { e =>
            val b = e.ts.getTime / 3600000L * 3600000L
            pend(b) = pend.getOrElse(b, 0L) + 1L
          }
          val maxB = pend.keys.max
          var ring = st.ring
          val out = scala.collection.mutable.ArrayBuffer[AnomalyOut]()
          for (b <- pend.keys.filter(_ < maxB).toSeq.sorted) {
            val x = pend.remove(b).get
            if (ring.size >= 24) {
              val w = ring.takeRight(24)
              val s = w.map(_.x).sum
              val ss = w.map(v => v.x * v.x).sum
              val dev = 24L * x - s
              if (dev * dev > 9L * (24L * ss - s * s))
                out += AnomalyOut(et, new java.sql.Timestamp(b), x, s)
            }
            ring = (ring :+ BucketCount(b, x)).takeRight(24)
          }
          state.update(AnomState(ring,
            pend.toSeq.sorted.map { case (b, x) => BucketCount(b, x) }))
          out.iterator
      }
  }

  /** Streaming twin of q158's URL-canonical crawl dedup: arriving docs
    * compute their canonical URL MAP-SIDE (the identical
    * [[graft.functions.Web.canonicalUrl]] expression over the identical
    * fixture derivation) and fold into a per-canonical-key running
    * (min survivor, count) aggregation — complete-mode output is, after
    * any replay order, exactly batch q158's collapse minus the
    * raw-variant count (distinct aggregation is not available on
    * streams; StreamingSpec pins the rest row-for-row). State is one
    * row per DISTINCT canonical URL — the crawl frontier's "seen set",
    * which is this operator's product intent; re-crawl windows that may
    * forget bound it with a watermark on event time instead. */
  def urlDedupStream(docs: Dataset[DocIn]): DataFrame = {
    import graft.functions.Web
    docs.toDF()
      .select(col("doc_id"),
        Web.canonicalUrl(Web.rawUrl(col("doc_id"), col("source")))
          .as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_docs"))
  }

  /** Stateless streaming twin of q121's hashed-linear quality classifier:
    * the same frozen model ([[graft.functions.TextAnalysis.classifierWeight]])
    * scored ROWWISE — the per-doc bag-of-buckets sum folds over the
    * token array inside the row, so the query holds NO aggregation
    * state, needs no watermark, and runs in append mode as a pure map.
    * Integer weights make the fold order-irrelevant, so rowwise ==
    * batch q121's explode + partial-agg shape exactly (spec-pinned). */
  def classifierScores(docs: Dataset[DocIn]): DataFrame = {
    import graft.functions.TextAnalysis
    val toks = TextAnalysis.tokens(col("text"))
    docs.toDF().select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(transform(toks, w => TextAnalysis.classifierWeight(w)),
        lit(0L), (a, x) => a + x).as("score"))
      .withColumn("keep", col("score") >= 0)
  }

  /** Stateless streaming twin of q168's jusText HTML extraction: arriving
    * pages parse, classify and explode through the IDENTICAL shared
    * projection ([[graft.functions.Web.htmlBlockRows]] over the identical
    * fixture derivation) — the whole pipeline is array-domain expressions
    * inside the row, so the query holds NO aggregation state, needs no
    * watermark, and runs in append mode as a pure map + generate. The
    * extraction-to-admission chain (extract -> line rules -> classifier)
    * is therefore streamable end to end, rowwise. */
  def htmlExtractStream(docs: Dataset[DocIn]): DataFrame = {
    import graft.functions.Web
    Web.htmlBlockRows(docs.toDF(),
      Web.syntheticHtml(col("text"), col("doc_id")))
  }

  /** Stateless streaming twin of q169's line-level C4/FineWeb quality
    * rules: the same staged zero-exchange projection
    * ([[graft.functions.Web.lineQualityRel]] over the identical fixture
    * derivation), rowwise — per-line classes fold inside the row's line
    * array, so there is no state, no watermark, pure append-mode map. */
  def lineQualityStream(docs: Dataset[DocIn]): DataFrame = {
    import graft.functions.Web
    Web.lineQualityRel(docs.toDF(),
      Web.syntheticPage(col("text"), col("doc_id")))
  }

  /** Stateless streaming twin of q175's Gopher document-shape rules:
    * the identical staged zero-exchange projection
    * ([[graft.functions.Web.gopherRulesRel]] over the identical fixture
    * derivation) — all eight signals fold inside the row's own line and
    * word arrays, so there is no state, no watermark, pure append-mode
    * map. With the q121/q168/q169 twins this closes the full streaming
    * admission chain: extract -> line gate -> doc-shape gate -> classify. */
  def gopherRulesStream(docs: Dataset[DocIn]): DataFrame = {
    import graft.functions.Web
    Web.gopherRulesRel(docs.toDF(),
      Web.gopherSyntheticPage(col("text"), col("doc_id")))
  }

  /** Stateless streaming twin of q177's robots evaluation: the parse
    * fold and the longest-match verdict both run inside the row's own
    * arrays — no state, no watermark, pure append-mode map (the crawl
    * frontier is exactly this stream in production: URL + robots in,
    * crawl-permission verdict out). */
  def robotsStream(docs: Dataset[DocIn]): DataFrame =
    graft.functions.Robots.robotsVerdictRows(docs.toDF())

  final case class FrontierIn(host: String, ord: Long, loc: String,
      priority: Option[String], delay_ms: Long)
  final case class FrontierOut(host: String, seq: Long, loc: String,
      delay_ms: Long, fetch_at_ms: Long)
  private[streaming] final case class FrontierState(next_seq: Long)

  /** Streaming twin of q186's crawl-frontier politeness scheduling —
    * THE stateful streaming op of a real crawler: admitted URLs arrive
    * as a stream (delay_ms already on the row via the broadcast
    * stream-static config join, the [[enrichWithStatic]] shape) and
    * each host's fetch slots are handed out in order. State per host
    * is ONE counter — the next politeness slot — so the store is
    * bounded by the number of live hosts, never by URL volume.
    * Within a micro-batch a host's rows order by (priority DESC NULLS
    * LAST, ord) — exactly the batch ranking — and seq continues from
    * the host's state across batches, so a single-batch replay is
    * bit-identical to batch q186 (StreamingSpec pins it) and
    * cross-batch arrivals append after everything already scheduled
    * (the only causality a live frontier can honor: a slot once handed
    * out is never re-ranked). `fetch_at_ms = seq * delay_ms` from
    * epoch 0, the deterministic batch formula; production would anchor
    * epoch at the host's last real fetch instant via the same state. */
  def frontierStream(cands: Dataset[FrontierIn]): Dataset[FrontierOut] = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .groupByKey(_.host)
      .flatMapGroupsWithState[FrontierState, FrontierOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host, rows, state) =>
          var seq = state.getOption.map(_.next_seq).getOrElse(0L)
          val ranked = rows.toSeq.sortWith { (a, b) =>
            (a.priority, b.priority) match {
              case (Some(x), Some(y)) if x != y => x > y
              case (Some(_), None) => true
              case (None, Some(_)) => false
              case _ => a.ord < b.ord
            }
          }
          val out = ranked.map { r =>
            val o = FrontierOut(host, seq, r.loc, r.delay_ms,
              seq * r.delay_ms)
            seq += 1
            o
          }
          state.update(FrontierState(seq))
          out.iterator
      }
  }

  final case class DeltaIn(host: String, loc: String, ord: Long,
    lastmod: Option[String])
  final case class DeltaOut(host: String, loc: String, ord: Long,
    status: String)
  private[streaming] final case class DeltaState(
    known_lastmod: Option[String])

  /** Streaming twin of q189's incremental-frontier STATUS assignment
    * (r20): sitemap entries arrive as a stream and each (host, loc)
    * key carries ONE lastmod string of state — bounded by live URLs,
    * the same linear state budget as the batch operator's stored
    * table. A first sighting is `new`; a strictly newer lastmod
    * against non-null known state is `changed` (the batch comparison
    * verbatim: a missing lastmod on either side proves nothing →
    * `unchanged`); state absorbs the newest lastmod seen. `gone` is
    * inherently a SWEEP over absence — no event carries it — so it
    * stays with the batch operator (q106's reconciliation shape), and
    * the politeness pacing of the delta rides the existing
    * [[frontierStream]] twin downstream. Replay parity: priming the
    * state with the stored rows and then streaming the batch yields
    * exactly q189's statuses (StreamingSpec pins it). */
  def frontierDeltaStream(entries: Dataset[DeltaIn]): Dataset[DeltaOut] = {
    val spark = entries.sparkSession
    import spark.implicits._
    entries
      .groupByKey(e => (e.host, e.loc))
      .flatMapGroupsWithState[DeltaState, DeltaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((host, loc), rows, state) =>
          var known = state.getOption.flatMap(_.known_lastmod)
          var primed = state.exists
          val out = rows.toSeq.sortBy(_.ord).map { e =>
            val status =
              if (!primed) "new"
              else (e.lastmod, known) match {
                case (Some(lm), Some(k)) if lm > k => "changed"
                case _ => "unchanged"
              }
            primed = true
            known = e.lastmod.orElse(known)
            DeltaOut(host, loc, e.ord, status)
          }
          state.update(DeltaState(known))
          out.iterator
      }
  }

  /** File-source stream over a directory of parquet events, normalizing
    * `ts` exactly like the batch loader ([[graft.Tables.events]]): the
    * fixture has shipped as both TIMESTAMP(NANOS) (surfaced as raw long
    * nanos under the legacy conf) and TIMESTAMP(MICROS) (surfaced as
    * TIMESTAMP_NTZ), so the stream's schema comes from one driver-side
    * footer read of the directory ([[graft.Tables.parquet]]) rather than a
    * hardcoded vintage. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = graft.Tables.parquet(spark, dir).schema
    val raw = spark.readStream.schema(fileSchema).parquet(dir)
    raw.schema("ts").dataType match {
      case LongType            => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                   => raw
    }
  }
}
