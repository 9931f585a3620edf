package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Deduplication suite for training-data pipelines (builder mandate):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design:
  *   - exact dedup = hash-groupBy on a fingerprint (one shuffle);
  *   - Jaccard pairs use an inverted-index self-join (shuffle on token),
  *     never a cartesian;
  *   - MinHash/LSH banding turns all-pairs into an equi join on
  *     (band, band_hash) buckets — the 100 TB path;
  *   - SimHash buckets on 16-bit signature chunks (any pair within
  *     hamming<=3 shares a chunk by pigeonhole);
  *   - embedding near-dup shown brute-force here, with the LSH variant in
  *     [[Similarity]] as the scale path.
  */
object Dedup {
  import Tables._
  import TextAnalysis.tokens

  private val SQL_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Fused candidate-pair dedup, shared by every near-dup verify path:
    * `groupBy(ia).collect_set(ib)` dedups duplicate candidates (multi-band
    * / multi-cell / both-direction probes) inside the exact exchange that
    * partitions candidates for the ia-side verify join, instead of a
    * standalone distinct shuffle first (one whole AQE stage of q65's
    * critical path at sf0.1; explode is a generator, so the ia
    * partitioning survives to the join).
    *
    * Skew guard: the aggregation buffer for one ia holds that document's
    * whole candidate neighborhood — bounded by near-dup neighborhood size
    * on healthy corpora, but unbounded under mass-duplication skew (viral
    * boilerplate shared by millions of pages). The salted path splits each
    * ia's buffer S ways by ib-hash, and the salt participates in the
    * exchange key, so a hot ia's neighborhood spreads across S tasks
    * instead of concentrating in one. An ib lands in exactly one salt
    * bucket, so the exploded output is row-identical to the unsalted path
    * by construction (DedupProps pins it against a planted mass-dup
    * corpus).
    *
    * `spark.graft.dedupSalt` controls it: "auto" (the default) arms the
    * salt from a MEASURED size hint rather than operator foresight — each
    * candidate generator probes its own (already-cached) bucket relation
    * for the largest bucket, and the salt arms only when that exceeds
    * `spark.graft.dedupSaltThreshold` (default 65536: a viral cluster of
    * M near-identical items lands its members in one bucket in every
    * scheme here — prefix token, band, code, cell — so max bucket tracks
    * the largest candidate neighborhood). The probe is one tiny
    * aggregation over cached data and only runs in auto mode; healthy
    * corpora keep the single-exchange unsalted plan (the armed plan's
    * extra pair-relation exchange measured 10-30% of these
    * stage-latency-bound queries at sf0.1, so always-on would tax every
    * healthy run — measured, which is why auto probes instead). "off"
    * (or 1) disables the guard; an explicit integer >= 2 forces that
    * width. When armed, width scales with the overflow ratio
    * (maxBucket/threshold, clamped to [16, 256]) so a billion-dup bucket
    * splits harder than one just past the line. */
  private[graft] val AUTO_SALT = 16
  private[graft] def dedupSaltThreshold(s: SparkSession): Long = {
    val raw = s.conf.getOption("spark.graft.dedupSaltThreshold")
    raw.map(_.trim).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.dedupSaltThreshold must be a positive integer, got '$v'")
      }
      if (n < 1) throw new IllegalArgumentException(
        s"spark.graft.dedupSaltThreshold must be >= 1, got $n")
      n
    }.getOrElse(65536L)
  }

  /** Salt-width decision. `maxBucket` is the candidate generator's probe
    * of its largest bucket — by-name, evaluated ONLY in auto mode (the
    * off/explicit spellings never pay the probe job). */
  private[graft] def dedupSaltWidth(s: SparkSession, maxBucket: => Option[Long]): Int =
    s.conf.getOption("spark.graft.dedupSalt").map(_.trim.toLowerCase) match {
      case None | Some("auto") =>
        val thr = dedupSaltThreshold(s)
        maxBucket match {
          case Some(m) if m > thr =>
            math.min(256L, math.max(AUTO_SALT.toLong, m / thr)).toInt
          case _ => 1
        }
      case Some("off") => 1
      case Some(v) =>
        val n = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.dedupSalt must be 'auto', 'off', or a positive integer, got '$v'")
        }
        if (n < 1) throw new IllegalArgumentException(
          s"spark.graft.dedupSalt must be >= 1 (or 'auto'/'off'), got $n")
        n
    }

  /** Corpus-vector rows up to which a verify/candidate join keeps its
    * corpus-bounded side BROADCAST (default 250k rows — ~140 MB of
    * (vec_id, 64-dim vector, norm), a broadcast, not a corpus); above the
    * cap the side is hinted SHUFFLE_HASH instead.
    * `spark.graft.verifyBroadcastVectors` overrides (specs force the flip
    * at tiny scale; deployments tune to executor headroom).
    *
    * WHY hash and never merge: the candidate pair relation on the OTHER
    * side of these joins is ring x occupancy times the corpus — the
    * largest relation the dedup family ever materializes — and Spark's
    * default SortMergeJoin fallback SORTS it on each join key the moment
    * the vector side outgrows `spark.sql.autoBroadcastJoinThreshold`.
    * Measured on the x16 disjoint-universe amplification (32k vectors —
    * the first scale point past the 10 MB default): q64 read 272-634 s
    * against 10.4 s at x8 and 28 s at x16 with the vector side kept
    * hash-built — a ~26x cliff from the silent plan flip alone, nothing
    * else changed. A shuffled-hash join streams the pair relation
    * SORT-FREE against a per-partition hash map of the corpus slice —
    * the plan that survives when the corpus outgrows any broadcast
    * (executor sizing is the standard shuffled-hash rule: corpus bytes /
    * shuffle partitions per task). */
  private[graft] def verifyBroadcastVectors(s: SparkSession): Long = {
    val raw = s.conf.getOption("spark.graft.verifyBroadcastVectors")
    raw.map(_.trim).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.verifyBroadcastVectors must be a positive integer, got '$v'")
      }
      if (n < 1) throw new IllegalArgumentException(
        s"spark.graft.verifyBroadcastVectors must be >= 1, got $n")
      n
    }.getOrElse(250000L)
  }

  /** Estimated broadcast bytes per (vec_id, 64-dim double vector, norm)
    * row — what the [[verifyBroadcastVectors]] row cap is denominated in
    * (250k rows x 560 B ~ 140 MB). */
  private val VECTOR_ROW_BYTES = 560L

  /** Estimated bytes per narrow build row of a few longs — an index row
    * ((vec_id, t, code), (vec_id, cid)) or a graph key row ((u, v),
    * (x, d)): ~20x lighter than a vector row, so a narrow side sized by
    * the RAW vector-row cap would flip to SHUFFLE_HASH at ~7 MB of actual
    * build data and pay a full shuffle of the giant probe relation while
    * a broadcast was still cheap. */
  private[graft] val NARROW_ROW_BYTES = 28L

  /** A corpus-bounded join side planned by MEASURED size — `nRows` is a
    * count the call site already holds (every generator counts its corpus
    * for code-space sizing), so the decision costs nothing: explicit
    * broadcast under the cap, SHUFFLE_HASH above. The comparison is in
    * BYTES — `nRows * rowBytes` against the knob's vector-row cap
    * converted at [[VECTOR_ROW_BYTES]] — so the one documented knob
    * (vector rows ~ executor headroom) sizes both the wide vector sides
    * and the ~20x narrower index sides without conflating their
    * bytes-per-row regimes. Explicit on BOTH branches: the auto-broadcast
    * path depends on size ESTIMATES that under-count wide array columns,
    * and the silent SMJ fallback is the measured 26x cliff documented
    * above. */
  private[graft] def sizedBuildSide(side: DataFrame, nRows: Long,
      rowBytes: Long = VECTOR_ROW_BYTES): DataFrame =
    if (nRows * rowBytes <=
        verifyBroadcastVectors(side.sparkSession) * VECTOR_ROW_BYTES)
      broadcast(side)
    else side.hint("SHUFFLE_HASH")

  /** The auto-salt probe: largest group of `rel` on `keys`. Call sites
    * hand in their bucket relation (banded signatures, prefix index,
    * code/cell index) — always derived from a relation they already
    * cache, so the probe is one small aggregation job, not a second
    * candidate generation. */
  private def maxBucketOf(rel: DataFrame, keys: Seq[Column]): Option[Long] =
    Option(rel.groupBy(keys: _*).count().agg(max("count")).head.get(0))
      .map(_.asInstanceOf[Long])

  /** Tiered auto-salt probe: `bound` is a cheap upper bound on any bucket
    * (total corpus rows, or the largest scope group — a bucket can never
    * outgrow its scope), usually a count the call site has ALREADY
    * computed or one light aggregation over an about-to-be-needed cache.
    * When the bound itself clears the threshold the refined bucket probe
    * never runs — which is the common case at test/bench scale, so the
    * healthy-corpus cost of auto mode is ~one cheap count. Only corpora
    * big enough to possibly need the guard pay the refined probe, where
    * its one aggregation amortizes against the job it protects. */
  private def tieredProbe(s: SparkSession)(bound: => Long)(
      refined: => Option[Long]): Option[Long] = {
    val b = bound
    if (b <= dedupSaltThreshold(s)) Some(b) else refined
  }

  private def dedupFused(cand: DataFrame,
      maxBucket: => Option[Long] = None): DataFrame = {
    val salts = dedupSaltWidth(cand.sparkSession, maxBucket)
    val grouped =
      if (salts <= 1) cand.groupBy(col("ia"))
      else cand.groupBy(col("ia"),
        pmod(xxhash64(col("ib")), lit(salts.toLong)).as("__slt"))
    grouped.agg(collect_set(col("ib")).as("ibs"))
      .select(col("ia"), explode(col("ibs")).as("ib"))
  }

  /** The exact Jaccard >= 0.8 pair relation as DuckDB CTEs — shared by the
    * q65 pair query and q68's closure oracle. */
  private val PAIR_CTES = s"""
        dtok AS (
          SELECT DISTINCT doc_id, lang, source, unnest($SQL_TOKENS) AS word
          FROM documents),
        sizes AS (SELECT doc_id, count(*) AS sz FROM dtok GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
          FROM dtok a JOIN dtok b
            ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

  /** The oracle of the exact Jaccard >= 0.8 pair relation (q65; formerly
    * also the unregistered inverted-index baseline — both are exact, so
    * they answer to the same SQL). */
  private val JACCARD_ORACLE = s"""
        WITH $PAIR_CTES
        SELECT ia, ib,
               round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON ia = sa.doc_id
        JOIN sizes sb ON ib = sb.doc_id
        WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8
        ORDER BY ia, ib"""

  /** q96 oracle: the exact pair relation restricted to pairs involving the
    * deterministic incoming batch (doc_id % 10 == 0) — incremental dedup
    * must equal the full dedup filtered to incoming-involving pairs. */
  private val INCREMENTAL_ORACLE = s"""
        WITH $PAIR_CTES
        SELECT ia, ib,
               round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON ia = sa.doc_id
        JOIN sizes sb ON ib = sb.doc_id
        WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8
          AND (ia % 10 = 0 OR ib % 10 = 0)
        ORDER BY ia, ib"""

  /** q37 oracle: DuckDB rebuilds the 60-bit simhash signatures from the
    * same md5-derived word hash, buckets the same 15-bit chunks, and
    * verifies the same hamming<=3 — engine-identical end to end. The 60
    * per-bit weight aggregates are generated here so the SQL and the
    * Spark plan share one bit-width constant. */
  private lazy val SIMHASH_ORACLE: String = {
    val bitW = (0 until SIMHASH_BITS).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN tf ELSE -tf END) AS w_$j").mkString(",\n                 ")
    val assemble = (0 until SIMHASH_BITS).map(j =>
      s"CASE WHEN w_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""
        WITH tf AS (
          SELECT doc_id, word, count(*) AS tf
          FROM (SELECT doc_id, unnest($SQL_TOKENS) AS word FROM documents)
          GROUP BY 1, 2),
        h AS (
          SELECT doc_id, tf,
                 ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
          FROM tf),
        w AS (
          SELECT doc_id,
                 $bitW
          FROM h GROUP BY doc_id),
        sims AS (SELECT doc_id, $assemble AS simhash FROM w),
        chunked AS (
          SELECT doc_id, simhash, c.c,
                 (simhash >> (c.c * $SIMHASH_CHUNK)) & ${(1L << SIMHASH_CHUNK) - 1} AS chunk
          FROM sims, (SELECT unnest(range(4)) AS c) c),
        cand AS (
          SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
          FROM chunked x JOIN chunked y
            ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        SELECT c.ia, c.ib,
               cast(bit_count(xor(sa.simhash, sb.simhash)) as int) AS hamming
        FROM cand c
        JOIN sims sa ON sa.doc_id = c.ia
        JOIN sims sb ON sb.doc_id = c.ib
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
        ORDER BY c.ia, c.ib"""
  }

  /** q98 oracle: the exact cosine >= 0.4 pair relation over the
    * embeddings table, restricted to pairs involving the deterministic
    * incoming batch (vec_id % 10 == 0) — same restriction idiom as q96's.
    * DuckDB's `list_dot_product` over DOUBLE[] is the identical
    * sequential left-to-right double sum as [[VectorOps.dot]], so the
    * rounded cosines hash-match bit-for-bit. */
  private val INCREMENTAL_EMBED_ORACLE = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 6) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE a.vec_id % 10 = 0 OR b.vec_id % 10 = 0)
        SELECT ia, ib, cos FROM p WHERE cos >= 0.4 ORDER BY ia, ib"""

  /** q99 oracle: the exact cosine pair relation closed transitively
    * (q68's recursive-CTE shape over the embeddings table) — min
    * reachable vec = survivor, everything else in its cluster is the
    * removal list. */
  private val EMBED_CLUSTER_ORACLE = """
        WITH RECURSIVE e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) *
                       sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4),
        sym AS (
          SELECT ia AS a, ib AS b FROM p
          UNION
          SELECT ib AS a, ia AS b FROM p),
        reach(v, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT reach.v, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        labels AS (SELECT v AS vec_id, min(r) AS survivor FROM reach GROUP BY v)
        SELECT vec_id, survivor, vec_id <> survivor AS is_dup
        FROM labels
        ORDER BY vec_id"""

  /** q68 oracle: the same pair relation, closed transitively (recursive
    * CTE, min reachable doc = survivor) — the canonical removal list. */
  private val CLUSTER_ORACLE = s"""
        WITH RECURSIVE $PAIR_CTES,
        pairs AS (
          SELECT ia, ib FROM inter
          JOIN sizes sa ON ia = sa.doc_id
          JOIN sizes sb ON ib = sb.doc_id
          WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8),
        sym AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib AS a, ia AS b FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT reach.v, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        labels AS (SELECT v AS doc_id, min(r) AS survivor FROM reach GROUP BY v)
        SELECT doc_id, survivor, doc_id <> survivor AS is_dup
        FROM labels
        ORDER BY doc_id"""

  /** (doc_id, lang, source, word) distinct token relation. Reads the
    * SPREAD documents scan: the tokenize+explode fused here is the
    * dominant per-row work of the whole jaccard/prefix family, and the
    * testdata's single-row-group file would otherwise run it in one
    * task (guide §2.5; measured q65 2.61→1.37 s at 8 cores). */
  private[graft] def docTokens(s: SparkSession, d: String): DataFrame =
    documentsSpread(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(tokens(col("text")))).as("word"))

  val MINHASH_PERMS = 32
  val MINHASH_BANDS = 8 // 4 rows per band

  /** sha2-256 draws per word: each 64-hex draw yields eight 8-hex
    * (32-bit) permutation values, so [[MINHASH_PERMS]] perms need
    * PERMS/8 draws. A cryptographic hex hash (not xxhash64) is
    * deliberate: both engines compute the identical hex string for the
    * identical input, which is what lets q36 carry a FULL DuckDB oracle —
    * signatures, band buckets, candidate pairs, and estimates are all
    * engine-reproducible. sha2-256 over md5 halves the draw count per
    * word (hash time dominates the signature stage). The 32-bit per-perm
    * space is plenty below ~10^8-token vocabularies (expected colliding
    * token pairs per perm ~ V^2/2^33); grow to 12-hex slices + more
    * draws past that. */
  private val MINHASH_DRAWS = MINHASH_PERMS / 8

  /** Per-distinct-token draw array for a token-array column — the
    * row-wise signature's first stage, shared with the streaming twin. */
  private[graft] def minhashDrawsExpr(toksCol: Column): Column =
    transform(toksCol, w => array((0 until MINHASH_DRAWS).map(j =>
      sha2(concat(lit(s"$j:"), w), 256)): _*))

  /** Permutation i's 8-hex value from its word's draw array element. */
  private def permFromDraw(draw: Column, i: Int): Column =
    substring(draw, (i % 8) * 8 + 1, 8)

  /** The 32-perm signature from a per-word draw-array column: sig_i =
    * min over words of draw slice i — identical values in the row-wise
    * and exploded paths by construction ('~' sorts above every hex char,
    * so it is the fold's +infinity; token-less docs are filtered before
    * this runs, so it never survives into a signature). ONE aggregate
    * pass folds all 32 mins per word via zip_with/least — 32 separate
    * array_min(transform(...)) passes measured 2.2x the whole q36 query
    * time in interpreted HOF overhead. */
  private[graft] def minhashSigFromDraws(drawsCol: Column): Column = {
    val slices = (a: Column) => array((0 until MINHASH_PERMS).map(i =>
      permFromDraw(element_at(a, i / 8 + 1), i)): _*)
    aggregate(drawsCol, array_repeat(lit("~"), MINHASH_PERMS),
      (acc, a) => zip_with(acc, slices(a), (x, y) => least(x, y)))
  }

  /** LSH band keys from a signature column: md5 over the band's perm
    * values — shared by the batch bucket join and the streaming twin's
    * bucket state keys (and reproduced verbatim in the q36 oracle via
    * `md5(string_agg(s, '|' ORDER BY i))`). */
  private[graft] def minhashBandStructs(sig: Column): Column = {
    val rowsPerBand = MINHASH_PERMS / MINHASH_BANDS
    array((0 until MINHASH_BANDS).map { bandId =>
      struct(lit(bandId).as("band"),
        md5(concat_ws("|",
          (bandId * rowsPerBand until (bandId + 1) * rowsPerBand)
            .map(i => sig.getItem(i)): _*)).as("bh"))
    }: _*)
  }

  /** MinHash signature per doc from exploded (doc, word) rows: sig_i =
    * min over words of the i-th md5 permutation slice. `scope` columns
    * (e.g. lang/source) are carried through for partition-scoped LSH. */
  def minhashSignatures(toks: DataFrame, scope: Seq[String]): DataFrame = {
    val withDraws = toks.select(
      (col("doc_id") +: scope.map(col)) ++ (0 until MINHASH_DRAWS).map(j =>
        sha2(concat(lit(s"$j:"), col("word")), 256).as(s"__m$j")): _*)
    val sigCols = (0 until MINHASH_PERMS).map(i =>
      min(permFromDraw(col(s"__m${i / 8}"), i)).as(s"sig_$i"))
    withDraws.groupBy((col("doc_id") +: scope.map(col)): _*)
      .agg(sigCols.head, sigCols.tail: _*)
      .select((col("doc_id") +: scope.map(col)) :+
        array((0 until MINHASH_PERMS).map(i => col(s"sig_$i")): _*).as("sig"): _*)
  }

  /** Per-row MinHash signatures: the draws and mins fold INSIDE the row —
    * same values as [[minhashSignatures]] (identical md5 of the identical
    * word set), but zero shuffle: the exploded path moves the whole
    * (doc, word) token stream through an exchange just to take 32 mins,
    * which at 100 TB is the single largest shuffle in the dedup pipeline.
    * Here signatures fall out of the scan map-side and only (doc, band)
    * keys ever shuffle. Token-less docs are filtered (the exploded
    * groupBy never emits them); DedupSpec pins row-identity between the
    * two paths. */
  def minhashSignaturesRowwise(docs: DataFrame, scope: Seq[String]): DataFrame = {
    val tokArr = array_distinct(TextAnalysis.tokens(col("text")))
    docs.select((col("doc_id") +: scope.map(col)) :+ tokArr.as("toks"): _*)
      .filter(size(col("toks")) > 0)
      .withColumn("__mh", minhashDrawsExpr(col("toks")))
      .select((col("doc_id") +: scope.map(col)) :+
        minhashSigFromDraws(col("__mh")).as("sig"): _*)
  }

  /** MinHash + LSH near-dup pairs over a precomputed signature frame.
    *
    * Candidate generation is an equi join on (scope..., band, band_hash) —
    * never the cartesian pair space. Scoping the buckets (here by
    * lang+source, mirroring partition-scoped dedup in production pipelines)
    * bounds bucket size even on corpora where everything resembles
    * everything, which is what makes the plan survive 100 TB.
    *
    * Cache ownership: `sigsIn` is cached here (three consumers) and must
    * stay resident until the returned frame is consumed — the CALLER
    * releases it afterwards (Bench/Verify `clearCache()` per query; API
    * callers unpersist the signature frame they passed in).
    */
  def minhashPairsFromSigs(sigsIn: DataFrame, scope: Seq[String],
      threshold: Double, scopeBound: => Option[Long] = None): DataFrame = {
    val sigs = graft.Caches.lease(sigsIn)
    val banded = minhashBandIndex(sigs, scope)
    val joinKeys = scope ++ Seq("band", "bh")
    // a pair can share several bands; dedup is fused into the ia-side
    // verify join's aggregation ([[dedupFused]], same shape as
    // cosVerifyGrouped). Auto-salt tier 1: a band bucket can never
    // outgrow its scope group — callers that can count scope groups
    // straight off the raw table pass `scopeBound` (a 2-column parquet
    // aggregation, so the probe never serializes the signature job);
    // otherwise the bound comes from the sig cache the join warms anyway
    val cand = dedupFused(banded.alias("x")
      .join(banded.alias("y"), joinKeys)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib")),
      maxBucket = tieredProbe(sigs.sparkSession)(
        scopeBound.orElse(maxBucketOf(sigs, scope.map(col))).getOrElse(0L))(
        maxBucketOf(banded, joinKeys.map(col))))
    val sa = sigs.select(col("doc_id").as("ia"), col("sig").as("siga"))
    val sb = sigs.select(col("doc_id").as("ib"), col("sig").as("sigb"))
    cand.join(sa, "ia").join(sb, "ib")
      .select(col("ia"), col("ib"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          b => b)) * lit(1.0) / MINHASH_PERMS).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** The exploded-token entry point, kept as the verification twin of the
    * row-wise path (DedupSpec proves the signatures identical). */
  def minhashPairs(toks: DataFrame, scope: Seq[String], threshold: Double): DataFrame =
    minhashPairsFromSigs(minhashSignatures(toks, scope), scope, threshold)

  /** The stored minhash band index for text onboarding — the text twin of
    * [[lshCodeIndex]]: one row per (doc, scope..., band) carrying the band
    * hash. At production scale it is written bucketed on the FULL probe
    * key set (scope..., band, bh) so probe joins co-locate — a subset-key
    * bucketing does not satisfy the join's required distribution
    * (StorageSpec pins the exchange-free plan) — with the signature frame
    * persisted beside it
    * for the exact verify (two narrow tables instead of one that repeats
    * the 32-perm signature across every band row). */
  def minhashBandIndex(sigs: DataFrame, scope: Seq[String]): DataFrame =
    sigs.select(
      (col("doc_id") +: scope.map(col)) :+
        explode(minhashBandStructs(col("sig"))).as("bk"): _*)
      .select((col("doc_id") +: scope.map(col)) :+ col("bk.band") :+ col("bk.bh"): _*)

  /** Batch probe of incoming signature rows against a STORED
    * [[minhashBandIndex]] — the text analog of [[probeLshIndex]], closing
    * the rebuild-per-call gap for the MinHash family the way
    * `q64_probe_stored`/`q98_probe_stored` close it for embeddings:
    * incoming docs band-explode, candidates come from the
    * (scope, band, bh) equi join against the stored bands PLUS a
    * batch x batch self-join on the same keys, and every candidate's
    * estimated Jaccard is computed exactly from the stored signatures.
    * Sharing a band hash is a SYMMETRIC pair condition and the two joins
    * cover both populations, so the output equals
    * [[minhashPairsFromSigs]] restricted to incoming-involving pairs
    * (DedupProps property) with NO containment precondition on the
    * batch, while candidate work shrinks from corpus-sized to
    * batch-sized. `sigs` must cover every doc in `bands`; an incoming
    * set overlapping the corpus (the q96 onboarding idiom) contributes
    * each signature once. */
  def probeMinhashBands(bands: DataFrame, sigs: DataFrame,
      incoming: DataFrame, scope: Seq[String], threshold: Double): DataFrame = {
    val joinKeys = scope ++ Seq("band", "bh")
    // TWO candidate joins, unioned on the PAIR side: (a) incoming bands
    // vs the stored index — the corpus-sized join, whose build side stays
    // the pristine stored relation so a (scope, band, bh)-bucketed index
    // keeps its partitioning (unioning incoming INTO the build side would
    // void the bucketing and re-shuffle the corpus every probe); (b)
    // incoming bands vs themselves — batch x batch, so two genuinely NEW
    // docs absent from the index still pair and the contract above holds
    // with no containment precondition. An overlapping batch (the q96
    // idiom) produces each pair through both joins; dedupFused dedups
    // inside its own first exchange. Sizing: exact band fanout
    // (MINHASH_BANDS per doc) prices the self-join side without a second
    // count job over the exploded frame.
    val nIdx = bands.count()
    val nIncBands = MINHASH_BANDS * incoming.count()
    val incBands = minhashBandIndex(incoming, scope)
    def pairsAgainst(build: DataFrame, nBuild: Long) =
      incBands.alias("x")
        .join(sizedBuildSide(build.alias("y"), nBuild, NARROW_ROW_BYTES), joinKeys)
        .filter(col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("ia"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("ib"))
    val cand0 = pairsAgainst(bands, nIdx)
      .unionByName(pairsAgainst(incBands, nIncBands))
    val cand = dedupFused(cand0,
      maxBucket = tieredProbe(bands.sparkSession)(nIdx + nIncBands)(
        maxBucketOf(bands.unionByName(incBands), joinKeys.map(col))))
    val vsigs = sigs.select(col("doc_id"), col("sig"))
      .union(incoming.select(col("doc_id"), col("sig")))
      .dropDuplicates("doc_id")
    val sa = vsigs.select(col("doc_id").as("ia"), col("sig").as("siga"))
    val sb = vsigs.select(col("doc_id").as("ib"), col("sig").as("sigb"))
    cand.join(sa, "ia").join(sb, "ib")
      .select(col("ia"), col("ib"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          b => b)) * lit(1.0) / MINHASH_PERMS).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Exact Jaccard >= t pairs via the inverted-index self-join — the
    * VERIFICATION BASELINE for [[jaccardPairsPrefix]], not a registered
    * query: it shuffles on the token, never builds the cartesian pair
    * space, but a token in D docs still yields ~D^2/2 candidate pairs, so
    * its candidate count is unbounded in token df. DedupSpec pins that the
    * prefix-filtered variant is row-identical on a stopword-bombed corpus. */
  def jaccardPairsExact(toksIn: DataFrame, t: Double): DataFrame = {
    val toks = graft.Caches.lease(toksIn) // three consumers; don't re-tokenize per branch
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = toks.select(col("lang"), col("source"), col("word"), col("doc_id").as("ia"))
    val b = toks.select(col("lang"), col("source"), col("word"), col("doc_id").as("ib"))
    val inter = a.join(b, Seq("lang", "source", "word"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("i"))
    val sa = sizes.select(col("doc_id").as("ia"), col("sz").as("sza"))
    val sb = sizes.select(col("doc_id").as("ib"), col("sz").as("szb"))
    inter.join(sa, "ia").join(sb, "ib")
      .select(col("ia"), col("ib"),
        round(col("i") * lit(1.0) / (col("sza") + col("szb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
      .orderBy(col("ia"), col("ib"))
  }

  /** Brute-force cosine near-dup pairs — the VERIFICATION BASELINE for
    * the LSH-bucketed default (q64_neardup_lsh). O(N^2) by construction,
    * which is exactly why it is NOT a registered query (the registry is
    * the scale contract): it exists so DedupSpec/RecallReport can measure
    * q64's recall against an exact answer at small scale factors. Never
    * the path you run at 100 TB. */
  def embeddingPairsBrute(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(
      col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(VectorOps.cosinePre(VectorOps.dot(col("va"), col("vb")),
          col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("ia"), col("ib"))
  }

  /** DEFAULT embedding near-dup (registered as q64) — the 100 TB path.
    * Hyperplane-LSH sign codes + multi-probe + multi-table turn the O(n^2)
    * pair space into an equi join on (table, bucket code); every candidate
    * is then verified with the exact cosine, so precision is exact and only
    * recall depends on the bucketing (measured against
    * [[embeddingPairsBrute]] in DedupSpec and `tools.RecallReport`).
    *
    * Operating point (measured, see COVERAGE.md): `targetBucket=32` — a
    * LARGER bucket than q40's top-k search (32 vs 8) because near-dup
    * thresholds sit at the decision boundary (B=32: 0.98 vs B=16: 0.78 at
    * sf0.1 single-table) — with `nTables=2` independent codes at radius 3:
    * recall rises as 1-(1-r)^L like q40's table curve, clearing 0.9 at
    * every tested scale factor where the single table measured 0.883 at
    * sf0.1. With p planes the radius-3 ring is sum C(p,<=3) buckets of
    * 2^p — a VANISHING fraction of the code space as p grows (at p=16:
    * 697/65536 ~ 1%), so candidate volume stays ~N * L * ring * bucket,
    * linear in N — not the constant fraction of N^2 a fixed 8-plane code
    * degrades to.
    *
    * Candidate generation shuffles ONLY (table, code, id) — the ring-size
    * probe explosion must not replicate the vectors; they join back by id
    * for the exact verification. Within one table a pair can match through
    * exactly one mask (m = code_a XOR code_b) so candidates are unique by
    * construction; across tables the same pair can recur, so multi-table
    * runs dedup candidates before the verify join (one extra shuffle that
    * SHRINKS the verify input — the right side of the trade). */
  def embeddingPairsLsh(s: SparkSession, d: String,
      targetBucket: Long = 32, radius: Int = 3, nTables: Int = 2): DataFrame =
    embeddingPairsLshUnordered(s, d, targetBucket, radius, nTables)
      .orderBy(col("ia"), col("ib"))

  /** The q64 pair relation without the presentation sort — consumers that
    * re-shuffle anyway (q99's closure) must not pay a global order
    * (same split as [[jaccardPairsPrefixUnordered]] under q68). */
  def embeddingPairsLshUnordered(s: SparkSession, d: String,
      targetBucket: Long = 32, radius: Int = 3, nTables: Int = 2): DataFrame = {
    val e = graft.Caches.lease(embeddings(s, d).select(
      col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v"))))
    val n = e.count()
    val p = Similarity.planesForCorpus(n, targetBucket)
    // ring cap: at tested scales this IS `radius`; at extreme p it shrinks
    // so per-item probe work stays bounded (see ringBoundedRadius)
    val r = math.min(radius, Similarity.ringBoundedRadius(p, radius))
    val coded = e.select(col("vec_id"),
      posexplode(array((0 until nTables).map(t =>
        Similarity.lshCode(col("v"), p, t)): _*)).as(Seq("t", "code")))
    val probes = coded.select(col("vec_id").as("ia"), col("t"),
      explode(array(Similarity.probeMasks(p, r).map(m =>
        col("code").bitwiseXOR(lit(m))): _*)).as("code"))
    val cand0 = probes
      // the code index side is sized like the verify sides (n*L rows):
      // past the broadcast cap the probe relation (ring x bigger) streams
      // sort-free against a hash-built index instead of being SMJ-sorted
      .join(sizedBuildSide(
        coded.select(col("vec_id").as("ib"), col("t"), col("code")),
        n * nTables, NARROW_ROW_BYTES), Seq("t", "code"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    // within one table a pair matches through exactly one mask, so a
    // single-table run needs no dedup; multi-table candidates dedup
    // inside the verify join's own aggregation
    // tier 1 is free: n was already counted for the plane budget
    if (nTables > 1) cosVerifyGrouped(e, cand0, 0.4, n,
      maxBucket = tieredProbe(e.sparkSession)(n)(
        maxBucketOf(coded, Seq(col("t"), col("code")))))
    else cosVerify(e, cand0, 0.4, n)
  }

  /** Exact-cosine verification of a candidate (ia, ib) relation: join the
    * vectors back by id, compute the rounded cosine, keep `>= t`. Shared
    * by every embedding near-dup path (q64, q98, the incremental LSH
    * probe) so precision — and the oracle-facing arithmetic — cannot
    * drift between them. `e` must carry (vec_id, v, nrm). Candidates must
    * already be unique; generators that emit duplicates use
    * [[cosVerifyGrouped]]. `nVecs` (the caller's corpus count) sizes the
    * join: broadcast under [[verifyBroadcastVectors]], SHUFFLE_HASH above
    * — never the SortMergeJoin that sorts the pair relation. */
  private def cosVerify(e: DataFrame, cand: DataFrame, t: Double,
      nVecs: Long): DataFrame =
    cand
      .join(sizedBuildSide(e.select(col("vec_id").as("ia"),
        col("v").as("va"), col("nrm").as("na")), nVecs), "ia")
      .join(sizedBuildSide(e.select(col("vec_id").as("ib"),
        col("v").as("vb"), col("nrm").as("nb")), nVecs), "ib")
      .select(col("ia"), col("ib"),
        round(VectorOps.cosinePre(VectorOps.dot(col("va"), col("vb")),
          col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") >= t)

  /** [[cosVerify]] for candidate relations WITH duplicates (multi-table /
    * multi-cell / both-ways probes): dedup is fused into the verify
    * join's own aggregation — `groupBy(ia).collect_set(ib)` dedups inside
    * the exchange that partitions candidates for the ia-side join,
    * instead of a standalone distinct shuffle first (the same fusion as
    * the Jaccard verifyPairs; on the scale study's heaviest query, q64 at
    * x8, the distinct was a full extra pass over a ~60k-pair-dense
    * candidate relation). Per-ia fanout is bounded by the near-dup
    * neighborhood size. */
  private def cosVerifyGrouped(e: DataFrame, cand: DataFrame, t: Double,
      nVecs: Long, maxBucket: => Option[Long] = None): DataFrame =
    cosVerify(e, dedupFused(cand, maxBucket), t, nVecs)

  /** EXACT incremental embedding near-dup (registered as q98) — the
    * onboarding shape of [[jaccardPairsIncremental]] (q96) ported to the
    * embedding family: all cosine >= t pairs INVOLVING the incoming batch,
    * without ever generating an existing-existing candidate, probing a
    * stored per-cell corpus index instead of rescanning the pair space.
    *
    * Where q96's exactness comes from Bayardo's prefix-filter guarantee,
    * here it comes from the spherical triangle inequality: the index is
    * k-means cells over the corpus (the [[semdedup]] codebook machinery)
    * plus one angular radius per cell, `amax(c) = max angle(member,
    * centroid)`. For a query q, any x with `cos(q, x) >= t` satisfies
    * `angle(q, cell(x)) <= acos(t) + amax(cell(x))`, so probing exactly
    * the cells q cannot rule out ([[VectorExpressions.centroidsAbove]],
    * one codegen'd loop over the broadcast codebook) loses no pair, and
    * every candidate is verified with the exact cosine — approximation
    * NEVER enters; pruning only sheds work.
    *
    * 100 TB shape: the corpus never shuffles — candidates come from an
    * equi join on `cid` against the (bucketed-by-cid, at scale) stored
    * index, with the exploded incoming probe side small enough to
    * broadcast for a bounded daily batch. Cost is |batch| x (unpruned
    * cell mass): on corpora whose embedding space clusters (real text
    * corpora), most cells prune; on this near-uniform synthetic corpus
    * the t=0.4 ball (66 deg) exceeds every cell radius and the bound
    * keeps all cells — the measured worst case, where the run degenerates
    * to the batch x corpus GEMM that is also the exact-search floor in
    * dense 64-d (no sound index can prune below it). Workloads that can
    * trade ~1% recall for bucket-bounded candidates use
    * [[embeddingPairsLshIncremental]] — same probe-only shape over the
    * hyperplane-code index, property-tested equivalent to q64 restricted
    * to the batch.
    *
    * `e` must carry (vec_id, v, nrm) ([[Similarity.prepared]] shape). */
  def embeddingPairsIncrementalExact(e: DataFrame, t: Double,
      isIncoming: Column => Column,
      clusterTarget: Long = SEMDEDUP_CLUSTER,
      ordered: Boolean = true): DataFrame =
    probeCellIndex(buildCellIndex(e, t, clusterTarget), isIncoming, ordered)

  /** A stored angular cell index over a corpus: the k-means cells, the
    * per-cell probe thresholds (cos(acos t + amax), the triangle-
    * inequality bound), the cid-assigned corpus, and the cached source
    * frame the exact verify reads. At production scale this is what gets
    * PERSISTED (idx bucketed by cid, cents/thr as a tiny sidecar) and
    * probed by every daily batch — the build is amortized across
    * batches, so a batch's marginal cost is [[probeCellIndex]] alone
    * (the q98_probe_stored scale study measures exactly that split). */
  final case class CellIndex(e: DataFrame, idx: DataFrame,
      cents: Seq[Seq[Double]], thr: IndexedSeq[Double], t: Double, n: Long)

  /** Build the [[CellIndex]] for threshold `t`: one corpus pass for the
    * codebook (Lloyd rounds on the cached frame), one for cid
    * assignment, one partial-agg for the per-cell angular radius. */
  def buildCellIndex(e: DataFrame, t: Double,
      clusterTarget: Long = SEMDEDUP_CLUSTER): CellIndex = {
    val s = e.sparkSession
    import s.implicits._
    val ec = graft.Caches.lease(e)
    val n = ec.count()
    val c = semdedupCells(n, clusterTarget)
    val cents = Similarity.trainCentroids(ec, c, Similarity.LLOYD_ROUNDS,
      knownTotal = n)
    val idx = ec.withColumn("cid", Similarity.nearestCid(col("v"), cents))
    val centDf = cents.zipWithIndex.map { case (cv, i) => (i, cv) }
      .toDF("cid", "cent")
    // per-cell angular radius; zero-norm members carry no angle (and can
    // be in no cosine pair, so excluding them loses nothing)
    val amaxRows = idx.filter(col("nrm") > 0)
      .join(broadcast(centDf), "cid")
      .select(col("cid"), acos(least(lit(1.0), greatest(lit(-1.0),
        try_divide(VectorOps.dot(col("v"), col("cent")), col("nrm"))))).as("a"))
      .groupBy(col("cid")).agg(max(col("a")).as("amax"))
      .collect()
    val amax = Array.fill(c)(Double.NaN)
    amaxRows.foreach(r => amax(r.getInt(0)) = r.getDouble(1))
    val tAng = math.acos(t)
    val thr = (0 until c).map { j =>
      if (amax(j).isNaN) 2.0 // empty cell: no members, never probed
      else if (tAng + amax(j) >= math.Pi) -1.0 - 1e-9 // wraps: keep cell
      // 1e-9 angular-bound slack swamps fp error in amax/the probe dot;
      // slack can only ADD candidates, and candidates are exactly verified
      else math.cos(tAng + amax(j)) - 1e-9
    }
    CellIndex(ec, idx, cents, thr, t, n)
  }

  /** Probe a [[CellIndex]] with the `isIncoming` slice of the corpus:
    * each incoming vector fans out to exactly the cells the triangle
    * inequality cannot rule out, candidates equi-join the stored index
    * by cid, and every candidate is exactly verified — the output is
    * EXACT. This is a bounded daily batch's MARGINAL cost against a
    * stored index; nothing here rescans the pair space. */
  def probeCellIndex(ix: CellIndex, isIncoming: Column => Column,
      ordered: Boolean = true): DataFrame = {
    val s = ix.e.sparkSession
    val probes = ix.idx.filter(isIncoming(col("vec_id")))
      .select(col("vec_id").as("q"),
        explode(graft.functions.expressions.VectorExpressions.centroidsAbove(
          col("v"), col("nrm"), ix.cents, ix.thr)).as("cid"))
    val cand = probes
      .join(sizedBuildSide(
        ix.idx.select(col("vec_id").as("x"), col("cid")), ix.n,
        NARROW_ROW_BYTES), Seq("cid"))
      .filter(col("q") =!= col("x"))
      // normalize: an incoming-incoming pair may arrive both ways;
      // cosVerifyGrouped dedups inside its own first exchange
      .select(least(col("q"), col("x")).as("ia"),
        greatest(col("q"), col("x")).as("ib"))
    // tier 1 is free: n was already counted for the codebook size
    val out = cosVerifyGrouped(ix.e, cand, ix.t, ix.n,
      maxBucket = tieredProbe(s)(ix.n)(maxBucketOf(ix.idx, Seq(col("cid")))))
    // presentation order only when asked: the sort's range sampling
    // re-executes the verify-join tail, which the gate never needs
    if (ordered) out.orderBy(col("ia"), col("ib")) else out
  }

  /** Incremental hyperplane-LSH near-dup — [[embeddingPairsLsh]] (q64)
    * with candidate probes generated ONLY from the incoming batch against
    * the full-corpus code index, exactly as [[jaccardPairsIncremental]]
    * probes the prefix index. Because a pair matches a table iff their
    * codes sit within the probe radius — a symmetric condition — the
    * output equals q64's pair relation restricted to incoming-involving
    * pairs (DedupProps property), so recall vs exact is q64's (~0.99
    * measured) while candidate work shrinks from corpus-sized to
    * batch-sized. This is the sublinear daily-onboarding path; q98
    * (registered) is the exact one. */
  def embeddingPairsLshIncremental(s: SparkSession, d: String,
      isIncoming: Column => Column, targetBucket: Long = 32,
      radius: Int = 3, nTables: Int = 2): DataFrame = {
    val e = graft.Caches.lease(embeddings(s, d).select(
      col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v"))))
    val p = Similarity.planesForCorpus(e.count(), targetBucket)
    probeLshIndex(lshCodeIndex(e, p, nTables),
        e.filter(isIncoming(col("vec_id"))), p, radius, nTables)
      .orderBy(col("ia"), col("ib"))
  }

  /** The stored hyperplane-code index for embedding onboarding — the
    * embedding analog of [[prefixIndex]]: per corpus vector, its
    * `nTables` sign codes plus the vector and norm for in-row exact
    * verification. One row per (vec_id, table); at scale it is written
    * bucketed on (t, code) so probe joins co-locate and the corpus never
    * shuffles. `e` must carry (vec_id, v, nrm). */
  def lshCodeIndex(e: DataFrame, p: Int, nTables: Int = 2): DataFrame =
    e.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(array((0 until nTables).map(t =>
        Similarity.lshCode(col("v"), p, t)): _*)).as(Seq("t", "code")))

  /** Batch probe of an incoming vector frame against a stored
    * [[lshCodeIndex]] (overlapping or disjoint with the incoming set):
    * incoming codes fan out to their probe ring, candidates come from the
    * (t, code) equi join, and every candidate is exactly verified. The
    * streaming twin ([[graft.streaming.StreamingOps.incrementalEmbedProbe]])
    * runs the same probe per micro-batch against the same index, but
    * deliberately emits only incoming-vs-corpus pairs — the batch probe
    * ALSO emits incoming-incoming pairs (the pair-side self-join below),
    * so StreamingSpec pins parity on the incoming-vs-corpus restriction
    * of this output, not on the full pair set. */
  def probeLshIndex(index: DataFrame, incoming: DataFrame, p: Int,
      radius: Int = 3, nTables: Int = 2, threshold: Double = 0.4): DataFrame = {
    val r = math.min(radius, Similarity.ringBoundedRadius(p, radius))
    val probes = lshCodeIndex(incoming, p, nTables)
      .select(col("vec_id").as("q"), col("t"),
        explode(array(Similarity.probeMasks(p, r).map(m =>
          col("code").bitwiseXOR(lit(m))): _*)).as("code"))
    // TWO candidate joins, unioned on the PAIR side (the
    // [[probeMinhashBands]] shape): (a) probe ring vs the stored index —
    // the corpus-sized join, build side kept pristine so a (t, code)-
    // bucketed index keeps its partitioning; (b) probe ring vs the
    // batch's own raw codes — batch x batch, so two genuinely NEW vectors
    // absent from the index whose codes sit within the probe radius still
    // pair (no containment precondition). Overlapping batches produce
    // duplicate candidates that cosVerifyGrouped's fused dedup removes.
    // Sizing: exact code fanout (nTables rows per vector) prices the
    // self side without a second count job.
    val nIdx = index.count()
    val nIncCodes = nTables * incoming.count()
    val incCodes = lshCodeIndex(incoming, p, nTables)
      .select(col("vec_id").as("x"), col("t"), col("code"))
    def pairsAgainst(build: DataFrame, nBuild: Long) =
      probes.join(sizedBuildSide(build, nBuild, NARROW_ROW_BYTES), Seq("t", "code"))
        .filter(col("q") =!= col("x"))
        .select(least(col("q"), col("x")).as("ia"),
          greatest(col("q"), col("x")).as("ib"))
    val cand = pairsAgainst(
        index.select(col("vec_id").as("x"), col("t"), col("code")), nIdx)
      .unionByName(pairsAgainst(incCodes, nIncCodes))
    // verify-side vectors: the index's (one row per vec at t=0) plus the
    // incoming frame — dedup'd so an overlapping incoming set (the q96
    // idiom, incoming subset of corpus) contributes each vector once
    val vecs = index.filter(col("t") === 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .union(incoming.select(col("vec_id"), col("v"), col("nrm")))
      .dropDuplicates("vec_id")
    // tier 1: stored + incoming code rows bound any single bucket; the
    // refined probe (rare) aggregates over both relations
    cosVerifyGrouped(vecs, cand, threshold, nIdx + nIncCodes,
      maxBucket = tieredProbe(index.sparkSession)(nIdx + nIncCodes)(
        maxBucketOf(index.select(col("t"), col("code"))
          .unionByName(incCodes.select(col("t"), col("code"))),
          Seq(col("t"), col("code")))))
  }

  /** Per-doc arrays for the AllPairs prefix join, from ONE aggregation:
    * `ws` = the doc's sorted token set (exact-verification side) and
    * `prefix` = the first |d| - ceil(t*|d|) + 1 tokens under the global
    * rarest-first (df, word) order. Any pair with Jaccard >= t must share a
    * prefix token (Bayardo et al., WWW'07), and a universal stopword
    * (max df) sorts LAST in every document, so it lands in no prefix and
    * its D^2-pair bucket never exists. */
  private def docPrefixArrays(toks: DataFrame, t: Double): DataFrame = {
    // `toks` feeds BOTH the df aggregation and the per-doc rejoin; consumed
    // directly, its upstream (the fused tokenize+explode — the family's
    // dominant per-row work) executes twice. Group the tokens per doc ONCE
    // into a leased array frame and re-explode that for both consumers:
    // the second tokenize pass disappears for one token-mass shuffle
    // (measured q68 ~21-26 -> 13.8 executor-CPU-s at sf0.1, q65 ~9-11 -> 6.0,
    // q139 ~20-27 -> 9.4; the spread repartition upstream keeps the saved
    // pass parallel at every core count).
    // collect_list keeps duplicates, so df counts and the downstream tw
    // relation are IDENTICAL for any input, distinct-per-doc or not.
    val docsArr = graft.Caches.lease(toks
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(collect_list(col("word")).as("wl")))
    val ex = docsArr.select(col("doc_id"), col("lang"), col("source"),
      explode(col("wl")).as("word"))
    val dfreq = ex.groupBy(col("word")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, "word")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sort_array(collect_list(struct(col("df"), col("word")))).as("tw"))
      .select(col("doc_id"), col("lang"), col("source"),
        transform(col("tw"), x => x.getField("word")).as("byrank"))
      .select(col("doc_id"), col("lang"), col("source"),
        array_sort(col("byrank")).as("ws"),
        slice(col("byrank"), lit(1),
          (size(col("byrank")) - ceil(size(col("byrank")) * t) + 1).cast("int"))
          .as("prefix"))
  }

  /** The stored-index shape for incremental onboarding (batch q96 and the
    * streaming probe): per-doc sorted token set `ws` (exact-verification
    * side) + Bayardo `prefix` (the only tokens that ever key a candidate
    * join), per (doc_id, lang, source). */
  def prefixIndex(toks: DataFrame, t: Double): DataFrame =
    docPrefixArrays(toks, t)

  /** Flattened prefix index (doc_id, lang, source, word) — the only tokens
    * that ever key a candidate join. */
  def prefixTokens(toks: DataFrame, t: Double): DataFrame =
    docPrefixArrays(toks, t)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(col("prefix")).as("word"))

  /** Output-identical to [[jaccardPairsExact]] (same rounding, same rows)
    * but candidates come from the prefix index and the exact verification
    * joins by doc id (bounded per-doc arrays) — no token-df skew bomb. */
  def jaccardPairsPrefix(toksIn: DataFrame, t: Double): DataFrame =
    jaccardPairsPrefixUnordered(toksIn, t).orderBy(col("ia"), col("ib"))

  /** The pair relation without the presentation sort — consumers that
    * re-shuffle anyway (q68's closure) must not pay a global order. */
  def jaccardPairsPrefixUnordered(toksIn: DataFrame, t: Double): DataFrame = {
    val docs = graft.Caches.lease(docPrefixArrays(toksIn, t)) // candidates + both verify sides
    // no standalone distinct: a pair arrives once per shared prefix token
    // and verifyPairs dedups inside its own first exchange
    val cand = prefixSide(docs, "ia").join(prefixSide(docs, "ib"), Seq("wk"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
    verifyPairs(docs, cand, t)
  }

  /** Incremental near-dup — the daily-onboarding pattern at 100 TB: exact
    * Jaccard >= t pairs INVOLVING the incoming batch, without ever
    * generating an existing-existing candidate. Bayardo's prefix-filter
    * guarantee is per-member (J(a,b) >= t implies prefix(a) and prefix(b)
    * intersect), so probing ONLY the incoming docs' prefixes against the
    * full corpus's prefix index catches every qualifying pair with an
    * incoming member. Candidate work is ~|incoming| x bucket sizes — the
    * full-corpus scan builds only the (stored-index-shaped) prefix/token
    * arrays, linear in the corpus, never its pair space. */
  def jaccardPairsIncremental(toksIn: DataFrame, t: Double,
      isIncoming: Column => Column): DataFrame = {
    val docs = graft.Caches.lease(docPrefixArrays(toksIn, t))
    val cand = prefixSide(docs.filter(isIncoming(col("doc_id"))), "q")
      .join(prefixSide(docs, "c"), Seq("wk"))
      .filter(col("q") =!= col("c"))
      // normalize: an incoming-incoming pair may arrive both ways;
      // verifyPairs dedups inside its own first exchange
      .select(least(col("q"), col("c")).as("ia"),
        greatest(col("q"), col("c")).as("ib"))
    verifyPairs(docs, cand, t)
  }

  /** One side of the candidate equi join: the doc's prefix tokens keyed on
    * xxhash64(lang, source, word) — one 8-byte key instead of three
    * strings, so the prefix-index shuffle moves a fraction of the bytes. A
    * hash collision can only ADD a candidate (equal triples always collide
    * to equal keys), and every candidate is exactly verified in
    * [[verifyPairs]] — including the scope equality, which closes the
    * cross-scope-collision hole the structural join never had. */
  private def prefixSide(docs: DataFrame, n: String): DataFrame = docs
    .select(col("lang"), col("source"), col("doc_id").as(n),
      explode(col("prefix")).as("word"))
    .select(col(n), xxhash64(col("lang"), col("source"), col("word")).as("wk"))

  /** Exact-Jaccard verification of a candidate (ia, ib) relation against
    * the docs' full token arrays; emits only pairs clearing `t`.
    *
    * The candidate relation may contain DUPLICATES (one row per shared
    * prefix token / per probe direction): dedup is FUSED into the verify
    * join's own aggregation ([[dedupFused]] — no separate distinct
    * shuffle, which measured as one whole AQE stage of q65's critical
    * path; at sf0.1 the query is stage-latency-bound, not volume-bound).
    * Per-ia fanout is bounded by the near-dup neighborhood size — the
    * same bound q68's components rely on — so the collected set never
    * approaches corpus scale; corpora where it would are what
    * `spark.graft.dedupSalt` exists for. */
  private def verifyPairs(docs: DataFrame, cand: DataFrame, t: Double): DataFrame =
    dedupFused(cand,
      // tier 1 warms the docs cache the verify join needs anyway; a
      // prefix-token bucket can never outgrow its (lang, source) scope
      maxBucket = tieredProbe(docs.sparkSession)(
        maxBucketOf(docs, Seq(col("lang"), col("source"))).getOrElse(0L))(
        maxBucketOf(prefixSide(docs, "p"), Seq(col("wk")))))
      .join(docs.select(col("doc_id").as("ia"), col("ws").as("wsa"),
        col("lang").as("la"), col("source").as("sa")), "ia")
      .join(docs.select(col("doc_id").as("ib"), col("ws").as("wsb"),
        col("lang").as("lb"), col("source").as("sb")), "ib")
      .filter(col("la") === col("lb") && col("sa") === col("sb"))
      .select(col("ia"), col("ib"),
        // both sides are array_sort outputs: the codegen'd sorted merge
        // counts distinct common tokens without array_intersect's per-pair
        // hash set + result array (allocation-free; equality with
        // size(array_intersect) pinned in SortedIntersectSizeSpec)
        expressions.SortedIntersectSize.sortedIntersectSize(
          col("wsa"), col("wsb")).as("i"),
        size(col("wsa")).as("sza"), size(col("wsb")).as("szb"))
      .select(col("ia"), col("ib"),
        round(col("i") * lit(1.0) / (col("sza") + col("szb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= t)

  /** SimHash signature width: 60 bits, the top of what one md5's first
    * 15 hex chars carry as a non-negative BIGINT in BOTH engines — md5
    * (not xxhash64) is what lets q37 ship a full DuckDB oracle
    * (`('0x' || substr(md5(w),1,15))::BIGINT` equals Spark's
    * `conv(substring(md5(w),1,15),16,10)` value-for-value). 4 chunks of
    * 15 bits keep the Manku k=3 pigeonhole exactness. */
  val SIMHASH_BITS = 60
  val SIMHASH_CHUNK = SIMHASH_BITS / 4

  /** The per-word 60-bit hash both engines reproduce. */
  private def simhashWordHash(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** SimHash: 60-bit signature; bit b set iff sum of (+tf / -tf) weighted
    * by bit b of the word's md5-derived hash is positive.
    *
    * Registered shape: (doc, word) tf groupBy + 64 bit-sum aggregates —
    * two partial-aggregated exchanges whose volume after the map-side
    * combine is one row per (doc, distinct word). The shuffle-free
    * [[simhashRowwise]] twin folds the weights inside the row
    * (value-identical, spec-pinned) but runs ~2x slower here: its
    * higher-order-function lambdas evaluate interpreted, outside
    * whole-stage codegen. Pick the twin when network bandwidth, not CPU,
    * binds the cluster. */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashExploded(documentsSpread(s, d))

  /** Shuffle-free twin of [[simhash]]: summing +/-1 per token OCCURRENCE
    * equals the per-word tf-weighted sum (sum over occurrences == sum over
    * words of tf * sign), so the 60 bit weights fold inside the row and no
    * (doc, word) tf aggregation ever shuffles. Token-less docs are
    * filtered (the exploded groupBy never emits them). DedupSpec pins
    * value identity on the real corpus; see [[simhash]] for the measured
    * CPU-vs-network trade. */
  def simhashRowwise(docs: DataFrame): DataFrame = {
    val hashes = transform(tokens(col("text")), w => simhashWordHash(w))
    val bitWeight = (b: Int) =>
      aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
    val assembled = (0 until SIMHASH_BITS)
      .map(b => when(bitWeight(b) > 0, lit(1L << b)).otherwise(lit(0L)): Column)
      .reduce(_ + _) // bit positions are disjoint, so + == bitwise OR
    docs.select(col("doc_id"), hashes.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** The exploded (doc, word) tf form behind [[simhash]]. */
  def simhashExploded(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("h", simhashWordHash(col("word")))
    val bitSums = (0 until SIMHASH_BITS).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"w_$b")
    }
    val assembled = (0 until SIMHASH_BITS)
      .map(b => when(col(s"w_$b") > 0, lit(1L << b)).otherwise(lit(0L)): Column)
      .reduce(_ + _)
    tf.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q34_dedup_exact",
      (s, d) => {
        val fp = documents(s, d).select(
          col("lang"), col("doc_id"),
          md5(col("text")).as("fp_exact"),
          TextAnalysis.canonicalFingerprint(col("text")).as("fp_canon"))
        val survivors = fp.groupBy(col("fp_canon"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_sz"))
        fp.join(survivors, "fp_canon")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("fp_exact")).as("n_exact_distinct"),
            countDistinct(col("fp_canon")).as("n_canon_distinct"),
            count(when(col("doc_id") === col("keep_id"), 1)).as("n_survivors"),
            count(when(col("group_sz") > 1, 1)).as("n_in_dup_groups"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH fp AS (
          SELECT lang, doc_id,
                 md5(text) AS fp_exact,
                 md5(array_to_string(list_sort(list_distinct($SQL_TOKENS)), ' ')) AS fp_canon
          FROM documents),
        g AS (SELECT fp_canon, min(doc_id) AS keep_id, count(*) AS group_sz
              FROM fp GROUP BY fp_canon)
        SELECT lang,
               count(*) AS n_docs,
               count(DISTINCT fp_exact) AS n_exact_distinct,
               count(DISTINCT fp_canon) AS n_canon_distinct,
               count(CASE WHEN doc_id = keep_id THEN 1 END) AS n_survivors,
               count(CASE WHEN group_sz > 1 THEN 1 END) AS n_in_dup_groups
        FROM fp JOIN g USING (fp_canon)
        GROUP BY lang
        ORDER BY lang"""),
      "exact dedup: hash-groupBy on content fingerprint, min-id survivor policy"),

    // NOTE: the naive inverted-index pair join (jaccardPairsExact) is
    // deliberately NOT registered: a token appearing in D docs yields
    // ~D^2/2 candidates, so its candidate count is unbounded in token df —
    // the registry is the product surface, and every registered query must
    // carry a scale-sane plan. q65 answers the identical oracle with the
    // prefix-filtered join; the naive form stays as the verification
    // baseline (DedupSpec proves them row-identical on a stopword-bombed
    // corpus).
    QueryDef(
      "q36_minhash_lsh",
      (s, d) =>
        // row-wise signatures: the only corpus-sized shuffle left in this
        // plan is the (scope, band, bh) bucket join itself
        // no output orderBy: the gate sorts rows before comparing, and a
        // global sort here would range-sample the whole LSH pipeline (a
        // second execution of its tail — measured +1.3 s at sf0.1)
        minhashPairsFromSigs(
          minhashSignaturesRowwise(documentsSpread(s, d), Seq("lang", "source")),
          Seq("lang", "source"), 0.75,
          // auto-salt tier-1 bound straight off the raw table (2 columns)
          scopeBound = Some(documents(s, d)
            .groupBy(col("lang"), col("source")).count()
            .agg(max("count")).head.getLong(0))),
      // Full oracle (sha2-256 permutations are engine-reproducible,
      // unlike the old xxhash64 family): DuckDB rebuilds the identical
      // signatures, band buckets, candidate pairs, and estimates
      // string-for-string. est_jaccard = matches/32 is an exact binary
      // double in both engines, so the hash gate compares it safely.
      Some(s"""
        WITH toks AS (
          SELECT DISTINCT doc_id, lang, source,
                 unnest($SQL_TOKENS) AS word
          FROM documents),
        perm AS (
          SELECT doc_id, lang, source, i,
                 min(substr(sha256((i // 8)::varchar || ':' || word),
                            (i % 8) * 8 + 1, 8)) AS s
          FROM toks, range(32) t(i)
          GROUP BY 1, 2, 3, 4),
        banded AS (
          SELECT doc_id, lang, source, i // 4 AS band,
                 md5(string_agg(s, '|' ORDER BY i)) AS bh
          FROM perm
          GROUP BY 1, 2, 3, i // 4),
        cand AS (
          SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
          FROM banded x JOIN banded y
            ON x.lang = y.lang AND x.source = y.source
           AND x.band = y.band AND x.bh = y.bh
           AND x.doc_id < y.doc_id),
        est AS (
          SELECT c.ia, c.ib,
                 sum(CASE WHEN pa.s = pb.s THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
          FROM cand c
          JOIN perm pa ON pa.doc_id = c.ia
          JOIN perm pb ON pb.doc_id = c.ib AND pb.i = pa.i
          GROUP BY 1, 2)
        SELECT ia, ib, est_jaccard
        FROM est WHERE est_jaccard >= 0.75
        ORDER BY ia, ib"""),
      "MinHash(32 perms from sha2-256 draws) + LSH(8 bands x 4): shingle->minhash->band->bucket-join"),

    QueryDef(
      "q37_simhash",
      (s, d) => {
        // SimHash near-dup at the Manku k=3 operating point (Manku, Jain
        // & Sarma, WWW'07): bucket by 15-bit signature chunks and verify
        // by bit_count(xor). With 4 chunks, 3 bit flips cannot dirty all
        // of them — pigeonhole makes candidate generation EXACT for
        // hamming<=3, so the output is the complete <=3 pair relation,
        // not an approximation. (The old <=6 verify emitted a 4..6 band
        // whose members were only found when their flips spared a chunk —
        // silent partial recall; exactness is worth the stricter,
        // standard threshold.)
        val sh = graft.Caches.lease(simhash(s, d))
        val chunked = sh.select(
          col("doc_id"), col("simhash"),
          explode(array((0 until 4).map(c =>
            struct(lit(c).as("c"),
              shiftright(col("simhash"), c * SIMHASH_CHUNK)
                .bitwiseAND((1L << SIMHASH_CHUNK) - 1).as("chunk"))): _*)).as("ck"))
          .select(col("doc_id"), col("simhash"), col("ck.c"), col("ck.chunk"))
        chunked.alias("x").join(chunked.alias("y"), Seq("c", "chunk"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
        // unordered output: the gate sorts rows itself (see q65)
      },
      // Full oracle: the md5-derived word hash is engine-reproducible, so
      // DuckDB rebuilds the identical signatures (60 conditional tf sums),
      // chunk buckets, and hamming distances. bit_count is cast to INT to
      // match Spark's type.
      Some(SIMHASH_ORACLE),
      "SimHash 60-bit near-dup, Manku k=3: chunk-bucketed candidates are EXACT by pigeonhole"),

    // NOTE: the brute-force cosine pair scan ([[embeddingPairsBrute]],
    // formerly registered as q38) is deliberately NOT in the registry:
    // its pair space is O(N^2) by construction, and the registry is the
    // 100 TB product surface — no registered query may carry a cost
    // quadratic in the corpus. q64 is the sole registered embedding
    // near-dup; DedupSpec still pins q64's recall against the brute
    // baseline, which stays available as a verification function.
    QueryDef(
      "q64_neardup_lsh",
      (s, d) => embeddingPairsLsh(s, d),
      // FULL oracle (sha2-derived hyperplanes — the q36 template applied
      // to the embedding family): DuckDB rebuilds the identical planes,
      // sign codes, radius-capped probe ring, candidate pairs and rounded
      // cosines. Recall vs the exact brute baseline stays pinned in
      // DedupSpec — the oracle proves the engine, the spec the operating
      // point. par.r mirrors min(3, ringBoundedRadius(p, 3, 192)) with
      // the ring sizes written as closed-form binomials.
      Some(s"""
        WITH ${Similarity.SQL_E},
        par AS (
          SELECT p, CASE
                 WHEN 1 + p + p*(p-1)//2 + p*(p-1)*(p-2)//6 <= 192 THEN 3
                 WHEN 1 + p + p*(p-1)//2 <= 192 THEN 2
                 ELSE 1 END AS r
          FROM (SELECT ${Similarity.sqlPlanesFor("(SELECT count(*) FROM e)", 32L)} AS p) pq),
        ${Similarity.sqlLshCtes(nTables = 2)},
        probes AS (
          SELECT c.vec_id AS ia, c.t, xor(c.code, m.m) AS code
          FROM codes c, masks m),
        cand AS (
          SELECT DISTINCT pr.ia, c2.vec_id AS ib
          FROM probes pr JOIN codes c2 ON pr.t = c2.t AND pr.code = c2.code
          WHERE pr.ia < c2.vec_id),
        pairs AS (
          SELECT cand.ia, cand.ib,
                 round(list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0), 6) AS cos
          FROM cand
          JOIN e a ON cand.ia = a.vec_id
          JOIN e b ON cand.ib = b.vec_id)
        SELECT ia, ib, cos FROM pairs WHERE cos >= 0.4
        ORDER BY ia, ib"""),
      "embedding near-dup via hyperplane LSH + multi-probe equi join (default scale path)"),

    QueryDef(
      "q65_jaccard_prefix",
      // unordered: the gate sorts rows before comparing, and the ordered
      // API's global sort range-samples the whole prefix-join pipeline
      // (a second execution of its tail stage)
      (s, d) => jaccardPairsPrefixUnordered(docTokens(s, d), 0.8),
      Some(JACCARD_ORACLE),
      "prefix-filtered exact Jaccard pairs (AllPairs): df-skew-proof inverted-index join"),

    QueryDef(
      "q68_dedup_clusters",
      (s, d) => {
        // the pipeline capstone: near-dup PAIRS are not a removal list —
        // transitive chains (A~B, B~C, A!~C) must collapse to one cluster
        // and keep exactly one survivor. Pairs come from the skew-proof
        // prefix join; the closure is large-star/small-star CC (near-dup
        // components are tiny, so it converges in a couple of rounds at
        // any corpus size). Docs in no pair keep themselves implicitly —
        // the output is the removal/rewrite map for the docs it names.
        // cache the pair frame: connectedComponents consumes it twice
        // (the pinned edge set AND the vertex list) — without the cache
        // the whole prefix-join pipeline would execute twice
        val pairs = graft.Caches.lease(
          jaccardPairsPrefixUnordered(docTokens(s, d), 0.8)
            .select(col("ia").as("src"), col("ib").as("dst")))
        graft.operators.IterativeGraph.connectedComponents(pairs)
          .select(col("xref").as("doc_id"), col("component").as("survivor"),
            (col("xref") =!= col("component")).as("is_dup"))
          .orderBy(col("doc_id"))
      },
      Some(CLUSTER_ORACLE),
      "near-dup clusters: prefix-join pairs -> CC closure -> min-doc survivor per cluster"),

    QueryDef(
      "q96_incremental_dedup",
      (s, d) =>
        // deterministic 10% "incoming batch" (doc_id % 10 == 0) deduped
        // against the remaining 90% "existing corpus" + itself — the
        // daily-onboarding shape. Exact output (= the full pair relation
        // restricted to pairs with an incoming member), so the oracle is
        // plain SQL; only the CANDIDATE work shrinks to the batch.
        // unordered output: the gate sorts rows itself (see q65)
        jaccardPairsIncremental(docTokens(s, d), 0.8, _ % 10 === 0),
      Some(INCREMENTAL_ORACLE),
      "incremental near-dup: incoming-batch prefixes probe the full-corpus prefix index; existing-existing pairs never generate"),

    QueryDef(
      "q138_split_leakage",
      (s, d) => {
        // train/eval LEAKAGE AUDIT — the contamination check every corpus
        // release runs beside the split itself: an exact near-dup pair
        // whose members land in DIFFERENT q70 splits means an eval doc is
        // effectively in training. Composes the skew-proof prefix join
        // (q65's exact pair relation — never all-pairs) with the
        // md5-prefix split, so the audit is engine-exact and its cost is
        // the dedup pass it usually piggybacks on. Unordered output: the
        // gate sorts rows itself (see q65).
        val split = documents(s, d).select(col("doc_id"),
          TextAnalysis.splitCoin(col("doc_id")).as("split"))
        jaccardPairsPrefixUnordered(docTokens(s, d), 0.8)
          .join(split.select(col("doc_id").as("ia"), col("split").as("split_a")), "ia")
          .join(split.select(col("doc_id").as("ib"), col("split").as("split_b")), "ib")
          .filter(col("split_a") =!= col("split_b"))
          .select(col("ia"), col("ib"), col("jaccard"),
            col("split_a"), col("split_b"))
      },
      Some(s"""
        WITH $PAIR_CTES,
        sp AS (
          SELECT doc_id, ${TextAnalysis.sqlSplitCoin("doc_id")} AS split
          FROM documents)
        SELECT ia, ib,
               round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard,
               pa.split AS split_a, pb.split AS split_b
        FROM inter
        JOIN sizes sa ON ia = sa.doc_id
        JOIN sizes sb ON ib = sb.doc_id
        JOIN sp pa ON ia = pa.doc_id
        JOIN sp pb ON ib = pb.doc_id
        WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8
          AND pa.split <> pb.split"""),
      "train/eval leakage audit: exact near-dup pairs crossing the deterministic md5 split"),

    QueryDef(
      "q139_cluster_split",
      (s, d) => {
        // LEAKAGE-FREE split — the repair for what q138 measures: the
        // md5 coin is assigned at near-dup CLUSTER granularity (the
        // survivor's hash decides for every member), so no near-dup pair
        // can straddle train/eval BY CONSTRUCTION. This is how production
        // corpora actually split (cluster-then-split, not split-then-
        // hope). Docs in no cluster keep their own coin (survivor =
        // self). Pairs come from the skew-proof prefix join; the closure
        // is the same large/small-star CC as q68. cache the pair frame:
        // CC consumes it twice (edges AND the vertex list).
        val pairs = graft.Caches.lease(
          jaccardPairsPrefixUnordered(docTokens(s, d), 0.8)
            .select(col("ia").as("src"), col("ib").as("dst")))
        val cc = graft.operators.IterativeGraph.connectedComponents(pairs)
          .select(col("xref").as("doc_id"), col("component").as("surv"))
        documents(s, d).select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("surv"), col("doc_id")).as("survivor"))
          .select(col("doc_id"), col("survivor"),
            TextAnalysis.splitCoin(col("survivor")).as("split"))
        // unordered full-corpus output: the gate sorts rows itself
      },
      Some(s"""
        WITH RECURSIVE $PAIR_CTES,
        pairs AS (
          SELECT ia, ib FROM inter
          JOIN sizes sa ON ia = sa.doc_id
          JOIN sizes sb ON ib = sb.doc_id
          WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.8),
        sym AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib AS a, ia AS b FROM pairs),
        reach(v, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT reach.v, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        labels AS (SELECT v AS doc_id, min(r) AS surv FROM reach GROUP BY v)
        SELECT d.doc_id,
               coalesce(l.surv, d.doc_id) AS survivor,
               ${TextAnalysis.sqlSplitCoin("coalesce(l.surv, d.doc_id)")} AS split
        FROM documents d
        LEFT JOIN labels l ON d.doc_id = l.doc_id"""),
      "leakage-free cluster-level split: near-dup CC survivor's md5 coin decides for the whole cluster"),

    QueryDef(
      "q98_incremental_embed",
      (s, d) =>
        // q96's onboarding shape for the embedding family: the same
        // deterministic 10% incoming batch, probing the stored cell
        // index. Output is EXACT (triangle-inequality pruning + exact
        // verify), so the oracle is plain SQL over the embeddings table.
        embeddingPairsIncrementalExact(
          Similarity.prepared(s, d), 0.4, _ % 10 === 0, ordered = false),
      Some(INCREMENTAL_EMBED_ORACLE),
      "exact incremental embedding near-dup: incoming batch probes the per-cell corpus index; existing-existing pairs never generate"),

    QueryDef(
      "q99_embed_dedup_clusters",
      (s, d) => {
        // the removal-LIST form of the embedding near-dup family — the
        // curation op users actually run at scale: where q64's pair
        // relation is intrinsically output-bound (exact cos>=0.4 pairs
        // grow ~K^2 under corpus amplification), the closed
        // cluster/survivor map is one row per clustered vector, LINEAR
        // in output. Same capstone shape as q68: LSH pairs -> large/
        // small-star CC -> min-vec survivor; vectors in no pair keep
        // themselves implicitly. Cluster membership inherits q64's
        // candidate recall (1.0 at the oracle-gate scale factors, 0.991
        // at sf0.1 where a missed pair can split a cluster — measured in
        // DedupSpec against the exact closure). cache the pair frame: CC
        // consumes it twice (edges AND the vertex list).
        val pairs = graft.Caches.lease(embeddingPairsLshUnordered(s, d)
          .select(col("ia").as("src"), col("ib").as("dst")))
        graft.operators.IterativeGraph.connectedComponents(pairs)
          .select(col("xref").as("vec_id"), col("component").as("survivor"),
            (col("xref") =!= col("component")).as("is_dup"))
          .orderBy(col("vec_id"))
      },
      Some(EMBED_CLUSTER_ORACLE),
      "embedding near-dup clusters: LSH pairs -> CC closure -> min-vec survivor (linear-output removal list)"),

    QueryDef(
      "q79_semdedup",
      (s, d) => semdedup(Similarity.prepared(s, d), SEMDEDUP_CLUSTER, 0.4),
      // FULL oracle against the Verify-dumped codebook
      // (aux_semdedup_centroids — same deterministic trainer the query
      // runs): DuckDB replays the top-P probe ranking (P re-derived from
      // the codebook size, semdedupProbes' +1 rule), shared-cell
      // candidate pairs, the UNROUNDED cosine verify, the per-home-cell
      // removal list and the cluster rollup. Removal recall vs the exact
      // all-pairs baseline stays pinned in DedupSpec.
      Some(s"""
        WITH ${Similarity.SQL_E},
        cents AS (SELECT cid, cent FROM ${Similarity.sqlAux("aux_semdedup_centroids")}),
        ${Similarity.sqlNprobeCte("cents", plusOne = true)},
        ${Similarity.SQL_COARSE},
        probes AS (
          SELECT c.vec_id, c.cid FROM crank c, np WHERE c.rn <= np.np),
        cand AS (
          SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
          FROM probes x JOIN probes y ON x.cid = y.cid
          WHERE x.vec_id < y.vec_id),
        removed AS (
          SELECT DISTINCT ab.cid, cand.ib AS vec_id
          FROM cand
          JOIN e a ON cand.ia = a.vec_id
          JOIN e b ON cand.ib = b.vec_id
          JOIN assign ab ON cand.ib = ab.vec_id
          WHERE list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0) >= 0.4)
        SELECT a.cid, count(*) AS n_vecs, count(r.vec_id) AS n_removed
        FROM assign a
        LEFT JOIN removed r ON a.cid = r.cid AND a.vec_id = r.vec_id
        GROUP BY a.cid
        ORDER BY a.cid"""),
      "SemDeDup: k-means cluster the embedding space, remove within-cluster cosine dups")
  )

  /** Target vectors per SemDeDup cluster: within-cluster pair work is
    * ~N * B, so B is the knob that keeps the quadratic local. 25 keeps the
    * registered query's clusters comfortably mid-sized at sf0.01-0.1. */
  val SEMDEDUP_CLUSTER = 25L

  /** SemDeDup codebook size for an `n`-vector corpus — ONE definition
    * shared by the query ([[semdedupAssignments]]) and the oracle-support
    * dump ([[auxDefs]]): if these ever diverged, Verify would dump a
    * codebook the q79 oracle replays against the wrong centroids. */
  def semdedupCells(n: Long, clusterTarget: Long): Int =
    math.max(2, math.min(65536,
      math.ceil(n.toDouble / clusterTarget).toInt))

  /** Clusters each vector probes for candidates. 1 reproduces the paper's
    * hard assignment — correct when dups are near-identical (cos ~0.95+,
    * which co-clusters almost surely). This corpus's planted near-dups sit
    * at cos ~0.4-0.55 — far enough apart that a Voronoi boundary often
    * separates them — so candidates come from the P nearest cells, the
    * same boundary fix as IVF's nprobe. Pair work is ~N * P^2 * B / 2:
    * still linear in the corpus, P^2 is the recall price (measured in
    * DedupSpec: P>=4 recovers the full removal list — recall 1.0 at
    * sf0.001, floor pinned at 0.8 — where P=1 collapses to ~0.2).
    *
    * P SCALES WITH THE CODE SPACE, floored at 4: a fixed probe count
    * covers a vanishing fraction of cells as C grows with N, so recall
    * would silently decay with scale (measured: P=4 held 1.0 at C=20 but
    * only 0.80 at C=80). log2(C)+1 probes keep pair work ~N * log^2(C) * B
    * — the same probe-vs-code-space rule as [[Similarity.nprobeFor]] and
    * q40's radius scaling. The +1 is measured, not decorative (Q79Tune
    * grid at sf0.1/C=80: P=7 recalls 0.949, P=8 0.977 for ~(8/7)^2 pair
    * work — the first P clearing 0.95 at every tested scale factor;
    * sf0.001/0.01 at their P=6 both measure 1.0). */
  def semdedupProbes(c: Int): Int =
    // integer-exact ceil(log2 c) (smallest p with 2^p >= c) for the same
    // oracle-parity reason as [[Similarity.nprobeFor]]: the q79 oracle
    // re-derives the probe count in SQL from the dumped codebook size
    math.min(c, math.max(4,
      (0 to 31).find(p => (1L << p) >= c).getOrElse(31) + 1))

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): k-means cluster the
    * embeddings, then look for cosine near-dups only among vectors sharing
    * a probed cluster ([[semdedupProbes]] nearest cells per vector) and
    * remove every vector that duplicates a lower-id one. Unlike the
    * paper's fixed k this derives C = ceil(N / clusterTarget), so expected
    * cluster size stays ~clusterTarget and total pair work is
    * ~N * clusterTarget — LINEAR in the corpus, the whole point of
    * clustering before comparing. The codebook reuses [[Similarity]]'s
    * internally-sampled Lloyd trainer (cost ~C^2 * 64, driver state = the
    * codebook). Past the 65536-centroid clamp (N ~ 1.6 M per scope),
    * shard the corpus by a partition key (lang/source) exactly as
    * [[minhashPairs]] scopes its buckets — each scope re-earns the full
    * codebook — or go two-level (cluster within cluster).
    *
    * Output: per-cluster size + removal count (the dup rate the paper
    * reports); recall of the removal set vs the exact all-pairs baseline
    * is measured in DedupSpec. */
  def semdedup(e: DataFrame, clusterTarget: Long, thresh: Double): DataFrame = {
    val (idx, removed) = semdedupAssignments(e, clusterTarget, thresh)
    // materialize the bounded result (one row per cluster, <= the 65536
    // codebook clamp) so the corpus-sized idx cache can be released now
    // instead of at the caller's release
    val out = graft.Caches.checkpoint(idx.select(col("cid"), col("vec_id"))
      .join(removed.withColumn("rm", lit(true)), Seq("cid", "vec_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"))
      .orderBy(col("cid")))
    graft.Caches.free(idx)
    out
  }

  /** Oracle-support dump: the deterministically-trained SemDeDup codebook
    * (same trainer and sizing as [[semdedupAssignments]]), so the q79
    * oracle replays probe ranking, candidate generation and the exact
    * cosine verify against the EXACT centroids the query used. */
  def auxDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aux_semdedup_centroids" -> ((s, d) => {
      import s.implicits._
      val cents = graft.Lease.scoped { l =>
        val e = l.cache(Similarity.prepared(s, d))
        val nAux = e.count()
        Similarity.trainCentroids(e, semdedupCells(nAux, SEMDEDUP_CLUSTER),
          Similarity.LLOYD_ROUNDS, knownTotal = nAux)
      }
      cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "cent")
    }))

  /** The (cid-indexed corpus, removal list) pair behind [[semdedup]] —
    * exposed so DedupSpec can measure removal recall against the exact
    * all-pairs baseline. `idx` comes back leased in [[graft.Caches]] (two
    * consumers); [[semdedup]] frees it once both frames are consumed. */
  def semdedupAssignments(e: DataFrame, clusterTarget: Long,
      thresh: Double, probesOverride: Option[Int] = None): (DataFrame, DataFrame) = {
    // `e` deliberately NOT leased (measured, r20): columnar-caching the
    // vector frame costs more than the parquet re-scans it saves — q79
    // A/B read 2.91→3.11 s best with the lease, and the same pattern
    // (caching the trainer's sampled slice) lost again at x8 scale
    // (q67 3.59→4.95 s). The wide array column is cheap to re-scan and
    // expensive to serialize into the in-memory cache.
    val n = e.count()
    val c = semdedupCells(n, clusterTarget)
    val p = probesOverride.getOrElse(semdedupProbes(c))
    val cents = Similarity.trainCentroids(e, c, Similarity.LLOYD_ROUNDS,
      knownTotal = n)
    // home cell (first probe) labels the output; the full probe list only
    // feeds candidate generation. Shuffle carries (cid, id) probes — the
    // vectors join back by id for exact verification, IVF-style.
    val idx = graft.Caches.lease(e.withColumn("probes",
        Similarity.topProbeCids(col("v"), cents, p))
      .withColumn("cid", element_at(col("probes"), 1)))
    val probed = idx.select(col("vec_id"), explode(col("probes")).as("pc"))
    // a pair may share several probed cells; dedup ("verify once") is
    // fused into the ia-side verify join's aggregation ([[dedupFused]])
    val cand = dedupFused(probed.alias("x")
      .join(probed.alias("y"), Seq("pc"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib")),
      // tier 1 is free: n was already counted for the codebook size (a
      // vector probes a cell at most once, so any cell bucket <= n)
      maxBucket = tieredProbe(e.sparkSession)(n)(
        maxBucketOf(probed, Seq(col("pc")))))
    val removed = cand
      // sized like cosVerify's sides: q79's x32 study point sat in the
      // same silent SMJ flip once idx outgrew the broadcast threshold
      .join(sizedBuildSide(idx.select(col("vec_id").as("ia"),
        col("v").as("va"), col("nrm").as("na")), n), "ia")
      .join(sizedBuildSide(idx.select(col("vec_id").as("ib"), col("cid"),
        col("v").as("vb"), col("nrm").as("nb")), n), "ib")
      // unrounded cosine: the exact baseline (DedupSpec/RecallReport)
      // compares raw cosine >= thresh, so rounding here would admit pairs
      // just below the boundary (e.g. 0.3999996) and break the
      // removed-is-a-subset-of-exact precision contract
      .filter(VectorOps.cosinePre(VectorOps.dot(col("va"), col("vb")),
        col("na"), col("nb")) >= thresh)
      .select(col("cid"), col("ib").as("vec_id"))
      .distinct()
    (idx, removed)
  }
}
