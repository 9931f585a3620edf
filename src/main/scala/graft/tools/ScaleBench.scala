package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Metrics, SparkEntry}

/** Scale-up study: times representative queries at 1x/2x/4x/8x the sf0.1
  * corpus (disjoint-universe amplification, [[ScaleUp]]) and reports the
  * per-query scaling slope `log2(t_8x / t_1x) / 3` — the local[32] answer
  * to "does this plan survive a corpus 8x bigger, and by extension the
  * 100 TB cluster?". Slope ~1 = linear; at these toy sizes fixed per-stage
  * overhead amortizes, so healthy queries sit BELOW 1; anything
  * meaningfully above 1 is a superlinear plan (pair blowup, driver
  * bottleneck, broadcast that stopped fitting) and a bug.
  *
  * Run: tools/run.sh graft.tools.ScaleBench [scaleBase] [maxK]
  * (expects ScaleUp to have written scaleBase/x{1,2,4,..}).
  */
object ScaleBench {

  // Representative scalable headliners: one per cost family. GEDCOM has
  // its own two-size bench leg; q87 writes layout files (not sinkless).
  val Queries = Seq(
    "q01_agg",              // scan + partial/final agg
    "q03_join_shuffle",     // fact-fact shuffle join
    "q07_window_rank",      // partitioned window
    "q11_distinct",         // shuffle distinct
    "q24_tumbling_window",  // time-bucketed agg over events
    "q34_dedup_exact",      // fingerprint hash-groupBy
    "q36_minhash_lsh",      // banded LSH candidate join
    "q40_knn_lsh",          // LSH top-k ANN
    "q61_cc_dataframe",     // iterative large/small-star CC
    "q64_neardup_lsh",      // embedding LSH near-dup (pair list; output-bound)
    "q65_jaccard_prefix",   // prefix-filtered AllPairs
    "q67_knn_ivf",          // IVF top-k ANN
    "q79_semdedup",         // k-means cells + probe
    "q80_shard_packing",    // hierarchical prefix-sum packing
    "q86_knn_ivfpq",        // IVF-PQ ANN
    "q95_bloom_join",       // bloom-pruned shuffle join
    "q96_incremental_dedup",// batch-vs-corpus prefix probe
    "q97_curation_pipeline",// composed dedup->gate->split->pack
    "q98_incremental_embed",// batch-vs-corpus cell-index probe (exact)
    "q99_embed_dedup_clusters", // LSH pairs -> CC removal list (linear output)
    "q100_inverted_index",  // bucketed posting-list aggregation
    "q101_epoch_shuffle",   // hash-bucket + within-shard sort
    "q102_domain_cap",      // k-bounded min-k sample per domain
    "q103_pmi_collocations",// bigram/unigram joins + broadcast stats
    "q104_phrase_search",   // broadcast phrase dim + alignment agg
    "q105_doc_chunking",    // shuffle-free context-window generate
    "q106_cdc_diff",        // full-outer snapshot reconciliation
    "q107_scd2_history",    // one-shuffle double-window intervals
    "q108_fuzzy_join",      // deletion-key candidates + levenshtein verify
    "q109_profile",         // Expand-fused multi-distinct profile
    "q110_bucket_checksums",// per-key-range anti-entropy checksums
    "q111_distribution_drift", // two histograms + k-row spine PSI
    "q112_interval_merge",  // islands & gaps, one shuffle end to end
    "q113_incremental_agg", // algebraic partial-state merge
    "q114_k_anonymity",     // quasi-identifier groupBy report
    "q115_pseudonymize",    // per-row token projection
    "q116_kmv_distinct",    // k-min-hash bounded distinct sketch
    "q117_cdc_chunking",    // rolling-hash boundary generate
    "q118_global_ordinals", // log-depth dense rank
    "q119_pagerank",        // pinned-edge iterative rank joins
    "q120_triangles",       // degree-ordered wedge closure
    "q121_quality_classifier", // explode + partial-agg linear scoring
    "q122_label_propagation",  // plurality rounds, aggregate argmax
    "q123_entity_resolution",  // deletion-key blocking + CC + survivorship
    "q124_bfs_distances",      // frontier join + min-agg rounds
    "q125_assoc_rules",        // per-basket pair gen + integer lift
    "q126_degree_assortativity", // degree moments over edge endpoints
    "q127_kcore",              // bounded peel rounds (semi joins + degree aggs)
    "q128_oov_rate",           // top-V vocab broadcast + per-doc membership agg
    "q129_stratified_sample",  // per-stratum quota in a k-capped aggregator
    "q130_merge_upsert",       // one full-outer keyed MERGE pass
    "q131_cascade_delete",     // semi-join key flow down the FK chain
    "q132_user_journeys",      // per-user sequence window + path ranking
    "q133_pagerank_weighted",  // weighted mass split, one join per round
    "q134_join_cardinality",   // two KMV key sketches + one reference join
    "q135_anomaly_detection",  // bucket partial-agg + trailing-24 window
    "q136_trend_regression",   // one moment pass, exact rational slope
    "q137_winsorized_stats",   // value-histogram rank cuts + clip re-agg
    "q138_split_leakage",      // prefix-join pairs x md5 split audit
    "q139_cluster_split",      // near-dup CC + survivor-coin split
    "q140_bucketed_join",      // bucketed write + exchange-free join
    "q144_hybrid_rrf",         // BM25 + cosine lists, integer RRF fusion
    "q145_hard_negatives",     // label-filtered brute cosine top-k
    "q146_incremental_index",  // algebraic posting-state merge
    "q147_bpe_train",          // word-freq compression + vocab-domain merge rounds
    "q148_winnowing",          // per-doc window-min fingerprints + df-capped match
    "q149_skyline",            // local frontiers + broadcast dominance anti-join
    "q150_bpe_encode",         // pure-map merge-chain encode + per-source agg
    "q151_temperature_mix",    // per-source counts + broadcast coin thresholds
    "q152_sorted_neighborhood",// range-sort ordinals + rank-window candidates
    "q153_bpe_drift",          // two vocab-domain trainings + K-row compare
    "q154_countmin",           // vocab-domain D-fold explode into D*W cells
    "q155_salted_join",        // salted fact exchange x S-replicated dim
    "q157_bigram_lm",          // vocab-domain LM tables + linear batch scoring
    "q158_url_dedup",          // map-side canonicalization + one collapse groupBy
    "q159_percentile_gate",    // map scoring + score-domain histogram cut
    "q160_node_jaccard",       // support-thresholded wedge self-join
    "q161_curation_funnel",    // composed dedup->gate->admission funnel
    "q162_token_budget",       // weighted-quantile token-budget cut
    "q163_length_buckets",     // map-side bucket grid + one groupBy
    "q164_embedding_drift",    // per-(label,pop,dim) integer sums + pivot
    "q165_substring_dedup",    // gram-site-freq groupBy + per-doc extent merge
    "q166_decontamination",    // eval-gram domain join + per-doc overlap agg
    "q167_ppl_buckets",        // LM tables + xent-histogram tercile cuts
    "q168_html_extract",       // array-domain jusText parse, zero exchanges
    "q169_line_quality",       // array-domain line rules, zero exchanges
    "q170_pii_scrub",          // three-regex scrub, pure map
    "q171_warc_extract",       // WARC walk + jusText on payloads, map-side
    "q172_c4_badwords",        // banned-hit regex + line rules, pure map
    "q173_outlink_graph",      // href parse + two host-edge rollups
    "q174_nfc_normalize",      // native normalize expression, pure map
    "q175_gopher_rules",       // array-domain doc-shape rules, zero exchanges
    "q176_anchor_terms",       // anchor-element walk + (dst_host, term) rollup
    "q177_robots_rules",       // robots group-walk fold + prefix argmax, pure map
    "q178_host_rank",          // q173 rollup + tiny-relation pinned rank rounds
    "q179_jsonl_ingest",       // line split + from_json projection, map past fixture
    "q183_warc_binary",        // byte-domain WARC walk + gzip members, one cursor pass
    "q184_nfkc_normalize",     // NFKC fold through the native expression, pure map
    "q185_sitemap_admission",  // sitemap walk + per-host robots fold, map past fixture
    "q186_frontier_schedule",  // admitted URLs -> range-sort + offset ordinals, no host window
    "q187_sitemap_index",      // index walk + child-body join + gz inflate + urlset walk
    "q180_accent_fold",        // NFD + mark strip through the native expression
    "q181_extract_admission",  // parse -> extract -> doc-shape gate, zero exchanges
    "q182_html_meta",          // head-metadata regex extracts + SURT key, pure map
    "q189_frontier_delta",     // full-outer state merge + delta-only de-skewed schedule
    "q190_canonical_collapse") // rel=canonical extract -> keyed collapse groupBy

  /** Out-of-registry study variants, timed like registry queries when
    * named in the roster args.
    *
    * `q98_fixed_batch`: q98's onboarding probe with the incoming batch
    * HELD CONSTANT while the corpus doubles — the claim COVERAGE makes
    * for the 100 TB daily-ingest shape. The registry q98 takes `% 10 == 0`
    * of the AMPLIFIED corpus, so its batch grows with x and pair volume is
    * K² by design; here the batch is the x1 universe's `% 10 == 0` slice
    * (ScaleUp shifts copy i's ids by i*1e9, so `vec_id < 1e9` is exactly
    * the x1 universe at every amplification). Expected slope << 1: cost is
    * |batch| x unpruned-cell mass, linear in corpus, and the fixed
    * per-round overhead amortizes. */
  /** Stored-index scratch: persisted study indexes live OUTSIDE the
    * dataset dirs (writing `_cellindex.parquet` inside `$dir` mutated the
    * sf fixtures the Tokenizer memo documents as immutable — r14 ADVICE),
    * keyed by a content fingerprint of the dataset's embeddings files
    * (name+size+mtime), so a dataset regenerated in-place within one JVM
    * invalidates both the memo and the stored parquet instead of silently
    * probing the old corpus. */
  private def tableFingerprint(dir: String, table: String): String = {
    val files = Option(new java.io.File(s"$dir/$table").listFiles())
      .getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
    java.lang.Long.toHexString(files.foldLeft(1125899906842597L) { (h, f) =>
      h * 31 + (f.getName + ":" + f.length + ":" + f.lastModified).hashCode
    })
  }
  private def scratchStore(dir: String, table: String, name: String): String =
    s"/tmp/graft-scale-index/${dir.replaceAll("[^A-Za-z0-9]+", "_")}-${tableFingerprint(dir, table)}/$name"

  private val cellMemo = scala.collection.mutable.Map.empty[
    String, (Seq[Seq[Double]], IndexedSeq[Double], Long)]
  private val lshMemo = scala.collection.mutable.Map.empty[String, (Int, Long)]

  val Extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    // The r18 verdict's frontier weak, measured at its worst: HALF of
    // all frontier candidates behind ONE authority (the mega-host crawl
    // shape), the skew the registry q186 fixture cannot produce (its
    // hosts are near-uniform). The de-skewed rank (range-sort +
    // partition-offset ordinals) must hold a flat slope here; the
    // r18 per-host window would serialize half the corpus into one
    // partition and go superlinear.
    "q186_megahost" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(s, dir)
      val cands = docs.select(
        when(col("doc_id") % 2 === 0, lit("mega.example"))
          .otherwise(lower(concat(col("source"), lit(".com")))).as("host"),
        col("doc_id").cast("long").as("ord"),
        concat(lit("u"), col("doc_id").cast("string")).as("loc"),
        when(col("doc_id") % 3 === 0,
          concat(lit("0."), (col("doc_id") % 10).cast("string")))
          .otherwise(lit(null).cast("string")).as("priority"))
      val config = cands.select(col("host")).distinct()
        .select(col("host"), lit(1000L).as("delay_ms"))
      graft.sources.Sitemap.frontierSchedule(cands, config)
    }),

    // The opposite extreme (the r19 verdict's residual, measured): host
    // cardinality GROWS with the corpus — one host per 4 candidates, so
    // at x32 the config dim and the host-min frame are corpus-scale
    // relations. The un-hinted joins must let AQE abandon broadcast and
    // plan a shuffle join; the r19 forced `broadcast()` hints would
    // materialize the whole host dim on the driver — a cliff this row
    // exists to keep visible.
    "q186_manyhosts" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(s, dir)
      val cands = docs.select(
        concat(lit("h"), (col("doc_id").cast("long") / 4).cast("string"),
          lit(".example")).as("host"),
        col("doc_id").cast("long").as("ord"),
        concat(lit("u"), col("doc_id").cast("string")).as("loc"),
        when(col("doc_id") % 3 === 0,
          concat(lit("0."), (col("doc_id") % 10).cast("string")))
          .otherwise(lit(null).cast("string")).as("priority"))
      val config = cands.select(col("host")).distinct()
        .select(col("host"),
          ((abs(hash(col("host"))) % 7 + 1) * 1000L).as("delay_ms"))
      graft.sources.Sitemap.frontierSchedule(cands, config)
    }),

    "q98_fixed_batch" -> ((s, dir) =>
      graft.functions.Dedup.embeddingPairsIncrementalExact(
        graft.functions.Similarity.prepared(s, dir), 0.4,
        v => v < 1000000000L && v % 10 === 0, ordered = false)),

    // The production decomposition the fixed-batch run exposed: q98's
    // cost at any batch size is dominated by the per-call index BUILD
    // (Lloyd codebook + cid assignment + radii — linear in corpus,
    // measured slope 0.95 even with the batch held fixed). A real
    // pipeline builds that index ONCE and persists it (idx bucketed by
    // cid, codebook as a sidecar); every daily batch pays only the
    // probe. This variant materializes that split: the first pass
    // builds + writes the index parquet (and memoizes the codebook),
    // the second pass reads the STORED index and probes the fixed x1
    // batch — ScaleBench's min-of-two therefore reports the probe-only
    // marginal cost, the number the 100 TB daily-ingest claim is about.
    "q98_probe_stored" -> ((s, dir) => {
      import graft.functions.Dedup
      val store = scratchStore(dir, "embeddings.parquet", "cellindex.parquet")
      val (cents, thr, n) = cellMemo.getOrElseUpdate(store, {
        val ix = Dedup.buildCellIndex(
          graft.functions.Similarity.prepared(s, dir), 0.4)
        ix.idx.write.mode("overwrite").parquet(store)
        graft.Caches.free(ix.e)
        (ix.cents, ix.thr, ix.n)
      })
      val idx = s.read.parquet(store)
      val e = idx.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("nrm"))
      Dedup.probeCellIndex(
        Dedup.CellIndex(e, idx, cents, thr, 0.4, n),
        v => v < 1000000000L && v % 10 === 0, ordered = false)
    }),

    // The q64 twin of q98_probe_stored (the r14 verdict's directive 4 —
    // generalize the stored-index amortization beyond q98): the first
    // pass persists the hyperplane-code index ([[Dedup.lshCodeIndex]]:
    // one row per (vec, table) carrying code + vector + norm) as parquet
    // and memoizes (p, n); every later pass reads the STORED index and
    // runs only [[Dedup.probeLshIndex]] with the fixed x1 batch —
    // min-of-two therefore reports the probe-only marginal cost, the
    // daily-onboarding number. Registry q64 keeps paying its full
    // build+self-join; this row measures what a production pipeline
    // pays per batch once the index is bucketed out.
    "q64_probe_stored" -> ((s, dir) => {
      import graft.functions.{Dedup, Similarity}
      val store = scratchStore(dir, "embeddings.parquet", "lshindex.parquet")
      val (p, _) = lshMemo.getOrElseUpdate(store, graft.Lease.scoped { l =>
        val e = l.cache(Similarity.prepared(s, dir))
        val n = e.count()
        val planes = Similarity.planesForCorpus(n, 32)
        Dedup.lshCodeIndex(e, planes, 2).write.mode("overwrite").parquet(store)
        (planes, n)
      })
      val index = s.read.parquet(store)
      val incoming = Similarity.prepared(s, dir)
        .filter(org.apache.spark.sql.functions.col("vec_id") < 1000000000L &&
          org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
      Dedup.probeLshIndex(index, incoming, p, 3, 2)
    }),

    // The q36 (text MinHash) member of the stored-index family — the last
    // of the verdict's "q64/q36/q142 rebuild per call" trio with scale
    // fixtures (q142's image corpus is synthesized per call, not
    // amplified by ScaleUp): the first pass persists the row-wise
    // signatures AND their band index ([[Dedup.minhashBandIndex]]) as two
    // narrow parquets; later passes probe the fixed x1 batch (doc_id <
    // 1e9, % 10 == 0 — the standing onboarding slice) with
    // [[Dedup.probeMinhashBands]]. Min-of-two reports probe-only cost.
    "q36_probe_stored" -> ((s, dir) => {
      import graft.functions.Dedup
      import org.apache.spark.sql.functions.col
      val sigStore = scratchStore(dir, "documents.parquet", "mhsigs.parquet")
      val bandStore = scratchStore(dir, "documents.parquet", "mhbands.parquet")
      // mark built only AFTER both writes land: an exception mid-write
      // with the flag pre-set would make every later same-JVM pass read a
      // missing/partial parquet instead of rebuilding (the getOrElseUpdate
      // memos above don't insert on exception; this Set must match)
      if (!mhBuilt.contains(bandStore)) {
        graft.Lease.scoped { l =>
          val sigs = l.cache(Dedup.minhashSignaturesRowwise(
            graft.Tables.documents(s, dir), Seq("lang", "source")))
          sigs.write.mode("overwrite").parquet(sigStore)
          Dedup.minhashBandIndex(sigs, Seq("lang", "source"))
            .write.mode("overwrite").parquet(bandStore)
        }
        mhBuilt.add(bandStore)
      }
      val sigs = s.read.parquet(sigStore)
      val incoming = sigs.filter(col("doc_id") < 1000000000L &&
        col("doc_id") % 10 === 0)
      Dedup.probeMinhashBands(s.read.parquet(bandStore), sigs, incoming,
        Seq("lang", "source"), 0.75)
    }),

    // The q142 (image dHash) member of the stored-index family — the r15
    // verdict's item 5: q142's corpus is synthesized per call, so a naive
    // probe row would measure the PNG synthesizer, not probing. Here the
    // first pass synthesizes an amplified corpus (48 groups per x, the
    // DhashScale convention), decodes it once and persists its band index
    // (content-addressed by the group count — the corpus is a pure
    // function of it); later passes synthesize + decode only the FIXED
    // 96-image x1 incoming slice (g < 48, v in {3, 6}) and probe the
    // stored index. Min-of-two therefore reports probe-only marginal
    // cost, the daily-onboarding number.
    "q142_probe_stored" -> ((s, dir) => {
      import graft.functions.Multimodal
      val k = "x(\\d+)$".r.findFirstMatchIn(dir).map(_.group(1).toInt).getOrElse(1)
      val groups = Multimodal.DHASH_GROUPS * k
      val store = s"/tmp/graft-scale-index/img-g$groups/imgbands.parquet"
      // the store is content-addressed (a pure function of the group
      // count) and persistent, so honor an index a PREVIOUS JVM completed:
      // a committed write always lands _SUCCESS, and rebuilding over it
      // wastes a corpus synthesis + decode per fresh driver (and could
      // clobber it mid-probe under a concurrent second driver). The
      // in-process Set still skips the filesystem probe per pass, and is
      // still set only AFTER the write lands (the q36 retry lesson).
      if (!imgBuilt.contains(store)) {
        if (!new java.io.File(s"$store/_SUCCESS").exists()) {
          Multimodal.imageBandIndex(Multimodal.imageDhashes(
              Multimodal.syntheticImageCorpusOf(s, groups)))
            .write.mode("overwrite").parquet(store)
        }
        imgBuilt.add(store)
      }
      val incoming = Multimodal.imageDhashes(
        Multimodal.syntheticImageSlice(s, groups, Multimodal.DHASH_GROUPS,
          Seq(3, 6)))
      Multimodal.probeImageBandIndex(s.read.parquet(store), incoming, 2)
    }))

  private val mhBuilt = scala.collection.mutable.Set.empty[String]
  private val imgBuilt = scala.collection.mutable.Set.empty[String]

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft-scale")
    val maxK = args.lift(1).map(_.toInt).getOrElse(8)
    // args beyond (base, maxK) restrict the roster — single-query iteration
    val roster = if (args.length > 2) args.drop(2).toSeq else Queries
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ks = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxK).toSeq
    def timeOnce(name: String, dir: String): Double =
      SparkEntry.pass(spark, name)(Metrics.around(spark.sparkContext)(
        Extra.getOrElse(name, SparkEntry.queries(name))(spark, dir)
          .write.format("noop").mode("overwrite").save())).wall
    // warmup
    timeOnce("q01_agg", s"$base/x1")

    val times: Map[String, Map[Int, Double]] = roster.map { q =>
      q -> ks.map { k =>
        val dir = s"$base/x$k"
        val (a, b) = (timeOnce(q, dir), timeOnce(q, dir))
        k -> math.min(a, b)
      }.toMap
    }.toMap

    val kLo = ks.head
    val kHi = ks.last
    val span = math.log(kHi.toDouble / kLo) / math.log(2.0)
    val rows = roster.map { q =>
      val t = times(q)
      val slope = math.log(t(kHi) / t(kLo)) / math.log(2.0) / span
      val cells = ks.map(k => f""""x$k":${t(k)}%.2f""").mkString(",")
      f""""$q":{$cells,"slope":$slope%.2f}"""
    }
    println(s"""{"metric":"scale_slopes","base":"$base","ks":[${ks.mkString(",")}],"queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
