package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fuzzy string matching (entity resolution): join a dirty feed of
  * strings back to a clean roster within a small edit distance.
  *
  * Candidate generation is the SymSpell deletion-neighborhood trick, not
  * a cross join: every string expands to itself plus each single-char
  * deletion (L+1 keys for length L), and ANY two strings within
  * Levenshtein distance 1 share at least one key — a substitution at
  * position i means deleting i from both sides collides, an
  * insertion/deletion means the longer side's deletion collides with the
  * shorter side's identity key. Candidates therefore come from a plain
  * equi join on the key column, each is verified with exact
  * `levenshtein`, and completeness is structural. (Distance-2 matching
  * is the same construction at deletion depth 2.)
  *
  * 100 TB shape: the expansion is map-side (L+1 rows per string, bounded
  * by string length), the join shuffles on deletion keys (AQE broadcasts
  * a small roster side), and nothing is quadratic — the only blowup axis
  * is genuinely-colliding key groups, i.e. actual near-duplicate mass.
  */
object Fuzzy {
  import Tables._

  /** The string plus every single-char-deletion variant, deduped.
    * Guarded for the empty string: Spark's `sequence(1, 0)` DESCENDS
    * ([1, 0]) rather than producing an empty range, so "" gets only its
    * identity key explicitly. */
  def deletionKeys(w: Column): Column =
    when(length(w) === 0, array(w)).otherwise(
      array_distinct(concat(
        array(w),
        transform(sequence(lit(1), length(w)), i =>
          concat(w.substr(lit(1), i - lit(1)), w.substr(i + lit(1), length(w)))))))

  /** All (feed row, roster string) pairs within Levenshtein distance
    * `maxDist` (1 unless the deletion depth is raised), via the deletion-
    * neighborhood candidate join. `feed` must expose `id` and `name`;
    * `roster` must expose `name`. */
  def fuzzyJoin(feed: DataFrame, roster: DataFrame, maxDist: Int = 1): DataFrame = {
    val fk = feed.select(col("id"), col("name").as("feed_name"),
      explode(deletionKeys(col("name"))).as("k"))
    val rk = roster.select(col("name").as("matched_name"),
      explode(deletionKeys(col("name"))).as("k"))
    fk.join(rk, Seq("k"))
      // several deletion keys can collide for one pair (repeated chars);
      // dedupe candidates before the exact verify
      .select(col("id"), col("feed_name"), col("matched_name")).distinct()
      // threshold form: the banded DP abandons a row as soon as the
      // distance provably exceeds maxDist (returns -1), so verify cost is
      // O(len * maxDist) per candidate instead of O(len^2)
      .withColumn("d", levenshtein(col("feed_name"), col("matched_name"), maxDist))
      .filter(col("d") >= 0)
  }

  // The dirty feed both engines derive identically: each part's name with
  // the character at 0-based position (p_partkey % length) dropped —
  // a deterministic one-edit corruption of a known-good roster.
  private val DROP = "p_partkey % length(p_name)"
  private val CORRUPT =
    s"substring(p_name, 1, $DROP) || substring(p_name, $DROP + 2)"

  /** Feed ids are roster ids with bit 40 set — a high-bit TAG, not an
    * additive offset, so the two id spaces cannot collide at ANY scale
    * factor (an additive 10M offset would silently alias once part
    * exceeds 10M rows, corrupting the (key, id) total order both engines
    * sort by — consistently on both sides, so the oracle would never
    * catch it). Roster ids stay below the tag, so min-id survivorship
    * still prefers clean records. Shared by q123 and q152 and
    * interpolated into their oracles — one definition. */
  private val FEED_OFFSET = 1L << 40

  /** One sorted-neighborhood pass (Hernández & Stolfo, "The Merge/Purge
    * Problem for Large Databases", SIGMOD 1995): order records by a sort
    * key, pair every record with the w-1 records that follow it. The
    * global rank is computed WITHOUT a single-partition window: range-
    * partition + local sort, then `zipWithIndex` (per-partition counts →
    * prefix offsets — driver state is one count per partition, the
    * GedcomParser record-numbering discipline). Rank is well-defined by
    * the (key, id) total order, so the output is independent of
    * partition boundaries. Pairing is an equi join on rank: each record
    * explodes into w-1 probe ranks — candidate volume is (w-1)·N,
    * linear at any corpus size, vs the deletion-neighborhood join whose
    * volume tracks colliding-key mass. */
  private[graft] def snmPairs(recs: DataFrame, keyExpr: Column, w: Int): DataFrame = {
    val keyed = recs.select(col("id"), col("name"), col("is_feed"), keyExpr.as("k"))
    // CACHE the sorted frame too: zipWithIndex runs its partition-count
    // job EAGERLY (before any consumer action), and without this cache
    // that job executes the range sort once just to count rows, then the
    // ranked cache's materialization re-sorts from scratch — two sorts
    // where one suffices. Cached here, the count job lands the blocks
    // and the ranked materialization reads them.
    val sorted = graft.Caches.lease(keyed.repartitionByRange(col("k"), col("id"))
      .sortWithinPartitions("k", "id"))
    // CACHE the ranked frame: it crosses an RDD boundary (createDataFrame
    // gives Catalyst no stats) and is consumed TWICE (probe + build side
    // of the rank join) — uncached, every consumer re-runs the range
    // sort through the zipWithIndex lineage and the join strategy is
    // chosen blind, which measured as non-monotonic x8-x32 wobble
    // (2.3 -> 13 s run-to-run on identical data). Cached, the sort runs
    // once and AQE reads real sizes.
    // global ordinals in the internal row domain (r21, guide §4) — same
    // count-job + prefix-offset shape as zipWithIndex, minus the
    // decode-to-Row / re-encode codec passes over every record
    val ranked = graft.Caches.lease(Ordinals.appendGlobalOrdinal(sorted, "r"))
    val probes = ranked.select(col("id").as("a_id"), col("name").as("a_name"),
      col("is_feed").as("a_feed"), col("r"),
      explode(sequence(col("r") + 1, col("r") + (w - 1))).as("rr"))
    val right = ranked.select(col("r").as("rr"), col("id").as("b_id"),
      col("name").as("b_name"), col("is_feed").as("b_feed"))
    probes.join(right, Seq("rr"))
      .filter(col("a_feed") + col("b_feed") === 1)
      .select(
        when(col("a_feed") === 1, col("a_id")).otherwise(col("b_id")).as("feed_id"),
        when(col("a_feed") === 1, col("a_name")).otherwise(col("b_name")).as("feed_name"),
        when(col("a_feed") === 1, col("b_name")).otherwise(col("a_name")).as("matched_name"),
        (col("rr") - col("r")).as("gap"))
  }

  /** SNM window width (rank gap < W pairs). */
  val SNM_W = 16

  /** Multi-pass sorted-neighborhood match: pass 1 sorts by the name,
    * pass 2 by its reverse — a corruption at character k preserves a
    * length-k prefix (pass-1 locality) AND a length-(L-k-1) suffix
    * (pass-2 locality), so the two passes cover both ends; single-pass
    * SNM misses early-position edits by construction, which is exactly
    * why the published algorithm is multi-pass. */
  private[graft] def snmMatch(recs: DataFrame, w: Int = SNM_W): DataFrame = {
    val passes = snmPairs(recs, col("name"), w).withColumn("pass", lit(1))
      .unionByName(snmPairs(recs, reverse(col("name")), w).withColumn("pass", lit(2)))
    passes
      .withColumn("d", levenshtein(col("feed_name"), col("matched_name"), 1))
      .filter(col("d") >= 0)
      .groupBy(col("feed_id"), col("feed_name"), col("matched_name"), col("d"))
      .agg(countDistinct(col("pass")).as("n_passes"), min(col("gap")).as("min_gap"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q108_fuzzy_join",
      (s, d) => {
        val p = part(s, d)
        val feed = p.selectExpr("p_partkey AS id", s"$CORRUPT AS name")
        val roster = p.select(col("p_name").as("name")).distinct()
        fuzzyJoin(feed, roster)
          .withColumnRenamed("id", "p_partkey")
      },
      Some(s"""
        WITH feed AS (
          SELECT p_partkey, $CORRUPT AS feed_name FROM part),
        roster AS (SELECT DISTINCT p_name AS matched_name FROM part)
        SELECT f.p_partkey, f.feed_name, r.matched_name,
               levenshtein(f.feed_name, r.matched_name) AS d
        FROM feed f JOIN roster r
          ON levenshtein(f.feed_name, r.matched_name) <= 1"""),
      "fuzzy string join: SymSpell deletion-key candidates + exact levenshtein verify, no cross join"),

    QueryDef(
      "q123_entity_resolution",
      (s, d) => {
        // End-to-end entity resolution, composed from this repo's own
        // stages so stage-boundary drift can't hide behind individually
        // green pieces (the q97 lesson): two record systems — the clean
        // part roster and a deterministically corrupted feed (ids offset
        // by the bit-40 tag) — are resolved into entity clusters by
        //   (1) blocking+matching: SymSpell deletion-key candidates +
        //       exact banded levenshtein (q108's operator, structurally
        //       complete for distance <= 1),
        //   (2) exact-name identity edges WITHIN each system (same-name
        //       records are duplicates even when no fuzzy bridge exists),
        //   (3) clustering: the large-star/small-star CC fixpoint over
        //       the match edges (q50/q61's operator),
        //   (4) survivorship: min-id record (clean roster ids sort below
        //       feed ids, so clean records win) donates the canonical
        //       name; singletons survive as their own entity.
        // 100 TB shape: every stage is a keyed join or bounded
        // aggregation — candidates are deletion-key equi joins, identity
        // edges group by name, CC is the log-round star iteration, and
        // survivorship is one join back on the component id. Nothing is
        // quadratic in the corpus; the only blowup axis is true
        // duplicate mass.
        val roster = part(s, d)
          .select(col("p_partkey").cast("long").as("rid"),
            col("p_name").as("name"))
        val feed = part(s, d)
          .selectExpr(s"p_partkey + $FEED_OFFSET AS id", s"$CORRUPT AS name")
          .select(col("id").cast("long").as("id"), col("name"))
        val recs = roster.select(col("rid").as("id"), col("name"))
          .unionAll(feed)
        // EVERYTHING pairwise happens on the DISTINCT NAME DOMAIN, never
        // the record stream: records fold into per-name groups (min-id
        // representative + count) with ONE aggregation, the
        // deletion-key/levenshtein match runs over distinct strings, and
        // CC runs on the name-representative graph. Record-level identity
        // edges (a clique, or even a star, per duplicate group) would
        // make the match and the CC grow with duplicate mass — the viral-
        // duplicate axis a 100 TB corpus guarantees — while the name
        // domain is bounded by string entropy. Components are identical:
        // every record is its group's rep by definition of the grouping,
        // and a component's min rep id IS the cluster's min record id
        // (each record's id >= its group's min).
        val groups = recs.groupBy(col("name"))
          .agg(min(col("id")).as("mn"), count(lit(1)).as("cnt"))
        val feedNames = feed.select(col("name")).distinct()
          .join(groups, "name")
          .select(col("mn").as("id"), col("name"))
        val namePairs = fuzzyJoin(feedNames, roster.select(col("name")).distinct())
          .select(col("id").as("src"), col("matched_name").as("name"))
          .join(groups.select(col("name"), col("mn").as("dst")), "name")
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"))
        val labels = graft.operators.IterativeGraph.connectedComponents(namePairs)
          .select(col("xref").cast("long").as("mn"),
            col("component").cast("long").as("comp"))
        val labeled = groups.join(labels, Seq("mn"), "left")
          .select(col("mn"), coalesce(col("comp"), col("mn")).as("cluster"),
            col("cnt"), col("name"))
        labeled.groupBy(col("cluster")).agg(sum(col("cnt")).as("size"))
          .join(labeled.filter(col("cluster") === col("mn"))
            .select(col("cluster"), col("name").as("survivor_name")), "cluster")
          .select(col("cluster"), col("size"), col("survivor_name"))
      },
      Some(s"""
        WITH RECURSIVE roster AS (
          SELECT cast(p_partkey AS bigint) AS id, p_name AS name FROM part),
        feed AS (
          SELECT cast(p_partkey + $FEED_OFFSET AS bigint) AS id, $CORRUPT AS name
          FROM part),
        recs AS (SELECT id, name FROM roster UNION ALL SELECT id, name FROM feed),
        rep AS (SELECT name, min(id) AS mn FROM recs GROUP BY name),
        fuzzy AS (
          SELECT f.id AS a, p.mn AS b
          FROM feed f JOIN roster r ON levenshtein(f.name, r.name) <= 1
          JOIN rep p ON p.name = r.name),
        exact AS (
          SELECT p.mn AS a, x.id AS b
          FROM recs x JOIN rep p ON p.name = x.name
          WHERE x.id <> p.mn),
        edges AS (SELECT a, b FROM fuzzy UNION SELECT a, b FROM exact),
        sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
        reach(v, r) AS (
          SELECT id, id FROM recs
          UNION
          SELECT reach.v, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        labels AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v),
        clusters AS (SELECT cluster, count(*) AS size FROM labels GROUP BY cluster)
        SELECT c.cluster, c.size, r.name AS survivor_name
        FROM clusters c JOIN recs r ON r.id = c.cluster"""),
      "entity resolution pipeline: deletion-key blocking -> levenshtein match -> CC clustering -> min-id survivorship"),

    QueryDef(
      "q152_sorted_neighborhood",
      (s, d) => {
        // The CLASSIC blocking alternative to q108's deletion keys:
        // multi-pass sorted-neighborhood (Hernández & Stolfo 1995) over
        // the same clean-roster + corrupted-feed pair. Same record
        // universe as q123 (feed ids tagged with bit 40 so the (key, id)
        // total order is unambiguous); matches are the lev<=1 pairs the
        // rank windows surface — windowed recall is the operator's
        // documented semantics (the oracle computes the same windowed
        // definition), and the reverse-key second pass is what makes
        // early-position edits reachable at all.
        //
        // 100 TB shape: per pass, ONE range exchange (the sort) + one
        // count-per-partition job for the rank offsets + an equi join on
        // rank with (w-1)-fold map-side expansion — candidates are
        // (w-1)*N regardless of key-collision skew, the axis on which
        // deletion-key blocking degrades.
        val p = part(s, d)
        val recs = p
          .select(col("p_partkey").cast("long").as("id"),
            col("p_name").as("name"), lit(0).as("is_feed"))
          .unionByName(p
            .selectExpr(s"cast(p_partkey + $FEED_OFFSET as bigint) AS id",
              s"$CORRUPT AS name")
            .withColumn("is_feed", lit(1)))
        graft.Lease.scoped(l => snmMatch(l.cache(recs)))
      },
      Some(s"""
        WITH recs AS (
          SELECT cast(p_partkey AS BIGINT) AS id, p_name AS name, 0 AS is_feed
          FROM part
          UNION ALL
          SELECT cast(p_partkey + $FEED_OFFSET AS BIGINT), $CORRUPT, 1 FROM part),
        r1 AS (SELECT id, name, is_feed,
                      row_number() OVER (ORDER BY name, id) AS r FROM recs),
        r2 AS (SELECT id, name, is_feed,
                      row_number() OVER (ORDER BY reverse(name), id) AS r FROM recs),
        cand AS (
          SELECT 1 AS pass, a.id AS a_id, a.name AS a_name, a.is_feed AS a_feed,
                 b.id AS b_id, b.name AS b_name, b.is_feed AS b_feed,
                 b.r - a.r AS gap
          FROM r1 a JOIN r1 b ON b.r > a.r AND b.r <= a.r + ${SNM_W - 1}
          UNION ALL
          SELECT 2, a.id, a.name, a.is_feed, b.id, b.name, b.is_feed, b.r - a.r
          FROM r2 a JOIN r2 b ON b.r > a.r AND b.r <= a.r + ${SNM_W - 1}),
        m AS (
          SELECT pass,
                 CASE WHEN a_feed = 1 THEN a_id ELSE b_id END AS feed_id,
                 CASE WHEN a_feed = 1 THEN a_name ELSE b_name END AS feed_name,
                 CASE WHEN a_feed = 1 THEN b_name ELSE a_name END AS matched_name,
                 gap
          FROM cand WHERE a_feed + b_feed = 1)
        SELECT feed_id, feed_name, matched_name,
               levenshtein(feed_name, matched_name) AS d,
               count(DISTINCT pass) AS n_passes,
               cast(min(gap) as bigint) AS min_gap
        FROM m
        WHERE levenshtein(feed_name, matched_name) <= 1
        GROUP BY 1, 2, 3, 4"""),
      "multi-pass sorted-neighborhood blocking: rank-window candidates via range-sort + partition-offset ordinals, reverse-key second pass")
  )
}
