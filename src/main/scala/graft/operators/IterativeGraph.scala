package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Caches, Lease}
import graft.functions.Dedup.{sizedBuildSide, NARROW_ROW_BYTES}

/** Iterative graph algorithms expressed purely in the DataFrame API and
  * planned by Catalyst: the registry's graph queries and GraphOps' GEDCOM
  * relationship questions both run on them.
  * Each algorithm pins in one [[Lease.scoped]], freed when it returns or
  * throws; its result is a query-scope [[Caches.checkpoint]]. Every loop
  * runs its rounds through [[iterate]]; build-side sizing decisions are
  * denominated in [[NARROW_ROW_BYTES]] over MEASURED row counts
  * (pinned-RDD counts), never Catalyst estimates, since a pinned
  * LogicalRDD has no stats.
  */
object IterativeGraph {

  /** Both directions `(src, dst, carry...)` of every row of `edges`,
    * whose endpoints are the columns `ends`, emitted by
    * `inline(array(struct, struct))` from ONE pass over it — a union
    * would re-execute the caller's edge subtree (a join, a parse) once
    * per branch inside the loop's pin job. */
  def symmetrized(edges: DataFrame, ends: (String, String) = ("src", "dst"),
      carry: Seq[String] = Nil): DataFrame = {
    val (a, b, rest) = (col(ends._1), col(ends._2), carry.map(col))
    edges.select(inline(array(
      struct(a.as("src") +: b.as("dst") +: rest: _*),
      struct(b.as("src") +: a.as("dst") +: rest: _*))))
  }

  /** One materialized round of a loop: its state frame, the blocks it
    * pinned, the signal its job returned, and whether it is the fixpoint.
    * `side` is a frame pinned beside the state (CC's vertex degrees). */
  private final case class Round(df: DataFrame, pins: Seq[RDD[InternalRow]],
      signal: Long, converged: Boolean = false, side: DataFrame = null)

  /** The one round loop of this module: pin, materialize, free the
    * previous round, swap. Round k (from 1) pins `step(previous, k)`
    * under the [[graft.PlanProbe]] label `probe`; `measure` runs the ONE
    * job that materializes the pin and decides convergence (it may pin
    * more beside it, listed in the round's pins); then the previous
    * round's pins are freed. An unmaterialized pin is inert: without the
    * job, each round's plan would hold the whole chain of earlier rounds
    * (DAG depth O(rounds), a lost block recomputing every one of them).
    * Stops at the first converged round or after `budget` rounds;
    * `hook(round, signal)`, when set, sees every round. */
  private def iterate(l: Lease, probe: String, init: Round, budget: Int,
      hook: (Int, Long) => Unit)(step: (Round, Int) => DataFrame)(
      measure: (Round, DataFrame, RDD[InternalRow]) => Round): Round = {
    var cur = init
    var round = 0
    while (!cur.converged && round < budget) {
      round += 1
      val (df, rdd) = l.pin(step(cur, round), probe)
      val next = measure(cur, df, rdd)
      cur.pins.foreach(l.free)
      cur = next
      if (hook != null) hook(round, cur.signal)
    }
    cur
  }

  /** [[iterate]]'s measure for count-signalled loops: the round's row
    * count is its job and its signal; with `fixpoint`, a count equal to
    * the previous round's ends the loop. */
  private def counted(fixpoint: Boolean)(prev: Round, df: DataFrame,
      rdd: RDD[InternalRow]): Round = {
    val n = rdd.count()
    Round(df, Seq(rdd), n, fixpoint && n == prev.signal)
  }

  /** One alternating large-star + small-star round over a canonically
    * (u > v) oriented, self-loop-free edge set; output keeps the
    * orientation. Pure plan construction — no jobs, no materialization.
    *
    * large-star over the symmetric neighbor relation: m = min(N(u) ∪ u);
    * emit (v, m) for larger neighbors v. No distinct after it: duplicate
    * rows can't change small-star's min and the round's final distinct
    * drops them — saves a shuffle per round. small-star: `large`'s
    * neighbors of u are all smaller, m = their minimum; relink them (and
    * u itself) to m. minS(u, m) already IS the distinct (u, m) row set,
    * so only the relinked neighbors join.
    *
    * Pointer jump: the round's output is path-compressed through ITSELF
    * before the distinct —
    * f(x) = min target of x over the round's own rows, and every row
    * (u, v) relabels to (u, min(v, f(v))). One vertex-cardinality
    * aggregation + one sized join per round (union-find path halving,
    * the "shortcutting" step of the SV/FastSV family, folded into the
    * star round). Why the OUTPUT and not the input mappings: the chains
    * that cost an extra round are created DURING the round — small-star's
    * relink links a stale hub down to the root in the same round its
    * followers relink to the stale hub (measured on q61's trade graph:
    * round 2 leaves exactly the (follower -> hub -> root) 2-chains that
    * forced round 3) — so only a jump over the freshly-built rows can see
    * them. Invariants are untouched: targets only move DOWN within the
    * component (f(v) < v, and f stays inside v's component), u > v
    * orientation and self-loop freedom are strict (f(v) < v < u), and
    * every vertex survives (a relabeled target v keeps its own (v, f(v))
    * row; connectivity follows by induction on the larger endpoint: u
    * joins f(v) directly and v joins f(v) through its own jumped row).
    * Fixpoints are unchanged — on a canonical star f is the identity on
    * targets, so the jump is a no-op exactly where the structural
    * convergence test fires; maxIter still throws on any input that
    * fails to converge rather than mislabeling. Measured: q61's graph
    * converges in 2 rounds instead of 3 with round-1 output 95k rows
    * instead of 482k (the jump collapses chains before the distinct);
    * agreement with a union-find reference is spec-pinned on random, hub
    * and chain graphs (IterativeGraphSpec). */
  private def starRound(e: DataFrame, nEdges: Long): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    // minL/minS are vertex-cardinality (bounded by 2x the measured edge
    // count): sized build sides keep the edge-cardinality relations (sym,
    // large) out of the relink joins' exchanges under the cap — the round
    // then exchanges only aggregation partials and the final distinct —
    // and above the cap SHUFFLE_HASH still never sorts the big side
    val nVertBound = 2L * math.max(nEdges, 1L)
    val minL = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    val large = sym.join(sizedBuildSide(minL, nVertBound, NARROW_ROW_BYTES), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    val minS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
    val out0 = large.join(sizedBuildSide(minS, nVertBound, NARROW_ROW_BYTES), "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(minS.select(col("u"), col("m").as("v")))
    val f = out0.groupBy(col("u")).agg(min(col("v")).as("__fv"))
      .select(col("u").as("__ju"), col("__fv"))
    out0.join(sizedBuildSide(f, nVertBound, NARROW_ROW_BYTES),
        col("v") === col("__ju"), "left")
      .select(col("u"),
        least(col("v"), coalesce(col("__fv"), col("v"))).as("v"))
      .distinct()
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Converges in O(log n) rounds vs O(diameter) for naive
    * hash-min propagation — on chain-heavy graphs (genealogies) that is
    * the difference between a handful of shuffle rounds and hundreds.
    *
    * State is a canonically oriented edge set (u > v). Per round:
    *   large-star: each vertex links its LARGER neighbors to its
    *               minimum neighbor (or itself);
    *   small-star: each vertex links its smaller neighbors and itself
    *               to its minimum neighbor.
    * At the fixpoint every component is a star rooted at its minimum
    * member, so edge (u, root) IS the label assignment. Returns
    * (xref, component) where component is the smallest member.
    *
    * Physical shape (the part that must survive 100 TB):
    *   - per-vertex minima come from `groupBy(u).agg(min(v))` + an equi
    *     join back — partial (map-side) aggregation absorbs hub skew. A
    *     window `min().over(partitionBy(u))` would instead shuffle every
    *     neighbor row of a vertex into ONE task and sort it; at the
    *     fixpoint the component root's partition holds the entire
    *     component — a single-task straggler by construction, i.e.
    *     exactly the skew large-star exists to avoid.
    *   - the edge set's lineage is truncated EVERY round: the round's rows
    *     are persisted as a raw-row RDD and the frame is rebuilt from it
    *     (LogicalRDD), so the plan never grows. cache() alone does not
    *     truncate the logical plan — without per-round truncation the plan
    *     doubles each round and driver-side Catalyst analysis dominates
    *     late rounds (geometric subtree blowup). Doing the truncation by
    *     hand (instead of an eager localCheckpoint) lets the convergence
    *     signature be the SAME job that materializes the round — one job
    *     per round, not two.
    *
    * Convergence: an EXACT structural star test, fused into the job that
    * materializes each round — the set is the fixpoint iff it is a star
    * (every u appears exactly once and never as a v; Kiveris et al. §3:
    * the alternating iteration's fixpoints are exactly the canonical
    * stars, and both stars preserve component connectivity, so a star's
    * root is its component minimum). The test costs one partial-agg
    * shuffle of vertex degrees per round and recognizes the fixpoint THE
    * ROUND IT APPEARS — a cross-round signature compare (the previous
    * scheme) pays a full extra confirmation round and carries a ~2^-64
    * hash-collision early-stop risk besides.
    *
    * Throws if maxIter is exhausted before the fixpoint: a non-star
    * intermediate edge set maps one vertex to several targets, so
    * returning it would yield duplicate xrefs with conflicting labels —
    * worse than a silently-wrong answer.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      roundHook: (Int, Long) => Unit = null): DataFrame = Lease.scoped { l =>

    // canonical orientation u >= v; pinned WITH self-loops so the final
    // vertex derivation reads these blocks instead of re-running the
    // caller's (possibly expensive) edge subtree twice. The loop itself
    // runs on the self-loop-free view.
    val (canon, _) = l.pin(probe = "cc.prelude", df = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct())
    // one stats job doubles as canon's pin materialization: total row
    // count drives the trivial-input short-circuit, the self-loop count
    // lets the final labeling omit its residue branch entirely when (as
    // almost always) there are no self-loops
    val statsRow = canon
      .agg(count(lit(1)), count(when(col("u") === col("v"), 1))).head()
    val hasSelfLoops = statsRow.getLong(1) > 0L
    // a round's signal is the measured row count of its edge set (canon
    // rows initially, then each round's sum(nu) — one u per row): it
    // sizes the next starRound's vertex-cardinality build sides without
    // any extra job. canon stays pinned for the final vertex set.
    val last = iterate(l, "cc.round",
        Round(canon.filter(col("u") =!= col("v")), Nil, statsRow.getLong(0),
          converged = statsRow.getLong(0) == statsRow.getLong(1)), // no real edges
        maxIter, roundHook) { (prev, _) =>
      // One star round per materialized job: a round references its input
      // four times (sym twice, sym consumed by two operators), so chaining
      // rounds WITHOUT a pin in between multiplies the upstream subtree
      // ~4x per chained round — measured 2.5x slower at 2 rounds/job.
      // The pin is what keeps every subtree computed exactly once.
      starRound(prev.df, prev.signal)
    } { (_, mat, matRdd) =>
      // ONE job: computes the round, fills the persisted blocks, and runs
      // the exact star test over them. A vertex breaks the star iff it
      // appears as u more than once, or as both u and v; sum of breakers
      // == 0 <=> fixpoint. The degree groupBy partial-aggregates, so the
      // shuffle carries O(vertices) rows, not O(edges). The per-vertex
      // degree frame is ITSELF pinned: at the fixpoint it already holds
      // the roots (nu == 0) and the vertex set, so the final labeling
      // reads these blocks instead of re-deriving either with a shuffle.
      val (degF, degRdd) = l.pin(mat
        .select(col("u").as("x"), lit(1L).as("us"))
        .union(mat.select(col("v").as("x"), lit(0L).as("us")))
        .groupBy(col("x"))
        .agg(sum(col("us")).as("nu"), count(lit(1)).as("nt")))
      val row = degF.agg(
        coalesce(sum(col("nu")), lit(0L)),
        coalesce(sum(when(col("nu") > 1 ||
          (col("nu") > 0 && col("nu") < col("nt")), 1L).otherwise(0L)), lit(0L)))
        .head()
      Round(mat, Seq(matRdd, degRdd), row.getLong(0), row.getLong(1) == 0L, degF)
    }
    if (!last.converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds " +
          "(intermediate edge sets carry conflicting labels; raise maxIter)")

    // at the fixpoint e maps every non-root vertex to its component root,
    // and the pinned degree frame already distinguishes roots (vertices
    // never on the u side, nu == 0) — so the whole label set falls out of
    // pinned blocks with NO further shuffle. The one residue is vertices
    // whose every input edge was a self-loop: they appear only in the
    // pinned canonical set and label themselves; the branch is omitted
    // from the plan entirely when the stats job saw no self-loops.
    val (e, deg) = (last.df, last.side)
    val nonRoots = e.select(col("u").as("xref"), col("v").as("component"))
    val roots =
      if (deg == null) e.limit(0).select(col("u").as("xref"), col("v").as("component"))
      else deg.filter(col("nu") === 0L)
        .select(col("x").as("xref"), col("x").as("component"))
    val labeled = nonRoots.union(roots)
    val full =
      if (!hasSelfLoops) labeled
      else {
        val eVerts =
          if (deg == null) e.limit(0).select(col("u").as("xref"))
          else deg.select(col("x").as("xref"))
        val selfOnly = canon.filter(col("u") === col("v"))
          .select(col("u").as("xref"))
          .join(eVerts, Seq("xref"), "left_anti")
          .distinct()
          .select(col("xref"), col("xref").as("component"))
        labeled.union(selfOnly)
      }
    // materialize the O(V) label set eagerly so the scope can free every
    // pinned O(E) block: a lazy frame over them would hold an edge-set
    // copy per invocation until the caller's release
    Caches.checkpoint(full)
  }

  /** Fixed-iteration PageRank over a symmetric `(src, dst)` edge set, in
    * EXACT integer arithmetic so the result is a deterministic function of
    * the edge set — independent of partitioning, task order, and engine.
    * It is [[pageRankWeighted]]'s loop over unit weights: `(r * 1) div d`
    * is `r div d`.
    *
    * Why integers: the textbook double formulation is order-dependent
    * (partial-aggregation sum order differs run to run and engine to
    * engine), which would break both the driver's hash gate and
    * cross-cluster reproducibility. Here every rank is a BIGINT in units
    * of `scale^-1`; a vertex's per-edge contribution is `r div outdeg`
    * (truncating integer division — deterministic PER EDGE, so the
    * subsequent BIGINT sum is order-independent), and the damping update
    * is `0.15*scale + (85 * sum) div 100` in exact integers. The tiny
    * mass lost to truncation is the price of bit-exact reproducibility
    * and is identical in every conforming implementation (the DuckDB
    * oracle reproduces it row for row).
    *
    * Physical shape (what must survive 100 TB):
    *   - edges and degrees are pinned ONCE ([[Lease.pin]]) — each of the
    *     `iters` rounds rereads the pinned blocks instead of re-running
    *     the caller's edge derivation;
    *   - one round = one shuffle-join of ranks onto edges by src (both
    *     sides hash-partitioned on the vertex key) + one partial-agg
    *     `groupBy(dst).sum` — map-side combine absorbs hub in-degree skew,
    *     so a celebrity vertex costs its receiving task one row per map
    *     partition, not one row per in-edge;
    *   - no window functions, no driver-side state: rank state lives in
    *     the cluster as an O(V) frame.
    *
    * Every vertex of the symmetric edge set has outdeg >= 1, so there is
    * no dangling mass to redistribute. `scale` must be divisible by 100
    * (exact teleport term) and sized so `85 * V * scale` fits in a long
    * (at 1e10 vertices choose scale <= 1e7).
    *
    * Returns `(v: long, r: long)` — rank in scale units, materialized
    * eagerly so the pinned edge/degree blocks can be released.
    */
  def pageRank(edgesSym: DataFrame, iters: Int, scale: Long): DataFrame =
    rank(edgesSym.select(col("src"), col("dst")).distinct(), lit(1L),
      iters, scale, "pagerank")

  /** [[pageRank]] over WEIGHTED symmetric edges `(src, dst, w)` with
    * positive integer weights: a vertex's mass splits in proportion to
    * edge weight — per-edge contribution `(r * w) div W_src` with
    * `W_src` the vertex's total out-weight. Same exact-integer
    * determinism contract and physical shape as the unweighted form (the
    * weight rides on the pinned edge rows; total out-weights ride in the
    * rank state). `scale * max(85, maxWeight) * V` must fit a long.
    */
  def pageRankWeighted(edgesSym: DataFrame, iters: Int, scale: Long): DataFrame =
    rank(edgesSym.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")),
      col("w"), iters, scale, "pagerank_weighted")

  /** The PageRank loop over the deduplicated `(src, dst, ...)` edge set
    * `edges`, with per-edge weight `w`; `probe` prefixes its PlanProbe
    * labels and its error messages. */
  private def rank(edges: DataFrame, w: Column, iters: Int, scale: Long,
      probe: String): DataFrame = Lease.scoped { l =>
    require(iters >= 1, s"$probe: iters must be >= 1, got $iters")
    require(scale > 0 && scale % 100L == 0,
      s"$probe: scale must be positive and divisible by 100, got $scale")
    val wType = edges.select(w).schema.head.dataType
    // a fractional weight would skip the overflow guard below and break
    // the exact-integer contract
    require(wType == LongType, s"$probe: positive INTEGER weights required," +
      s" got ${wType.simpleString} — cast the weight column first")
    // the edge pin DECLARES its hash distribution on src: every round's
    // contributions join (and the initial out-weight aggregation) then
    // plans with no exchange over the O(E) side — one repartition at pin
    // time replaces `iters` per-round edge shuffles (guide §2.4)
    val (e0, _) = l.pinPartitioned(edges, Seq("src"), s"$probe.prelude")
    val e = e0.select(col("src"), col("dst"), w.as("w"))
    // the total out-weight RIDES IN the rank state (it is per-vertex
    // constant), so a round needs only ONE keyed join (state onto edges)
    // + one partial-agg sum + one left join back — not a second
    // ranks-to-weight join per round (the pinned state is a LogicalRDD
    // with no stats, so that join would plan as a full shuffle every round)
    val (ranks, ranksRdd) = l.pin(e.groupBy(col("src").as("v"))
      .agg(sum(col("w")).as("tw"), max(col("w")).as("mw"))
      .select(col("v"), col("tw"), col("mw"), lit(scale).as("r")))
    // the one job that materializes the initial pin also arms the sizing
    // rule with the ACTUAL graph, before any round can overflow silently:
    // ranks are bounded by the total mass V*scale, so the per-edge
    // product r*w needs V*scale*maxW and the damping update 85*V*scale
    // to fit
    val (nVerts, maxW) = ranksRdd.aggregate((0L, 85L))(
      (a, row) => (a._1 + 1L, math.max(a._2, row.getLong(2))),
      (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    require(nVerts <= Long.MaxValue / maxW / scale,
      s"$probe: V * scale * max(85, maxWeight) must fit a long," +
        s" got V=$nVerts scale=$scale maxW=$maxW — lower the scale")
    val last = iterate(l, s"$probe.round", Round(ranks, Seq(ranksRdd), nVerts),
        iters, null) { (prev, _) =>
      // SHUFFLE_HASH builds on the O(V) state side: the pinned edge side
      // streams its declared partitioning with no exchange AND no sort
      // (the SortMergeJoin default would re-sort the edge set each round)
      val sums = e.join(prev.df.select(col("v").as("src"), col("tw"), col("r"))
          .hint("SHUFFLE_HASH"), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(expr("(r * w) div tw")).as("s"))
      // both spine sides are O(V): hash-build the aggregated side so
      // neither is sorted (sums already leaves its agg hash-partitioned)
      prev.df.select(col("v"), col("tw"))
        .join(sums.hint("SHUFFLE_HASH"), Seq("v"), "left")
        .select(col("v"), col("tw"),
          (lit(15L * (scale / 100L)) +
            expr("(85 * coalesce(s, cast(0 as bigint))) div 100")).as("r"))
    }(counted(fixpoint = false))
    Caches.checkpoint(last.df.select(col("v"), col("r")))
  }

  private val LpaPivotLabels = 64 // most seed labels the pivoted LPA round takes

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 shape) over
    * a symmetric `(src, dst)` edge set: `seeds` pins `(v, seed)` labels
    * that never change; every other vertex synchronously adopts the
    * PLURALITY label of its labeled neighbors each round — ties broken
    * toward the smallest label, previous label kept when no neighbor is
    * labeled yet. The plurality-with-min-tiebreak rule makes each round a
    * deterministic function of the previous labeling, so `iters` rounds
    * are engine- and partitioning-independent (the DuckDB oracle unrolls
    * the same recurrence).
    *
    * 100 TB shape: one round = an equi join of labels onto edges + a
    * partial-agg `groupBy(v, lbl).count` + a `groupBy(v).max(struct)`
    * argmax — a hub with millions of neighbors reduces to at most
    * |label-space| rows after map-side combine, and the argmax is an
    * aggregate, never a per-vertex window sort. Edges and seeds are
    * pinned once; label state is an O(V) frame in the cluster.
    *
    * Bounded label spaces (r21, guide §2.3/§2.4): every non-null label
    * the recurrence can ever assign is a SEED label (init copies seeds;
    * updates pick a neighbor's label or keep the previous one — induction
    * over rounds), so when the distinct seed labels fit a small constant
    * ([[LpaPivotLabels]]) the plurality round PIVOTS: one `groupBy(v)`
    * with a count column per label and the argmax as a
    * `greatest(struct(c_i, -i, label_i))` projection. That
    * (a) cuts the round's aggregation shuffle from <= |labels| rows x 3
    * cols per vertex to ONE row per vertex, and (b) deletes the second
    * per-round exchange + aggregate (the (v,lbl)->v argmax regroup)
    * entirely — per round one exchange instead of two. Tie-break is
    * bit-identical: labels are enumerated ascending, so on equal counts
    * the larger -i (= smaller label) wins, exactly `max(struct(c,
    * -lbl))`. The general two-aggregation path remains for unbounded
    * label spaces; IterativeGraphSpec pins both against a driver-side
    * reference of the recurrence.
    *
    * Returns `(v: long, lbl: long)` with lbl null where no label ever
    * arrived, materialized eagerly so the pinned blocks can be released.
    */
  def labelPropagation(edgesSym: DataFrame, seeds: DataFrame,
      iters: Int, roundHook: (Int, Long) => Unit = null): DataFrame = Lease.scoped { l =>
    require(iters >= 1, s"labelPropagation: iters must be >= 1, got $iters")
    // declared src distribution: every round's labels-onto-edges join
    // (and the initial vertex distinct) plans with no exchange over the
    // O(E) side — see pageRank
    val (e, _) =
      l.pinPartitioned(edgesSym.select(col("src"), col("dst")).distinct(),
        Seq("src"), "lpa.prelude")
    // the clamp RIDES IN the label state (seed is per-vertex constant):
    // a round is one labels-onto-edges join, one (v, lbl) partial-agg
    // count, one aggregate argmax, and one left join back — no per-round
    // seeds join (the pinned seed frame is a LogicalRDD with no stats,
    // so that join would plan as a full shuffle every round)
    val (labels, labelsRdd) = l.pin(e.select(col("src").as("v")).distinct()
      .join(seeds.select(col("v"), col("seed")).distinct(), Seq("v"), "left")
      .select(col("v"), col("seed"), col("seed").as("lbl")))
    // bounded-label-space probe (one tiny job over the seed frame): the
    // distinct non-null seed labels, ascending, iff they fit the pivot
    // cap — otherwise empty and every round takes the general path
    val seedType = seeds.schema(seeds.schema.fieldIndex("seed")).dataType
    val pivotLabels: Seq[Any] = {
      val rows = seeds.select(col("seed")).filter(col("seed").isNotNull)
        .distinct().orderBy(col("seed")).limit(LpaPivotLabels + 1).collect()
      if (rows.length > LpaPivotLabels) Nil else rows.map(_.get(0)).toSeq
    }
    def litOf(v: Any) = GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, seedType))
    val last = iterate(l, "lpa.round", Round(labels, Seq(labelsRdd), 0L),
        iters, roundHook) { (prev, _) =>
      val counted = e
        .join(prev.df.filter(col("lbl").isNotNull)
          .select(col("v").as("src"), col("lbl")).hint("SHUFFLE_HASH"), "src")
      val best = if (pivotLabels.nonEmpty) {
        // pivoted plurality: per-label conditional counts in ONE
        // vertex-keyed aggregation, argmax as a projection (see scaladoc)
        val cnts = pivotLabels.zipWithIndex.map { case (l, i) =>
          count(when(col("lbl") === litOf(l), 1)).as(s"__c$i") }
        val agged = counted.groupBy(col("dst").as("v"))
          .agg(cnts.head, cnts.tail: _*)
        val structs = pivotLabels.zipWithIndex.map { case (l, i) =>
          struct(col(s"__c$i").as("c"), lit(-i).as("ni"), litOf(l).as("bl")) }
        val m = if (structs.size == 1) structs.head
          else greatest(structs: _*)
        agged.select(col("v"),
          when(m.getField("c") > 0, m.getField("bl")).as("blbl"))
      } else {
        val cnt = counted
          .groupBy(col("dst").as("v"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        cnt.groupBy(col("v"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("v"), (-col("m.nl")).as("blbl"))
      }
      // the state is referenced twice per round (neighbor counts + the
      // update spine). The update carries the previous label so the SAME
      // job that materializes the round also detects the fixpoint:
      // plurality LPA's fixpoint is ABSORBING (unchanged labels reproduce
      // themselves), so stopping once no label moved is output-identical
      // to running the full budget — the same argument that gave BFS and
      // k-core their early exits, and what keeps the fixed-round oracle
      // exact.
      prev.df.select(col("v"), col("seed"), col("lbl").as("prev"))
        .join(best.hint("SHUFFLE_HASH"), Seq("v"), "left")
        .select(col("v"), col("seed"), col("prev"),
          when(col("seed").isNotNull, col("seed"))
            .otherwise(coalesce(col("blbl"), col("prev"))).as("lbl"))
    } { (_, nl, nlRdd) =>
      // The moved signal rides a longAccumulator on the RDD pass that
      // materializes the pinned blocks — zero extra jobs, stages, or
      // per-round Catalyst compiles (a DataFrame agg here costs a fresh
      // codegen plan plus a final-agg stage EVERY round; measured ~0.2 s
      // per round on q122). Retry-safety: a re-run task can only inflate
      // a nonzero count, never zero a nonzero one, and the exit tests
      // moved == 0 exactly. The hook sees it, so the spec can prove the
      // early exit fires (output identity alone holds trivially by the
      // absorbing property, so it cannot catch a dead exit).
      val prevOrd = nl.schema.fieldIndex("prev")
      val lblOrd = nl.schema.fieldIndex("lbl")
      val lblType = nl.schema(lblOrd).dataType // scalar by contract
      val moved = nl.sparkSession.sparkContext.longAccumulator
      nlRdd.foreach { r =>
        val pn = r.isNullAt(prevOrd)
        val ln = r.isNullAt(lblOrd)
        if (if (pn || ln) pn != ln
            else r.get(prevOrd, lblType) != r.get(lblOrd, lblType))
          moved.add(1L)
      }
      Round(nl, Seq(nlRdd), moved.value, moved.value == 0L)
    }
    Caches.checkpoint(last.df.select(col("v"), col("lbl")))
  }

  /** Multi-source BFS over a symmetric `(src, dst)` edge set: the exact
    * minimum hop count from any vertex of `sources` (a `(v)` frame),
    * explored to `maxDepth` rounds. Returns `(v: long, d: long)` for
    * EVERY vertex of the edge set, d = -1 where no source reaches it
    * within `maxDepth`.
    *
    * One round = filter the pinned previous labeling to the frontier
    * (rows at depth k-1), one equi join onto the pinned edges, and a
    * `groupBy(v).min(d)` whose map-side partials absorb the frontier's
    * in-degree fan-in. Distances are monotone (a vertex first reached at
    * depth k keeps d=k through every later min), so the k-th round's
    * output is exactly the BFS level sets — engine-independent, which
    * puts a traversal algorithm under the hash gate. Each round's state
    * is pinned ([[Lease.pin]]) so round k+1's two references to it (frontier +
    * union) read blocks instead of recomputing the whole prefix of the
    * loop.
    */
  def bfsDistances(edgesSym: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = Lease.scoped { l =>
    require(maxDepth >= 1, s"bfsDistances: maxDepth must be >= 1, got $maxDepth")
    // declared src distribution: every round's frontier join (and the
    // vertex-set distinct) plans with no exchange over the O(E) side
    val (e, _) =
      l.pinPartitioned(edgesSym.select(col("src"), col("dst")).distinct(),
        Seq("src"), "bfs.prelude")
    val (verts, _) = l.pin(e.select(col("src").as("v")).distinct())
    val (dist, distRdd) = l.pin(verts
      .join(sources.select(col("v")).distinct(), Seq("v"), "left_semi")
      .select(col("v"), lit(0L).as("d")))
    // the round count doubles as the FIXPOINT test: a reached vertex's d
    // can never change (BFS levels are monotone — any shorter path was
    // found in an earlier round), so an unchanged row count means the
    // frontier added nothing and every remaining round is a no-op. Early
    // exit changes no output row; it stops a diameter-6 graph at round 7
    // instead of burning the full budget.
    val last = iterate(l, "bfs.round",
        Round(dist, Seq(distRdd), distRdd.count()), // materializes the initial pin too
        maxDepth, null) { (prev, k) =>
      val frontier = prev.df.filter(col("d") === (k - 1))
        .select(col("v").as("src"))
      val next = e.join(frontier.hint("SHUFFLE_HASH"), "src")
        .select(col("dst").as("v"), lit(k.toLong).as("d"))
      prev.df.unionAll(next)
        .groupBy(col("v")).agg(min(col("d")).as("d"))
    }(counted(fixpoint = true))
    Caches.checkpoint(verts.join(last.df, Seq("v"), "left")
      .select(col("v"), coalesce(col("d"), lit(-1L)).as("d")))
  }

  /** Bounded k-core peeling of an undirected graph given as canonical
    * `(u, v)` pairs with `u < v`: `rounds` synchronous peels, each
    * removing every vertex whose CURRENT degree is below `k` (and the
    * edges touching it). Peeling is monotone and idempotent at the
    * fixpoint, so extra rounds are no-ops — which is what lets a fixed
    * round budget run under the hash gate (the oracle unrolls the same
    * budget; once both sides converge they agree regardless of how early
    * convergence happened). Callers pin the budget's sufficiency for
    * their graph family in a spec (one more peel == identity).
    *
    * One round = a degree partial-agg + two semi joins on the vertex
    * keys; state is pinned per round ([[Lease.pin]]). Returns the surviving
    * edge set `(u, v)`, from which vertex membership and census both
    * derive.
    */
  def kCoreEdges(pairs: DataFrame, k: Int, rounds: Int): DataFrame = Lease.scoped { l =>
    require(k >= 1 && rounds >= 1,
      s"kCoreEdges: k and rounds must be >= 1, got k=$k rounds=$rounds")
    val (e, eRdd) = l.pin(probe = "kcore.prelude", df =
      pairs.select(col("u"), col("v")).filter(col("u") < col("v")).distinct())
    // the round count doubles as the FIXPOINT test: peeling only removes
    // edges, so an unchanged edge count means no vertex fell below k and
    // every remaining peel is the identity. Early exit changes no output
    // row — it just stops burning the budget once converged.
    val last = iterate(l, "kcore.round",
        Round(e, Seq(eRdd), eRdd.count()), // materializes the initial pin too
        rounds, null) { (prev, _) =>
      val keep = prev.df.select(col("u").as("x"))
        .unionAll(prev.df.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
      // `keep` is vertex-cardinality (<= 2x the measured surviving edge
      // count): sized build sides keep the edge set out of BOTH semi-join
      // exchanges under the cap (it streams once per round), and above
      // the cap SHUFFLE_HASH still never sorts it — the SortMergeJoin
      // default exchanged AND sorted the edge set twice per peel
      prev.df
        .join(sizedBuildSide(keep.select(col("x").as("u")),
          2L * prev.signal, NARROW_ROW_BYTES), Seq("u"), "left_semi")
        .join(sizedBuildSide(keep.select(col("x").as("v")),
          2L * prev.signal, NARROW_ROW_BYTES), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }(counted(fixpoint = true))
    Caches.checkpoint(last.df)
  }

  /** Exact triangle census of an undirected graph given as canonical
    * `(u, v)` pairs with `u < v`: one row of orientation-independent
    * whole-graph statistics `(n_vertices, n_edges, n_wedges,
    * n_triangles)` — the ingredients of the global clustering
    * coefficient `3T / wedges`.
    *
    * The triangle join uses the degree-ordered orientation (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW'11): orient every edge from its lower-(degree, id)
    * endpoint to the higher one, then count, per oriented edge, the
    * common out-neighbors of its two endpoints. Out-degree under this
    * orientation is O(sqrt(m)) for every vertex — including hubs — so
    * the per-edge work is bounded and the "last reducer" hot spot of the
    * naive adjacency join cannot form. Each triangle is counted exactly
    * once (at the edge between its two lowest-rank vertices).
    *
    * All stages are equi joins + partial aggregations on vertex keys; the
    * edge set is pinned once and reread by the degree pass, the
    * orientation pass, and the closing join.
    */
  def triangleStats(pairs: DataFrame): DataFrame = Lease.scoped { l =>
    val (e, eRdd) = l.pin(probe = "triangles.prelude", df =
      pairs.select(col("u"), col("v")).filter(col("u") < col("v")).distinct())
    // materializing the pin yields the exact edge count for free — it
    // prices every join side below (and replaces the n_edges re-scan)
    val m = eRdd.count()
    val (deg, degRdd) = l.pin(
      e.select(col("u").as("x")).union(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d")))
    val nVerts = degRdd.count()
    // rank = (degree, id) lexicographically; u < v already, so on a
    // degree tie the orientation keeps (u -> v).
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // degree sides are vertex-cardinality: broadcast under the cap keeps
    // the edge set out of BOTH orientation exchanges (it streams once)
    val (ori, _) = l.pin(e
      .join(sizedBuildSide(
        deg.select(col("x").as("u"), col("d").as("du")), nVerts, NARROW_ROW_BYTES), "u")
      .join(sizedBuildSide(
        deg.select(col("x").as("v"), col("d").as("dv")), nVerts, NARROW_ROW_BYTES), "v")
      .select(
        when(lowFirst, col("u")).otherwise(col("v")).as("a"),
        when(lowFirst, col("v")).otherwise(col("u")).as("b")))
    // Closing kernel — edge-iterator closing: per oriented vertex its
    // out-neighbors become ONE sorted long array (total payload = m
    // longs, the edge set itself), each oriented edge (a, b) attaches
    // adj(a) and adj(b) via sized build sides and counts their common
    // out-neighbors with the allocation-free sorted merge
    // (SortedIntersectSize). A triangle {x,y,z} with rank x<y<z is
    // seen exactly once, at edge (x,y): z ∈ adj(x) ∩ adj(y), while at
    // (x,z) and (y,z) the third vertex is not an out-neighbor of the
    // higher-ranked endpoint. The wedge stream — sum od^2 rows, the
    // largest relation a wedge-closing shape touches (46M rows / 17
    // executor-CPU-s at sf0.1 even after its joins were sized) — is
    // never materialized: the same comparisons run as primitive long
    // merges inside one codegen stage.
    import graft.functions.expressions.SortedIntersectSize.sortedIntersectSize
    // array_sort, not sort_array: the merge kernel's contract is
    // nulls-LAST order (none occur here — collect_list skips nulls —
    // but the contract is pinned once, in the expression's spec)
    val adj = ori.groupBy(col("a"))
      .agg(array_sort(collect_list(col("b"))).as("nb"))
    // the adjacency relation is vertex-cardinality in rows but its
    // payload is exactly the m oriented edges, so the build-side rule
    // prices it on m — same rule, same cap as every other side here.
    // An edge whose head has no out-neighbors closes nothing, so the
    // inner join dropping it is exact.
    val tri = ori
      .join(sizedBuildSide(
        adj.select(col("a"), col("nb").as("na")), m, NARROW_ROW_BYTES), Seq("a"))
      .join(sizedBuildSide(
        adj.select(col("a").as("b"), col("nb")), m, NARROW_ROW_BYTES), Seq("b"))
      .select(sortedIntersectSize(col("na"), col("nb")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    val stats = deg
      .agg(count(lit(1)).as("n_vertices"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      .withColumn("n_edges", lit(m))
      .crossJoin(tri)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
    graft.PlanProbe.emit("triangles.closing", tri)
    graft.PlanProbe.emit("triangles.stats", stats)
    Caches.checkpoint(stats)
  }
}

