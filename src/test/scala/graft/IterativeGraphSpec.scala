package graft

import org.apache.spark.sql.functions._

import graft.gedcom.GraphOps
import graft.operators.IterativeGraph

/** The DataFrame hash-min connected components must induce exactly the
  * same partition of vertices as GraphX's implementation. */
class IterativeGraphSpec extends SparkSpec {
  import spark.implicits._

  private def partitionOf(df: org.apache.spark.sql.DataFrame): Set[Set[String]] =
    df.as[(String, String)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  private def partitionOfLong(df: org.apache.spark.sql.DataFrame): Set[Set[String]] =
    df.as[(String, Long)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  test("matches GraphX components on the family fixture") {
    val edges = Seq(
      ("F1", "GP", "Husband"), ("F1", "GM", "Wife"), ("F1", "P", "Child"),
      ("F2", "P", "Husband"), ("F2", "S", "Wife"), ("F2", "C", "Child"),
      ("F9", "Q", "Husband"), ("F9", "Z", "Child"))
      .toDF("src", "dst", "relType")
    assert(partitionOf(IterativeGraph.connectedComponents(edges)) ==
      partitionOfLong(GraphOps.familyClusters(edges)))
  }

  test("matches GraphX components on a random graph") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((s"v${rnd.nextInt(120)}", s"v${rnd.nextInt(120)}"))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (a, b, "e") }
      .toDF("src", "dst", "relType")
    assert(partitionOf(IterativeGraph.connectedComponents(edges)) ==
      partitionOfLong(GraphOps.familyClusters(edges)))
  }

  test("singleton islands and empty edge frames") {
    val edges = Seq(("a", "b", "e")).toDF("src", "dst", "relType")
    val p = partitionOf(IterativeGraph.connectedComponents(edges))
    assert(p == Set(Set("a", "b")))
    val none = Seq.empty[(String, String, String)].toDF("src", "dst", "relType")
    assert(IterativeGraph.connectedComponents(none).count() == 0)
  }

  test("self-loops: loop-only vertices label themselves, mixed ones don't duplicate") {
    // x has ONLY a self-loop (its own singleton component); b carries a
    // self-loop AND a real edge (must get exactly one label, via its
    // component, not a second self-label)
    val edges = Seq(("x", "x", "e"), ("b", "b", "e"), ("a", "b", "e"))
      .toDF("src", "dst", "relType")
    val out = IterativeGraph.connectedComponents(edges)
      .as[(String, String)].collect().toSeq
    assert(out.map(_._1).sorted == Seq("a", "b", "x"), s"one label per vertex: $out")
    assert(partitionOf(IterativeGraph.connectedComponents(edges)) ==
      Set(Set("a", "b"), Set("x")))
    // all-self-loop input: the loop never runs, every vertex is singleton
    val onlySelf = Seq(("p", "p", "e"), ("q", "q", "e")).toDF("src", "dst", "relType")
    assert(partitionOf(IterativeGraph.connectedComponents(onlySelf)) ==
      Set(Set("p"), Set("q")))
  }

  test("a long chain converges to one min-rooted component (multi-round path)") {
    // 64-vertex chain: worst case for hash-min diameter propagation, a few
    // alternating-star rounds here; exercises the star-test termination on
    // a graph that is NOT a star for several rounds
    val edges = (0 until 63).map(i => (f"v$i%02d", f"v${i + 1}%02d", "e"))
      .toDF("src", "dst", "relType")
    val labels = IterativeGraph.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(labels.size == 64 && labels.values.toSet == Set("v00"))
  }

  /** Driver-side union-find: each vertex's component as a member set. */
  private def unionFind(edges: Seq[(String, String)]): Set[Set[String]] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
  }

  test("pointer jump: labels agree with union-find on random, hub, chain") {
    // the path-compression fold in every star round must induce exactly
    // the reference partition on shapes that stress it: random
    // multigraph, hub fan-in, long chain
    val rnd = new scala.util.Random(17)
    val rand = Seq.fill(400)((s"v${rnd.nextInt(90)}", s"v${rnd.nextInt(90)}"))
      .filter { case (a, b) => a != b }
    val hub = (1 to 40).map(i => (f"h$i%02d", "h00")) ++
      (1 to 40).map(i => (f"g$i%02d", f"h${i % 5}%02d"))
    val chain = (0 until 40).map(i => (f"c$i%02d", f"c${i + 1}%02d"))
    for (edges <- Seq(rand, hub, chain)) {
      val df = edges.map { case (a, b) => (a, b, "e") }.toDF("src", "dst", "relType")
      assert(partitionOf(IterativeGraph.connectedComponents(df)) == unionFind(edges))
    }
  }

  test("pointer jump converges the 64-chain in 3 rounds") {
    // the plain alternating rounds took 6 on this chain
    val edges = (0 until 63).map(i => (f"v$i%02d", f"v${i + 1}%02d", "e"))
      .toDF("src", "dst", "relType")
    var rounds = 0
    IterativeGraph.connectedComponents(edges, roundHook = (i, _, _) => rounds = i)
      .count()
    assert(rounds == 3, s"ran $rounds rounds")
  }

  test("CC that exhausts maxIter throws and frees every pin") {
    val edges = (0 until 63).map(i => (f"v$i%02d", f"v${i + 1}%02d", "e"))
      .toDF("src", "dst", "relType")
    val before = persistentIds()
    intercept[IllegalStateException](
      IterativeGraph.connectedComponents(edges, maxIter = 1))
    val left = residualRdds(before)
    assert(left.isEmpty, s"pins left after the throw: ${left.mkString(", ")}")
  }

  test("an input that is already a star terminates in one round, unchanged") {
    val edges = Seq(("b", "a", "e"), ("c", "a", "e"), ("d", "a", "e"))
      .toDF("src", "dst", "relType")
    var rounds = 0
    val labels = IterativeGraph.connectedComponents(edges,
        roundHook = (i, _, _) => rounds = i)
      .as[(String, String)].collect().toMap
    assert(rounds == 1, s"star input should be recognized after round 1, ran $rounds")
    assert(labels == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
  }

  // ---- pageRank ----

  /** Exact-integer reference model of the q119 recurrence (naive maps). */
  private def refPageRank(sym: Seq[(Long, Long)], iters: Int,
      scale: Long): Map[Long, Long] = {
    val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var r = deg.keys.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val sums = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = deg.keys.map(v =>
        v -> (15L * (scale / 100L) + 85L * sums.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRank matches the exact-integer reference on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val sym = pairs ++ pairs.map(_.swap)
    val got = IterativeGraph.pageRank(sym.toDF("src", "dst"), 5, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == refPageRank(sym, 5, 1000000L))
  }

  test("pageRank is invariant under repartitioning (bit-exact determinism)") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val a = IterativeGraph.pageRank(sym.repartition(1), 4, 1000000L)
      .as[(Long, Long)].collect().toMap
    val b = IterativeGraph.pageRank(sym.repartition(13), 4, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRank fixed points: regular graphs keep rank == scale exactly") {
    // on a d-regular graph every vertex forever holds exactly `scale`:
    // r/d summed d times is r (integer-exact when d divides scale), and
    // 15% + 85% of scale is scale. Cycle (2-regular), scale % 200 == 0.
    val n = 12L
    val cyc = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), ((i + 1) % n, i)))
    val got = IterativeGraph.pageRank(cyc.toDF("src", "dst"), 6, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until n).map(_ -> 1000000L).toMap)
  }

  test("pageRankWeighted: unit weights reduce to the unweighted recurrence") {
    val rnd = new scala.util.Random(29)
    // distinct pairs: the unweighted op dedupes edges while the weighted
    // op SUMS duplicate weights, so only a simple graph reduces exactly
    val pairs = Seq.fill(300)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val sym = pairs ++ pairs.map(_.swap)
    val un = IterativeGraph.pageRank(sym.toDF("src", "dst"), 4, 1000000L)
      .as[(Long, Long)].collect().toMap
    val w = IterativeGraph.pageRankWeighted(
      sym.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"), 4, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(un == w)
  }

  test("pageRankWeighted matches an exact-integer weighted reference") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
        1L + rnd.nextInt(5)))
      .filter { case (a, b, _) => a != b }
    val sym0 = edges ++ edges.map { case (a, b, w) => (b, a, w) }
    // collapse duplicate (src,dst) weights the way the operator does
    val sym = sym0.groupBy(e => (e._1, e._2))
      .map { case ((a, b), es) => (a, b, es.map(_._3).sum) }.toSeq
    val tw = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    var r = tw.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val sums = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => r(u) * w / tw(u) }.sum
      }
      r = tw.keys.map(v =>
        v -> (15L * 10000L + 85L * sums.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = IterativeGraph.pageRankWeighted(sym0.toDF("src", "dst", "w"),
        4, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(got == r)
  }

  test("pageRank's overflow guard throws and frees every pin") {
    // 85 * V * scale overflows a long on two vertices at scale 1e17
    val sym = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val before = persistentIds()
    intercept[IllegalArgumentException](
      IterativeGraph.pageRank(sym, 2, 100000000000000000L))
    val left = residualRdds(before)
    assert(left.isEmpty, s"pins left after the throw: ${left.mkString(", ")}")
  }

  test("pageRankWeighted with non-integer weights throws and frees every pin") {
    val sym = Seq((0L, 1L, 0.5), (1L, 0L, 0.5)).toDF("src", "dst", "w")
    val before = persistentIds()
    val err = intercept[IllegalArgumentException](
      IterativeGraph.pageRankWeighted(sym, 2, 1000000L))
    assert(err.getMessage.contains("INTEGER weights"), err.getMessage)
    val left = residualRdds(before)
    assert(left.isEmpty, s"pins left after the throw: ${left.mkString(", ")}")
  }

  // ---- labelPropagation ----

  private def lpa(sym: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      iters: Int): Map[Long, Option[Long]] =
    IterativeGraph.labelPropagation(
      sym.toDF("src", "dst"), seeds.toDF("v", "seed"), iters)
      .as[(Long, Option[Long])].collect().toMap

  test("labelPropagation spreads one hop per round and leaves the rest null") {
    // chain 0-1-2-3-4, seed at 0 with label 7: after k rounds vertices
    // within distance k are labeled, the rest not reached
    val chain = (0L until 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val seeds = Seq((0L, 7L))
    assert(lpa(chain, seeds, 1) == Map(
      0L -> Some(7L), 1L -> Some(7L), 2L -> None, 3L -> None, 4L -> None))
    assert(lpa(chain, seeds, 3)(3L) == Some(7L))
    assert(lpa(chain, seeds, 3)(4L) == None)
  }

  test("labelPropagation plurality and min-label tie-break") {
    // v=10 has neighbors: two seeds of label 5, one of label 2 ->
    // plurality 5; v=11 has one of each -> tie, min label 2 wins
    val sym = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (3L, 11L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val seeds = Seq((1L, 5L), (2L, 5L), (3L, 2L))
    val out = lpa(sym, seeds, 1)
    assert(out(10L) == Some(5L))
    assert(out(11L) == Some(2L))
  }

  test("labelPropagation fixpoint early-exit is output-identical to the full budget") {
    // chain 0-1-2-3-4 seeded at 0 converges after 4 rounds; a 50-round
    // budget must return exactly the 4-round labeling (the absorbing
    // fixpoint reproduces itself), and do so VIA the early exit rather
    // than 46 no-op rounds — the hook count proves the exit fired
    // (output identity alone holds trivially by the absorbing property,
    // so it cannot catch a dead exit)
    val chain = (0L until 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val seeds = Seq((0L, 7L)).toDF("v", "seed")
    val rounds = collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val withBudget = IterativeGraph.labelPropagation(
        chain.toDF("src", "dst"), seeds, 50, (r, m) => rounds += ((r, m)))
      .as[(Long, Option[Long])].collect().toMap
    assert(withBudget == lpa(chain, Seq((0L, 7L)), 4))
    // 4 spreading rounds + the confirming round where nothing moves
    assert(rounds.size == 5, s"expected 5 rounds, ran ${rounds.size}")
    assert(rounds.last._2 == 0L && rounds.init.forall(_._2 > 0L),
      s"moved counts should be positive then zero: $rounds")
  }

  /** Driver-side reference of the plurality recurrence: a seed keeps its
    * label; every other vertex takes its labeled neighbors' plurality
    * label (ties to the smallest), or keeps its own when none is labeled. */
  private def refLpa(sym: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      iters: Int): Map[Long, Option[Long]] = {
    val edges = sym.distinct
    val verts = edges.map(_._1).distinct
    val nbrs = edges.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
    val seedOf = seeds.toMap
    var lbl = verts.map(v => v -> seedOf.get(v)).toMap
    for (_ <- 1 to iters) {
      lbl = verts.map { v =>
        val ls = nbrs.getOrElse(v, Nil).flatMap(lbl(_))
        v -> seedOf.get(v).orElse(
          if (ls.isEmpty) lbl(v)
          else Some(-ls.groupBy(identity).toSeq.map { case (l, n) => (n.size, -l) }.max._2))
      }.toMap
    }
    lbl
  }

  /** [[lpa]], also reporting whether its rounds took the pivoted path. */
  private def lpaPivoted(sym: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      iters: Int): (Map[Long, Option[Long]], Boolean) = {
    var pivoted = false
    val out = graft.PlanProbe.withSink { (label, df) =>
      if (label == "lpa.round")
        pivoted = df.queryExecution.logical.toString.contains("__c0")
    }(lpa(sym, seeds, iters))
    (out, pivoted)
  }

  test("labelPropagation pivot round agrees with the general path on random graphs") {
    // the bounded-label-space pivot (4 seed labels) and the general
    // (v,lbl)-count + argmax path (65 seed labels, past the pivot cap)
    // must both equal the reference recurrence on arbitrary graphs —
    // plurality, min-label tie-break, clamping, null propagation and all
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val sym = Seq.fill(300)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
        .filter { case (a, b) => a != b }
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val seeded = rnd.shuffle((0L until 100L).toList)
      val few = seeded.take(12).map(v => (v, (rnd.nextInt(4) + 1).toLong))
      val many = seeded.take(65).zipWithIndex.map { case (v, i) => (v, 1000L - i) }
      for ((seeds, pivot) <- Seq((few, true), (many, false))) {
        val (got, pivoted) = lpaPivoted(sym, seeds, 3)
        assert(pivoted == pivot, s"trial $trial: pivoted=$pivoted")
        assert(got == refLpa(sym, seeds, 3), s"trial $trial: pivoted=$pivoted")
      }
    }
  }

  test("labelPropagation label spaces past the pivot cap fall back correctly") {
    // 65 distinct seed labels, one past the cap: the probe must reject
    // the pivot and the general path must produce the known answer. The
    // 62 extra seeds label pairs of their own, away from vertex 10.
    val sym = (Seq((1L, 10L), (2L, 10L), (3L, 10L)) ++
        (0L until 62L).map(i => (100L + i, 200L + i)))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val seeds = Seq((1L, 5L), (2L, 7L), (3L, 2L)) ++
      (0L until 62L).map(i => (100L + i, 100L + i))
    val (out, pivoted) = lpaPivoted(sym, seeds, 1)
    assert(!pivoted)
    assert(out(10L) == Some(2L)) // three-way tie, min label wins
    assert(out == refLpa(sym, seeds, 1))
  }

  test("labelPropagation clamps seeds against contradicting neighborhoods") {
    // seed 0 (label 9) surrounded by three seeds of label 1: stays 9
    // through every round; the others stay clamped too
    val sym = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val seeds = Seq((0L, 9L), (1L, 1L), (2L, 1L), (3L, 1L))
    val out = lpa(sym, seeds, 3)
    assert(out == Map(0L -> Some(9L), 1L -> Some(1L), 2L -> Some(1L),
      3L -> Some(1L)))
  }

  // ---- bfsDistances ----

  test("bfsDistances: chain levels, depth cap, and multi-source min") {
    val chain = (0L until 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    def dists(srcs: Seq[Long], depth: Int): Map[Long, Long] =
      IterativeGraph.bfsDistances(chain, srcs.toDF("v"), depth)
        .as[(Long, Long)].collect().toMap
    assert(dists(Seq(0L), 3) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L,
      4L -> -1L, 5L -> -1L))
    // two sources: every vertex takes the nearer one
    assert(dists(Seq(0L, 5L), 2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L,
      3L -> 2L, 4L -> 1L, 5L -> 0L))
    // a source outside the graph contributes nothing
    assert(dists(Seq(99L), 2).values.toSet == Set(-1L))
  }

  // ---- kCoreEdges ----

  private def core(pairs: Seq[(Long, Long)], k: Int, rounds: Int): Set[(Long, Long)] =
    IterativeGraph.kCoreEdges(pairs.toDF("u", "v"), k, rounds)
      .as[(Long, Long)].collect().toSet

  test("kCoreEdges peels tails and cascades to empty when nothing survives") {
    // triangle + tail: the 2-core is the triangle, vertex 4 peels
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    assert(core(g, 2, 3) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // K4 minus one edge at k=3: peeling cascades over three rounds to empty
    val k4m = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(core(k4m, 3, 3) == Set.empty[(Long, Long)])
    // ...but an intact K4 is its own 3-core
    val k4 = k4m :+ (1L, 2L)
    assert(core(k4, 3, 3) == k4.toSet)
  }

  test("early exit at the fixpoint never changes a BFS or k-core output row") {
    // a wildly oversized budget must produce the identical output to the
    // exact budget: the per-round count's unchanged-count test stops the
    // loop at the fixpoint, so the surplus rounds never run at all
    val chain = (0L until 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val exact = IterativeGraph.bfsDistances(chain, Seq(0L).toDF("v"), 5)
      .as[(Long, Long)].collect().toMap
    val oversized = IterativeGraph.bfsDistances(chain, Seq(0L).toDF("v"), 50)
      .as[(Long, Long)].collect().toMap
    assert(oversized == exact)
    val k4m = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(core(k4m, 3, 50) == core(k4m, 3, 3))
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    assert(core(tri, 2, 50) == core(tri, 2, 3))
  }

  test("q127 round budget reaches the peeling fixpoint on the gate fixtures") {
    // the oracle unrolls exactly KCORE_ROUNDS peels; surplus rounds are
    // no-ops only AFTER the fixpoint, so pin that the trade graph at both
    // spec and gate scale converges within budget (one more peel == same)
    for (dir <- Seq(SF, "/root/testdata/sf0.01")) {
      val pairs = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(least(col("o_custkey").cast("long") * 2,
            col("l_suppkey").cast("long") * 2 + 1).as("u"),
          greatest(col("o_custkey").cast("long") * 2,
            col("l_suppkey").cast("long") * 2 + 1).as("v"))
      val atBudget = IterativeGraph.kCoreEdges(pairs, 25, 6)
        .as[(Long, Long)].collect().toSet
      val onePast = IterativeGraph.kCoreEdges(pairs, 25, 7)
        .as[(Long, Long)].collect().toSet
      assert(atBudget == onePast, s"$dir: 25-core not converged in 6 rounds")
    }
  }

  // ---- triangleStats ----

  private def refTriangles(pairs: Set[(Long, Long)]): (Long, Long, Long, Long) = {
    val vs = pairs.flatMap(p => Seq(p._1, p._2))
    val deg = vs.map(v => v -> pairs.count(p => p._1 == v || p._2 == v).toLong).toMap
    val tri = vs.toSeq.combinations(3).count { c =>
      val Seq(a, b, x) = c.sorted
      pairs((a, b)) && pairs((a, x)) && pairs((b, x))
    }
    (vs.size.toLong, pairs.size.toLong,
      deg.values.map(d => d * (d - 1) / 2).sum, tri.toLong)
  }

  private def triRow(pairs: Seq[(Long, Long)]): (Long, Long, Long, Long) =
    IterativeGraph.triangleStats(pairs.toDF("u", "v"))
      .as[(Long, Long, Long, Long)].collect().head

  test("triangleStats on known shapes") {
    // K4: 4 triangles, 6 edges, wedges = 4*C(3,2)=12
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b))
    assert(triRow(k4) == ((4L, 6L, 12L, 4L)))
    // a path has zero triangles
    val path = (0L until 5L).map(i => (i, i + 1))
    assert(triRow(path) == ((6L, 5L, 4L, 0L)))
    // hub + one rim edge: one triangle; wedges = C(4,2) at the hub + one
    // each at vertices 1 and 2
    val fan = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L))
    assert(triRow(fan) == ((5L, 5L, 8L, 1L)))
  }

  test("triangleStats matches brute force on a random graph (hub-skewed)") {
    val rnd = new scala.util.Random(13)
    // skew: vertex 0 joins half the edges, exercising the degree-ordered
    // orientation's whole reason to exist
    val pairs = (Seq.fill(150)((0L, 1L + rnd.nextInt(50).toLong)) ++
      Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    assert(triRow(pairs) == refTriangles(pairs.toSet))
  }

  test("triangleStats matches brute force on a wider hub-skewed graph") {
    // the hub reaches 40 of 60 vertices: the hub's out-neighbor array
    // meets many short ones in the sorted-merge intersect
    val rnd = new scala.util.Random(61)
    val pairs = (Seq.fill(150)((0L, 1L + rnd.nextInt(40).toLong)) ++
      Seq.fill(250)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    assert(triRow(pairs) == refTriangles(pairs.toSet))
  }

  test("triangleStats is invariant under id shifts past 2^31 and below zero") {
    // the adjacency arrays hold raw long ids, so ids past the int range
    // and negative ids must produce the identical census: shifting ids
    // changes no degree and no adjacency, so all four numbers must match
    val rnd = new scala.util.Random(29)
    val base = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val smallIds = triRow(base)
    val bigIds = triRow(base.map { case (a, b) => (a + (1L << 31), b + (1L << 31)) })
    val negIds = triRow(base.map { case (a, b) => (a - 100L, b - 100L) })
    assert(bigIds == smallIds, "ids past 2^31 diverged")
    assert(negIds == smallIds, "negative ids diverged")
  }

  test("pinPartitioned: declared hash layout is real — rows, plan, and joins agree") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // a declared distribution the rows don't actually have would silently
    // mis-join (co-partitioned join, no exchange to fix the layout), so
    // pin three guarantees: (1) the pinned frame reports HashPartitioning
    // on the key, (2) the row multiset is unchanged, (3) an equi-join on
    // the declared key matches the plain DataFrame join exactly.
    val df = (1L to 5000L).map(i => (i % 97, i)).toDF("src", "dst")
    Lease.scoped { lease =>
      val (pinned, _) = lease.pinPartitioned(df, Seq("src"))
      pinned.queryExecution.executedPlan.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.map(_.references.head.name) == Seq("src"))
        case other => fail(s"expected declared HashPartitioning, got $other")
      }
      assert(pinned.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        .toSeq == df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
      val probe = spark.range(97).select(col("id").as("src"), (col("id") * 7).as("w"))
      val got = pinned.join(probe.hint("SHUFFLE_HASH"), "src")
        .select(col("src"), col("dst"), col("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = df.join(probe, "src")
        .select(col("src"), col("dst"), col("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == want, "join through the declared layout diverged")
    }
  }
}
