package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.expressions.VectorExpressions

/** Approximate-nearest-neighbor search over the embedding column
  * (builder mandate): brute-force cosine top-k as the exact baseline, and
  * two ANN variants — random-hyperplane LSH and IVF — as the 100 TB paths.
  *
  * Brute force broadcasts the (small) query set against the full candidate
  * table — a map-side nested loop, no shuffle, linear in candidates.
  *
  * The ANN code spaces are SIZED FROM THE CORPUS, not compile-time
  * constants: the LSH plane count grows as log2(N / target-bucket) so
  * expected bucket occupancy stays ~[[TARGET_BUCKET]] at any N, and the IVF
  * codebook grows as sqrt(N) (the classical IVF operating point). With
  * occupancy pinned, LSH candidate volume is ~N * |probes| * B — linear in
  * N times a polylog probe factor — instead of the constant fraction of N^2
  * that any fixed code space degrades to at scale. Recall is measured
  * against the exact baseline in SimilaritySpec at multiple plane counts.
  */
object Similarity {
  import Tables._

  val K = 5
  val N_QUERIES = 20
  val LLOYD_ROUNDS = 2

  /** Independent LSH hash tables for q40's top-k search: recall rises as
    * 1-(1-p)^L while index size and candidate volume scale linearly in L.
    * Operating point L=3 at radius 3 under the r12 sha2 plane family
    * (Q40Tune grid: 1.0 / 0.99 / 0.96 at sf0.001/0.01/0.1) — the first L
    * whose recall clears 0.9 at every tested scale factor, the same
    * selection rule that previously picked L=4 for the radius-2 gaussian
    * family. Candidate volume stays ~L * |probes| * TARGET_BUCKET per
    * query. */
  val N_TABLES = 3

  /** Training sample size per centroid: Lloyd runs over at most
    * C * this rows (deterministically hash-sampled inside
    * [[trainCentroids]]), so training cost is ~C^2 * this — never N * C —
    * regardless of corpus size. 64 points per cell is plenty to place a
    * coarse quantizer. */
  val TRAIN_PER_CENTROID = 64L

  /** Embedding dimensionality of the corpus (embeddings.parquet schema). */
  val DIM = 64

  /** Target expected vectors per LSH bucket; planes are chosen so
    * N / 2^planes ~= this. 8 keeps per-probe verification work tiny while
    * leaving enough co-bucketed neighbors for recall. */
  val TARGET_BUCKET = 8

  val MIN_PLANES = 4

  /** Probe-ring cap: at 24 planes a radius-3 ring is C(24,<=3) = 2,325
    * probe rows per query — the practical explode budget. Beyond ~2^24
    * expected buckets (N ~ 10^8 per scope at B=8), grow the OTHER axis:
    * scope the buckets by a partition key (lang/source), exactly as
    * [[Dedup.minhashPairs]] does, so each scope re-earns the full code
    * space. */
  val MAX_PLANES = 24

  /** ceil(log2(N/B)) planes, clamped to [MIN_PLANES, MAX_PLANES]: the code
    * space tracks the corpus so bucket occupancy stays ~B as N grows.
    * Computed by INTEGER comparison (smallest p with B*2^p >= N), not a
    * float log ratio: the fp quotient can land a ulp either side of an
    * integer exactly when N/B is a power of two, and the q64/q40 oracles
    * must derive the identical p in DuckDB SQL at any corpus size. */
  def planesForCorpus(n: Long, targetBucket: Long = TARGET_BUCKET): Int = {
    val target = math.max(n, 1)
    val raw = (0 to MAX_PLANES)
      .find(p => (targetBucket << p) >= target).getOrElse(MAX_PLANES)
    math.max(MIN_PLANES, math.min(MAX_PLANES, raw))
  }

  /** sqrt(N) coarse cells — the standard IVF operating point (total probe
    * cost ~ nprobe * N / C is minimized near C = sqrt(N)). The clamp bounds
    * the driver-held codebook at 65536 x DIM doubles (~32 MB — a broadcast,
    * not a corpus). Per-row assignment cost is C x DIM multiply-adds in ONE
    * codegen'd loop ([[expressions.CentroidTopK]] carries the codebook as a
    * reference object), so C does not grow the expression tree or the
    * generated method — the classical IVF trade, not a codegen hazard. */
  def centroidsForCorpus(n: Long): Int =
    math.max(4, math.min(65536, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** ceil(log2(C)) probed lists, floored at 4: per-query candidate volume
    * is ~nprobe * N/C = log2(sqrt N) * sqrt(N) — near-sqrt, NOT a constant
    * fraction of the corpus (a c/4 rule would make it N/4: linear).
    * Integer-exact (smallest p with 2^p >= C) for the same oracle-parity
    * reason as [[planesForCorpus]]: the q67/q86 oracles re-derive nprobe
    * in SQL from the dumped codebook's row count. */
  def nprobeFor(c: Int): Int =
    math.min(c, math.max(4,
      (0 to 31).find(p => (1L << p) >= c).getOrElse(31)))

  /** Probe radius for q40's top-k search: 3 at every plane count. The
    * r11 sha2 plane family re-tune (Q40Tune grid at sf0.1, p=8) measured
    * radius 2 at 0.70-0.88 recall across L=3..6 — BELOW the 0.9 contract
    * at every table count — where radius 3 reads 0.96 at L=3 and 0.98 at
    * the L=4 operating point (sf0.001/0.01 read 0.96 at both radii). The
    * ring stays inside the explode budget at the widest code
    * (C(24,<=3) = 2,325 probes); recall is pinned in SimilaritySpec. */
  def radiusFor(nPlanes: Int): Int = 3

  /** Deterministic hyperplanes from an ENGINE-REPRODUCIBLE hash family
    * (the q36 sha2 trick applied to the embedding family): coordinate j of
    * global plane g is the first 8 hex chars of sha256("hp:g:j") read as a
    * 32-bit unsigned integer, centered by 2^31 — a symmetric uniform
    * integer draw, exact as a double in BOTH engines, so the q64/q40
    * DuckDB oracles rebuild the identical planes, sign codes, probe rings
    * and candidates string-for-string. Uniform replaces the former
    * Random(42) gaussians: sign-projection LSH only needs a symmetric
    * coordinate law (across DIM=64 dims the projection w.v is
    * CLT-gaussian either way; recall floors re-measured in
    * SimilaritySpec/DedupSpec). Prefix-stable: plane g depends only on
    * (g, j), so growing the code space only appends sign bits. */
  def hyperplanes(nPlanes: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(g => (0 until DIM).map(j => planeCoord(g, j)))

  /** The (g, j) draw: uniform integer in [-2^31, 2^31). */
  private def planeCoord(g: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(s"hp:$g:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex, 16) - 2147483648L).toDouble
  }

  /** Sign code of a vector against `nPlanes` hyperplanes. `table` selects
    * an INDEPENDENT plane set (slice `table` of the prefix-stable stream):
    * multi-table LSH unions candidates over several codes, trading index
    * size for recall — the classical L-tables knob. Table 0 is bit-
    * identical to the single-table code. */
  def lshCode(v: Column, nPlanes: Int, table: Int = 0): Column = {
    require(nPlanes >= 1 && nPlanes <= MAX_PLANES, s"nPlanes $nPlanes not in [1, $MAX_PLANES]")
    require(table >= 0, s"table $table < 0")
    val planes = hyperplanes((table + 1) * nPlanes)
      .slice(table * nPlanes, (table + 1) * nPlanes)
    (0 until nPlanes)
      .map(p => when(VectorOps.dot(v, typedlit(planes(p))) > 0, lit(1L << p)).otherwise(lit(0L)): Column)
      .reduce(_ + _)
  }

  /** Multi-probe masks: all codes within `radius` bit flips of `nPlanes`
    * sign bits. Similar vectors differ in few sign bits, so probing nearby
    * buckets recovers most true neighbors while the ring stays polynomial
    * in the plane count (sum of C(nPlanes, r) for r <= radius), NOT
    * proportional to the 2^nPlanes code space. Built combinatorially so
    * any plane count up to [[MAX_PLANES]] enumerates only its own ring. */
  def probeMasks(nPlanes: Int, radius: Int): Seq[Long] =
    (0 to math.min(radius, nPlanes)).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)

  /** Largest probe radius <= maxRadius whose ring (sum of C(p, <=r)) stays
    * under `ringCap` buckets. The ring grows ~p^r as planes scale with the
    * corpus (p = log2(N/B)), so a FIXED radius makes per-item probe work
    * polylog-superlinear at extreme N: C(25, <=3) = 2,626 probes/item at
    * N=1e9 where p=6 needed 42. Capping the ring bounds per-item candidate
    * work at ringCap x bucket regardless of corpus size; recall at the
    * shrunken radius is the multi-table knob's job (L tables recover
    * 1-(1-r)^L like q40's measured curve). At every tested scale factor
    * (p <= 9, ring <= 130) the cap is inactive — same plans, same outputs. */
  def ringBoundedRadius(p: Int, maxRadius: Int = 3, ringCap: Int = 192): Int = {
    def comb(n: Int, k: Int): Long =
      (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i)
    def ring(r: Int): Long = (0 to r).map(comb(p, _)).sum
    (1 to maxRadius).reverse.find(ring(_) <= ringCap).getOrElse(1)
  }

  /** Nearest-centroid id. Centroids are pre-normalized, so argmax dot ==
    * argmax cosine (|v| is constant across candidates for one row); equal
    * scores break to the higher cid, deterministically. One codegen'd loop
    * over a reference-object codebook — NOT C inlined literals, so the
    * expression tree stays O(1) in C (see [[expressions.CentroidTopK]]). */
  def nearestCid(v: Column, cents: Seq[Seq[Double]]): Column =
    element_at(VectorExpressions.centroidTopK(v, cents, 1), 1)

  /** The `nprobe` closest centroid ids, best first — same single-loop
    * expression, selecting top-nprobe in-place (no C-element sort). */
  def topProbeCids(v: Column, cents: Seq[Seq[Double]], nprobe: Int): Column =
    VectorExpressions.centroidTopK(v, cents, nprobe)

  /** IVF coarse quantizer (the inverted-file layer of Jégou, Douze &
    * Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011 — coarse cells + probed lists, without the PQ residual
    * codes): Lloyd's k-means over (vec_id, v) with
    * deterministic init (the first `c` rows of the training frame by id —
    * NOT an absolute id range, so the sampled frame still seeds a full
    * codebook). Training SAMPLES INTERNALLY: when the corpus exceeds
    * c * [[TRAIN_PER_CENTROID]] rows, a deterministic xxhash64 filter
    * keeps ~that many, so Lloyd cost is ~C^2 * 64 — independent of N —
    * instead of N * C (~N^1.5 at C = sqrt N). Each round is ONE
    * distributed job — nearest-centroid assignment fused with a
    * (cid, pos) partial-aggregated sum — and collects only c×dim
    * (sum, count) cells to the driver, so driver state is bounded by the
    * codebook size, never the corpus. Centroid means are
    * rounded to 1e-6 before normalizing: partial double sums merge in
    * shuffle-arrival order, and the rounding squashes the order-dependent
    * low bits so the codebook is stable across cluster layouts too.
    *
    * `knownTotal`: every caller has already counted the corpus to size
    * the codebook, so recounting here was one pure-latency driver
    * round-trip per training (guide §1 — measure what each job is for;
    * the same parameter [[trainSubCentroidsL2All]] always had). */
  def trainCentroids(e: DataFrame, c: Int, rounds: Int,
      knownTotal: Long = -1L): Seq[Seq[Double]] = {
    def normalize(x: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(x.map(y => y * y).sum)
      if (n == 0) x else x.map(_ / n)
    }
    val target = c.toLong * TRAIN_PER_CENTROID
    val total = if (knownTotal >= 0) knownTotal else e.count()
    val train =
      if (total > target)
        e.filter(pmod(xxhash64(col("vec_id")), lit(total / target)) === 0)
      else e
    var cents: Seq[Seq[Double]] = train
      .orderBy(col("vec_id")).limit(c).select(col("v"))
      .collect().map(r => normalize(r.getSeq[Double](0))).toSeq
    require(cents.nonEmpty, "trainCentroids: empty training frame")
    for (_ <- 1 to rounds) {
      val cells = train
        .select(nearestCid(col("v"), cents).as("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCid = cells.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, cid) =>
        byCid.get(cid) match {
          case Some(rows) =>
            normalize(rows.sortBy(_.getInt(1))
              .map(r => math.rint(r.getDouble(2) / r.getLong(3) * 1e6) / 1e6)
              .toSeq)
          case None => old // empty cluster keeps its centroid
        }
      }
    }
    cents
  }

  /** PQ geometry: M sub-vectors of DIM/M dims, K centroids per
    * sub-codebook. A vector compresses to M small ints — 8 codes over
    * 32-cell books = 8 x 5 bits (5 bytes) vs 64 float32s (256 bytes,
    * ~51x smaller). Measured at sf0.001: K=32 holds recall 0.90 vs 0.86
    * at K=16. K scales like any codebook (sample-trained); M divides
    * DIM. */
  val PQ_M = 8

  /** Small-corpus sub-codebook size (the sf0.001/0.01 operating point). */
  val PQ_K = 32

  /** The standard production sub-codebook size: one byte per code.
    * Measured at sf0.1 via the registered q86 path: recall 0.960 vs the
    * exact baseline (SimilaritySpec "production operating point" floor
    * 0.9). */
  val PQ_K_PRODUCTION = 256

  /** The corpus-size switch between the two PQ operating points — IN
    * CODE, not prose (r12 directive): a K-cell book wants at least a few
    * training points per cell, so the production point arms once the
    * corpus clears 4 points/cell (n >= 4 * 256). sf0.1's 2000-vector
    * corpus trains K=256 (recall 0.960 measured); the 500-vector
    * sf0.001/0.01 corpora keep K=32 (recall 0.91, and the correctness
    * gate at sf0.01 keeps its historical codebook). ONE definition shared
    * by the registered q86 and the aux_pq_books oracle dump — if these
    * diverged, the oracle would replay the wrong books. */
  def pqKForCorpus(n: Long): Int =
    if (n >= 4L * PQ_K_PRODUCTION) PQ_K_PRODUCTION else PQ_K

  /** L2 k-means for one PQ subspace: Lloyd WITHOUT the unit-normalization
    * [[trainCentroids]] applies (PQ quantizes raw sub-vectors, so the
    * centroid must be the plain mean and assignment must minimize
    * euclidean distance). Assignment reuses the single-loop
    * [[expressions.VectorExpressions.centroidTopK]] dot product through
    * the classical augmentation argmin ||x-c||^2 == argmax (c.x -
    * ||c||^2/2): append 1.0 to x and -||c||^2/2 to c. Same determinism
    * story as [[trainCentroids]]: internal hash sampling, deterministic
    * init, 1e-6-rounded means. */
  def trainSubCentroidsL2(sub: DataFrame, k: Int, rounds: Int,
      knownTotal: Long = -1L): Seq[Seq[Double]] = {
    val target = k.toLong * TRAIN_PER_CENTROID
    // every subspace has the same row count: the caller passes it once so
    // 8 sub-books don't re-count the corpus 8 times
    val total = if (knownTotal >= 0) knownTotal else sub.count()
    val train =
      if (total > target)
        sub.filter(pmod(xxhash64(col("vec_id")), lit(total / target)) === 0)
      else sub
    var cents: Seq[Seq[Double]] = train
      .orderBy(col("vec_id")).limit(k).select(col("v"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(cents.nonEmpty, "trainSubCentroidsL2: empty training frame")
    for (_ <- 1 to rounds) {
      val cells = train
        .select(nearestL2Cid(col("v"), cents).as("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCid = cells.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, cid) =>
        byCid.get(cid) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1))
              .map(r => math.rint(r.getDouble(2) / r.getLong(3) * 1e6) / 1e6)
              .toSeq
          case None => old
        }
      }
    }
    cents
  }

  /** All [[PQ_M]] PQ sub-codebooks trained TOGETHER: one assignment +
    * partial-agg job per Lloyd round for the whole codebook family
    * (each row explodes into its M (m, cid, subvector) assignments, one
    * grouped aggregation over (m, cid, pos)) and ONE init collect of k
    * full vectors sliced driver-side — 2 + rounds driver round-trips
    * instead of M * (1 + rounds) separate jobs. Numerically identical to
    * training each book via [[trainSubCentroidsL2]]: same hash sample
    * (the filter depends only on vec_id), same init rows, same 1e-6
    * rounding — pinned by SimilaritySpec. */
  def trainSubCentroidsL2All(e: DataFrame, k: Int, rounds: Int,
      knownTotal: Long = -1L): Seq[Seq[Seq[Double]]] = {
    val m = PQ_M
    val subDim = DIM / m
    val target = k.toLong * TRAIN_PER_CENTROID
    val total = if (knownTotal >= 0) knownTotal else e.count()
    val train =
      if (total > target)
        e.filter(pmod(xxhash64(col("vec_id")), lit(total / target)) === 0)
      else e
    val initRows = train.orderBy(col("vec_id")).limit(k).select(col("v"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq)
    require(initRows.nonEmpty, "trainSubCentroidsL2All: empty training frame")
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map(mi =>
      initRows.map(r => r.slice(mi * subDim, (mi + 1) * subDim).toSeq).toSeq)
    for (_ <- 1 to rounds) {
      val subAssign = array((0 until m).map { mi =>
        val sv = slice(col("v"), mi * subDim + 1, subDim)
        struct(lit(mi).as("m"), nearestL2Cid(sv, books(mi)).as("cid"), sv.as("sv"))
      }: _*)
      val cells = train
        .select(explode(subAssign).as("a"))
        .select(col("a.m").as("m"), col("a.cid").as("cid"),
          posexplode(col("a.sv")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byM = cells.groupBy(_.getInt(0))
      books = books.zipWithIndex.map { case (book, mi) =>
        val byCid = byM.getOrElse(mi, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getInt(1))
        book.zipWithIndex.map { case (old, cid) =>
          byCid.get(cid) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(2))
                .map(r => math.rint(r.getDouble(3) / r.getLong(4) * 1e6) / 1e6)
                .toSeq
            case None => old
          }
        }
      }
    }
    books
  }

  /** argmin_c ||v - c||^2 via the augmented dot (see
    * [[trainSubCentroidsL2]]) — one codegen'd loop, ties to the higher
    * cid like [[nearestCid]]. */
  def nearestL2Cid(v: Column, cents: Seq[Seq[Double]]): Column = {
    val aug = cents.map(c => c :+ (-0.5 * c.map(x => x * x).sum))
    element_at(VectorExpressions.centroidTopK(
      concat(v, array(lit(1.0))), aug, 1), 1)
  }

  /** PQ-encode: the M sub-codes of `v` against per-subspace codebooks. */
  def pqCodes(v: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val subDim = DIM / books.size
    array(books.zipWithIndex.map { case (book, m) =>
      nearestL2Cid(slice(v, m * subDim + 1, subDim), book)
    }: _*)
  }

  /** IVF-PQ ANN top-k (the full method of Jégou, Douze & Schmid, TPAMI
    * 2011): the IVF layer prunes to nprobe inverted lists, then candidates
    * are scored against their M sub-codes ([[pqKForCorpus]]: K=32 5-bit
    * below 1024 training vectors, the K=256 one-byte production point
    * at and above) with an asymmetric
    * distance (query side exact, database side quantized) — the scan
    * touches CODES, never raw vectors — and only the adcK best per query
    * are re-ranked with the exact cosine. At 100 TB this is what makes the
    * probe scan memory-resident: the code table is 64x smaller than the
    * vectors, the per-query LUT (M x K exact sub-distances) is a broadcast,
    * and raw vectors are fetched for adcK rows per query, not per list.
    * Recall vs the exact baseline is pinned in SimilaritySpec. */
  def ivfPqTopK(e: DataFrame, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], nprobe: Int, nQueries: Int, k: Int,
      adcK: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val subDim = DIM / books.size
    val indexed = e
      .withColumn("cid", nearestCid(col("v"), cents))
      .withColumn("codes", pqCodes(col("v"), books))
    // per-query LUT of exact sub-distances ||q_m - c_{m,j}||^2 — tiny
    // (nQueries x M x K doubles), computed on the driver, broadcast back
    val qvecs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    // probe ranking rides the SAME driver pass (r21, guide §1.2/§5):
    // the query vectors are already in hand for the LUTs, so their
    // top-nprobe cells come from the kernel's own interpreted loop
    // (centroidTopKLocal — bit-identical tiebreaks) instead of a second
    // corpus-scan subtree (filter vec_id < nQueries -> explode ->
    // broadcast-join the LUT frame) whose only job was re-finding these
    // rows. Kills one scan + one broadcast-build chain per execution at
    // every scale; the broadcast relation's rows are unchanged.
    val probes = qvecs.toSeq.flatMap { case (qid, qv) =>
      val lut = books.zipWithIndex.map { case (book, m) =>
        val qm = qv.slice(m * subDim, (m + 1) * subDim)
        book.map(c => qm.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      VectorExpressions.centroidTopKLocal(qv, cents, nprobe)
        .map(cid => (qid, cid, lut))
    }.toDF("qid", "cid", "lut")
    // ADC preselect: distance = sum_m lut[m][code_m] over the CODES only
    val adc = indexed.select(col("vec_id").as("ib"), col("cid"), col("codes"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("ib") =!= col("qid"))
      .select(col("qid"), col("ib"),
        aggregate(sequence(lit(0), lit(books.size - 1)), lit(0.0), (acc, m) =>
          acc + element_at(element_at(col("lut"), m + 1),
            (element_at(col("codes"), m + 1) + 1).cast("int"))).as("adist"))
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("ib"))
    val cand = adc.withColumn("ark", row_number().over(wAdc))
      .filter(col("ark") <= adcK)
      .select(col("qid"), col("ib").as("vec_id"))
    // exact rerank of the adcK survivors only
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    scoreTopK(cand.join(e, "vec_id").join(broadcast(qs), "qid"), k)
  }

  /** (vec_id, v, nrm) frame every similarity query starts from. */
  def prepared(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))

  /** The 6-dp rounded-cosine scoring projection — THE one definition of
    * the ranking value every similarity consumer compares on
    * ([[scoreTopK]], q144's vector side, q145's label-filtered scan).
    * Oracles mirror it as `round(list_dot_product / nullif(..), 6)`;
    * a precision or null-semantics change lands everywhere at once. */
  def roundedCos(v: Column, qv: Column, nrm: Column, qn: Column): Column =
    round(VectorOps.cosinePre(VectorOps.dot(v, qv), nrm, qn), 6)

  /** Shared scoring tail of q39/q40/q67: a joined frame carrying
    * candidate (vec_id, v, nrm) × query (qid, qv, qn) becomes the
    * per-query top-k by rounded cosine with neighbor-id tiebreak
    * (deterministic across engines). One definition so the ranking
    * contract cannot drift between the exact and ANN paths. */
  private def scoreTopK(joined: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("ib"))
    joined
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("ib"),
        roundedCos(col("v"), col("qv"), col("nrm"), col("qn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("ib"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Exact top-k: broadcast query set, map-side scoring over every
    * candidate. */
  def bruteForceTopK(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    scoreTopK(e.crossJoin(broadcast(q)), k)
  }

  /** LSH ANN top-k at an explicit plane count: candidates = vectors
    * sharing any probed bucket in ANY of `nTables` independent hash
    * tables; each table's bucket equi join is the only pairwise work. Per
    * query it touches ~nTables * |probes| * TARGET_BUCKET candidates when
    * the plane count matches the corpus ([[planesForCorpus]]); recall
    * rises as 1-(1-p)^L in the table count (the classical multi-table
    * trade; measured in SimilaritySpec/COVERAGE.md).
    *
    * Candidate generation shuffles ONLY (table, code, id) — the vectors
    * join back by id for scoring, never riding the probe explosion. */
  def lshTopK(e: DataFrame, nPlanes: Int, radius: Int, nQueries: Int, k: Int,
      nTables: Int = 1): DataFrame = {
    val masks = probeMasks(nPlanes, radius)
    val codes = e.select(col("vec_id"),
        posexplode(array((0 until nTables).map(t =>
          lshCode(col("v"), nPlanes, t)): _*)).as(Seq("t", "code")))
    val qcodes = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("t"),
        explode(array(masks.map(m =>
          col("code").bitwiseXOR(lit(m))): _*)).as("code"))
    // distinct: a pair may co-bucket in several tables but must score once
    val cand = codes.join(broadcast(qcodes), Seq("t", "code"))
      .select(col("qid"), col("vec_id")).distinct()
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    scoreTopK(cand.join(e, "vec_id").join(broadcast(qs), "qid"), k)
  }

  /** q145's scale path made real: hard-negative mining whose candidate
    * generation is [[lshTopK]]'s multi-table multi-probe bucket join
    * instead of the brute scan. The DIFFERENT-label predicate rides the
    * candidate join itself — same-class rows (including the anchor)
    * drop before the distinct and the scoring tail, so the label filter
    * costs nothing extra at any scale. Output schema matches q145
    * (qid, rk, ib, label, cos); recall vs the exact q145 is measured in
    * SimilaritySpec, and the approximate answer itself is under the
    * full oracle (sha2 planes are engine-reproducible). */
  def lshHardNegatives(e: DataFrame, nPlanes: Int, radius: Int,
      nQueries: Int, k: Int, nTables: Int = 1): DataFrame = {
    val masks = probeMasks(nPlanes, radius)
    val codes = e.select(col("vec_id"), col("label"),
      posexplode(array((0 until nTables).map(t =>
        lshCode(col("v"), nPlanes, t)): _*)).as(Seq("t", "code")))
    val qcodes = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("t"),
        explode(array(masks.map(m =>
          col("code").bitwiseXOR(lit(m))): _*)).as("code"))
    val cand = codes.join(broadcast(qcodes), Seq("t", "code"))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id")).distinct()
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("ib"))
    cand.join(e, "vec_id").join(broadcast(qs), "qid")
      .select(col("qid"), col("vec_id").as("ib"), col("label"),
        roundedCos(col("v"), col("qv"), col("nrm"), col("qn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("ib"), col("label"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  /** IVF ANN top-k against a trained codebook: each query probes only its
    * nprobe closest inverted lists; candidate generation is an equi join
    * on cid. The inverted lists are exactly a partitioning key at 100 TB —
    * write the index bucketed by cid and the probe join co-locates without
    * a shuffle. */
  def ivfTopK(e: DataFrame, cents: Seq[Seq[Double]], nprobe: Int,
      nQueries: Int, k: Int): DataFrame = {
    val indexed = e.withColumn("cid", nearestCid(col("v"), cents))
    val q = indexed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(topProbeCids(col("v"), cents, nprobe)).as("cid"))
    scoreTopK(indexed.join(broadcast(q), Seq("cid")), k)
  }

  /** Johnson-Lindenstrauss target dimension for [[projected]]. 24 of 64
    * dims cuts every downstream dot product ~2.7x; the distance distortion
    * that buys is measured (not assumed) in SimilaritySpec — at k=16 the
    * median-threshold near-dup prefilter drops to 0.94 recall, so 24 is
    * the operating point that holds the 0.95 contract. */
  val PROJ_DIM = 24

  /** Deterministic gaussian projection matrix (seed 7 — independent of the
    * LSH plane stream), scaled 1/sqrt(k) so expected squared norms are
    * preserved (the JL estimator). */
  def projectionPlanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    val s = 1.0 / math.sqrt(PROJ_DIM.toDouble)
    Seq.fill(PROJ_DIM)(Seq.fill(DIM)(rnd.nextGaussian() * s))
  }

  /** Random-projection dimensionality reduction (Johnson & Lindenstrauss;
    * the dense-gaussian variant of Achlioptas 2003): v'_i = r_i . v /
    * sqrt(k). Pure map-side codegen'd work — each output dim is one
    * [[VectorOps.dot]] against a literal row — so at 100 TB this is a
    * free-riding projection inside whatever scan already reads the
    * vectors, and every downstream ANN/dedup pass pays DIM/k of the
    * arithmetic. The matrix is a compile-time constant, which is what
    * makes the q82 output exactly reproducible in any engine. */
  def projected(e: DataFrame): DataFrame = {
    val planes = projectionPlanes
    e.select((col("vec_id") +:
      planes.zipWithIndex.map { case (r, i) =>
        round(VectorOps.dot(col("v"), typedlit(r)), 6).as(s"d$i")
      }): _*)
  }

  // ---- DuckDB oracle fragments for the hyperplane code family ----
  // (the q36 sha2 template: both engines rebuild the identical planes,
  // codes, probe rings and candidates, so q64/q40 carry FULL oracles)

  /** SQL parsing the first 8 hex chars of sha256(`s`) as a BIGINT — the
    * DuckDB twin of [[planeCoord]]'s draw. */
  private[functions] def sqlHex8Of(s: String): String = {
    val h = s"substr(sha256($s), 1, 8)"
    (0 until 8).map(k =>
      s"(strpos('0123456789abcdef', substr($h, ${k + 1}, 1)) - 1)::BIGINT * ${1L << (4 * (7 - k))}")
      .mkString("(", " + ", ")")
  }

  /** Integer-exact plane count in SQL — [[planesForCorpus]] verbatim:
    * smallest p with B*2^p >= N, clamped to [MIN_PLANES, MAX_PLANES].
    * `nExpr` is a scalar-subquery text for the corpus size. */
  private[functions] def sqlPlanesFor(nExpr: String, targetBucket: Long): String =
    s"""greatest($MIN_PLANES, least($MAX_PLANES, coalesce(
          (SELECT min(z.pp) FROM range(${MAX_PLANES + 1}) z(pp)
           WHERE ($targetBucket::BIGINT << z.pp) >= greatest($nExpr, 1)),
          $MAX_PLANES)))"""

  /** Shared oracle CTEs: given prior CTEs `e(vec_id, v, nrm)` and
    * `par(p, r)`, builds `codes(vec_id, t, code)` over `nTables` tables
    * plus the radius-r probe ring `masks(m)`. The ring is enumerated
    * combinatorially (0-, 1-, 2-, 3-bit subsets of the low p bits) —
    * DuckDB's range() cannot take a lateral bound — matching
    * [[probeMasks]] exactly for r <= 3. */
  private[functions] def sqlLshCtes(nTables: Int): String = s"""
        planes AS (
          SELECT t.t, pl.pl, j.j,
                 (${sqlHex8Of(s"'hp:' || (t.t * par.p + pl.pl) || ':' || j.j")}
                  - 2147483648)::DOUBLE AS c
          FROM par, range($nTables) t(t), range($MAX_PLANES) pl(pl), range($DIM) j(j)
          WHERE pl.pl < par.p),
        pvec AS (SELECT t, pl, list(c ORDER BY j) AS pv FROM planes GROUP BY t, pl),
        codes AS (
          SELECT e.vec_id, pv.t,
                 sum(CASE WHEN list_dot_product(e.v, pv.pv) > 0
                          THEN (1::BIGINT << pl) ELSE 0 END)::BIGINT AS code
          FROM e, pvec pv GROUP BY 1, 2),
        masks AS (
          SELECT 0::BIGINT AS m FROM par
          UNION ALL SELECT (1::BIGINT << i.i)
            FROM par, range($MAX_PLANES) i(i)
            WHERE i.i < par.p AND par.r >= 1
          UNION ALL SELECT (1::BIGINT << i.i) | (1::BIGINT << j.j)
            FROM par, range($MAX_PLANES) i(i), range($MAX_PLANES) j(j)
            WHERE i.i < j.j AND j.j < par.p AND par.r >= 2
          UNION ALL SELECT (1::BIGINT << i.i) | (1::BIGINT << j.j) | (1::BIGINT << k.k)
            FROM par, range($MAX_PLANES) i(i), range($MAX_PLANES) j(j), range($MAX_PLANES) k(k)
            WHERE i.i < j.j AND j.j < k.k AND k.k < par.p AND par.r >= 3)"""

  /** The `e(vec_id, v, nrm)` oracle CTE — [[prepared]] in SQL. */
  private[functions] val SQL_E = """e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings)"""

  /** Placeholder oracles use to reference Verify-dumped support tables;
    * [[graft.Verify]] substitutes the absolute dump dir, so the oracle
    * reads the EXACT codebook the engine trained (Lloyd is deterministic
    * but iterative — out of single-statement SQL reach — so the trained
    * artifact is dumped and the oracle replays assignment + scoring). */
  val AUXDIR = "__AUXDIR__"

  /** `read_parquet` over a Verify-dumped aux table. */
  private[functions] def sqlAux(name: String): String =
    s"read_parquet('$AUXDIR/$name/*.parquet')"

  /** Integer-exact [[nprobeFor]] in SQL from the dumped codebook's row
    * count: `np(np)` scalar CTE body. `plusOne` covers
    * [[Dedup.semdedupProbes]]'s `+1` variant. */
  private[functions] def sqlNprobeCte(centsTable: String, plusOne: Boolean): String = {
    val inc = if (plusOne) " + 1" else ""
    s"""np AS (
          SELECT least(t.c, greatest(4, coalesce(
            (SELECT min(z.pp) FROM range(32) z(pp)
             WHERE (1::BIGINT << z.pp) >= t.c), 31)$inc))::INT AS np
          FROM (SELECT count(*)::BIGINT AS c FROM $centsTable) t)"""
  }

  /** Coarse-assignment oracle CTEs shared by q67/q86/q79: per-(vector,
    * centroid) dot scores, the (s DESC, cid DESC) probe ranking that
    * mirrors [[expressions.VectorExpressions.centroidTopK]]'s tiebreak,
    * and the home-cell assignment. Expects `e` and `cents(cid, cent)`. */
  private[functions] val SQL_COARSE = """cscore AS (
          SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cent) AS s
          FROM e, cents c),
        crank AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
          FROM cscore),
        assign AS (SELECT vec_id, cid FROM crank WHERE rn = 1)"""

  /** Oracle-support dumps for the codebook queries: the trained coarse
    * centroids (q67/q86) and PQ sub-books (q86). Training is
    * deterministic (hash-sampled, id-ordered init, 1e-6-rounded means —
    * SimilaritySpec pins it), so the dump equals the codebook the
    * registered query trains internally. */
  def auxDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aux_ivf_centroids" -> ((s, d) => {
      import s.implicits._
      val cents = graft.Lease.scoped { l =>
        val e = l.cache(prepared(s, d))
        val nAux = e.count()
        trainCentroids(e, centroidsForCorpus(nAux), LLOYD_ROUNDS,
          knownTotal = nAux)
      }
      cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "cent")
    }),
    "aux_pq_books" -> ((s, d) => {
      import s.implicits._
      val books = graft.Lease.scoped { l =>
        val e = l.cache(prepared(s, d))
        val n = e.count()
        trainSubCentroidsL2All(e, pqKForCorpus(n), LLOYD_ROUNDS, knownTotal = n)
      }
      books.zipWithIndex.flatMap { case (book, m) =>
        book.zipWithIndex.map { case (v, cid) => (m, cid, v) }
      }.toDF("m", "cid", "cent")
    }))

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q82_random_projection",
      (s, d) => projected(prepared(s, d)).orderBy(col("vec_id")),
      Some {
        val rows = projectionPlanes.map(_.map(_.toString).mkString("[", ",", "]"))
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_id,
               ${rows.zipWithIndex.map { case (r, i) =>
                 s"round(list_dot_product(v, $r), 6) AS d$i" }.mkString(",\n               ")}
        FROM e
        ORDER BY vec_id"""
      },
      "JL random projection 64->24: codegen'd literal-matrix dots, engine-exact output"),

    QueryDef(
      "q39_knn_brute",
      (s, d) => bruteForceTopK(prepared(s, d), N_QUERIES, K),
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                   FROM embeddings),
        pairs AS (
          SELECT q.vec_id AS qid, c.vec_id AS ib,
                 round(list_dot_product(q.v, c.v) / nullif(q.nrm * c.nrm, 0), 6) AS cos
          FROM e q JOIN e c ON q.vec_id < $N_QUERIES AND c.vec_id <> q.vec_id),
        ranked AS (
          SELECT qid, ib, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ib) AS rk
          FROM pairs)
        SELECT qid, rk, ib, cos FROM ranked WHERE rk <= $K
        ORDER BY qid, rk"""),
      "exact cosine top-k: broadcast query set, map-side scoring, per-query rank"),

    QueryDef(
      "q40_knn_lsh",
      (s, d) => {
        // the plane count is derived from the corpus (log2(N/B)), so the
        // code space — and with it the candidate volume per query — tracks
        // N instead of capping at a compile-time constant; N_TABLES
        // independent tables buy the recall a single code can't reach at
        // top-k granularity (measured in COVERAGE.md).
        val e = graft.Caches.lease(prepared(s, d))
        val p = planesForCorpus(e.count())
        lshTopK(e, p, radiusFor(p), N_QUERIES, K, N_TABLES)
      },
      // FULL oracle (sha2-derived hyperplanes are engine-reproducible):
      // DuckDB rebuilds the identical planes, sign codes, probe rings,
      // candidate sets and rounded cosines, so the approximate answer
      // matches string-for-string. Recall vs q39 stays asserted in
      // SimilaritySpec — the oracle proves the ENGINE, the spec the
      // operating point.
      Some(s"""
        WITH $SQL_E,
        par AS (
          SELECT p, 3 AS r
          FROM (SELECT ${sqlPlanesFor("(SELECT count(*) FROM e)", TARGET_BUCKET)} AS p) pq),
        ${sqlLshCtes(N_TABLES)},
        qprobes AS (
          SELECT c.vec_id AS qid, c.t, xor(c.code, m.m) AS code
          FROM codes c, masks m WHERE c.vec_id < $N_QUERIES),
        cand AS (
          SELECT DISTINCT qp.qid, c2.vec_id
          FROM qprobes qp JOIN codes c2 ON qp.t = c2.t AND qp.code = c2.code),
        scored AS (
          SELECT cand.qid, cand.vec_id AS ib,
                 round(list_dot_product(b.v, q.v) / nullif(b.nrm * q.nrm, 0), 6) AS cos
          FROM cand
          JOIN e b ON cand.vec_id = b.vec_id
          JOIN e q ON cand.qid = q.vec_id
          WHERE cand.vec_id <> cand.qid),
        ranked AS (
          SELECT qid, ib, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ib) AS rk
          FROM scored)
        SELECT qid, rk, ib, cos FROM ranked WHERE rk <= $K
        ORDER BY qid, rk"""),
      "LSH-bucketed ANN: corpus-sized hyperplane code -> equi join on sign code"),

    QueryDef(
      "q67_knn_ivf",
      (s, d) => {
        // IVF ANN: a k-means codebook partitions the corpus into inverted
        // lists; codebook size follows sqrt(N) and nprobe log2(C), so probe
        // cost per query stays ~log(N) * sqrt(N) as the corpus grows.
        val e = graft.Caches.lease(prepared(s, d))
        val n = e.count()
        val c = centroidsForCorpus(n)
        val cents = trainCentroids(e, c, LLOYD_ROUNDS, knownTotal = n)
        ivfTopK(e, cents, nprobeFor(c), N_QUERIES, K)
      },
      // FULL oracle against the Verify-dumped codebook (aux_ivf_centroids
      // — Lloyd is deterministic, so the dump IS the codebook this query
      // trains): DuckDB replays home-cell assignment, the top-nprobe
      // probe ranking (s DESC, cid DESC — centroidTopK's tiebreak), the
      // inverted-list candidate join and the exact rerank. Recall vs q39
      // stays asserted in SimilaritySpec.
      Some(s"""
        WITH $SQL_E,
        cents AS (SELECT cid, cent FROM ${sqlAux("aux_ivf_centroids")}),
        ${sqlNprobeCte("cents", plusOne = false)},
        $SQL_COARSE,
        qprobe AS (
          SELECT c.vec_id AS qid, c.cid
          FROM crank c, np WHERE c.vec_id < $N_QUERIES AND c.rn <= np.np),
        cand AS (
          SELECT qp.qid, a.vec_id
          FROM qprobe qp JOIN assign a ON qp.cid = a.cid
          WHERE a.vec_id <> qp.qid),
        scored AS (
          SELECT cand.qid, cand.vec_id AS ib,
                 round(list_dot_product(b.v, q.v) / nullif(b.nrm * q.nrm, 0), 6) AS cos
          FROM cand
          JOIN e b ON cand.vec_id = b.vec_id
          JOIN e q ON cand.qid = q.vec_id),
        ranked AS (
          SELECT qid, ib, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ib) AS rk
          FROM scored)
        SELECT qid, rk, ib, cos FROM ranked WHERE rk <= $K
        ORDER BY qid, rk"""),
      "IVF ANN: sqrt(N)-centroid Lloyd codebook, inverted-list equi join"),

    QueryDef(
      "q86_knn_ivfpq",
      (s, d) => {
        // IVF-PQ: coarse cells prune the corpus, per-subspace PQ codes
        // (pqKForCorpus: one-byte K=256 past 1024 training vectors, 5-bit
        // K=32 below) score the survivors, exact rerank of the ADC
        // top-20K.
        // Codebooks derive from the corpus like every other ANN knob
        // here; the corpus row count is taken once, and the 8 PQ
        // sub-books train FUSED (one job per Lloyd round for the whole
        // family — trainSubCentroidsL2All) beside the coarse trainer.
        // The cache must outlive the returned lazy frame (trainer
        // consumers + the scan); the RUNNER releases it after consuming
        // (Bench/Verify clearCache per query).
        val e = graft.Caches.lease(prepared(s, d))
        val n = e.count()
        val c = centroidsForCorpus(n)
        // The coarse codebook and the PQ sub-books are INDEPENDENT
        // deterministic trainings over the same cached sample, but each
        // is a chain of tiny collect-driven Lloyd jobs — pure driver
        // round-trip latency at any scale. Overlap them (guide §2.6,
        // "overlap independent jobs"): the sub-book training runs on a
        // second thread while the coarse trainer's rounds run on this
        // one. Results are bit-identical to the sequential order — each
        // training reads only the immutable cached frame and its own
        // prior round.
        val booksF = scala.concurrent.Future(
          trainSubCentroidsL2All(e, pqKForCorpus(n), LLOYD_ROUNDS, knownTotal = n))(
          scala.concurrent.ExecutionContext.global)
        // sub-codebook size follows the corpus ([[pqKForCorpus]]): K=256
        // (the one-byte production point, recall 0.960 measured at sf0.1)
        // once training density allows, K=32 below
        val cents = trainCentroids(e, c, LLOYD_ROUNDS, knownTotal = n)
        // bounded, not Inf (r20 verdict item 5): a hung sub-book job must
        // surface as a loud failure, not hang the query forever. The
        // bound is generous (the training is seconds at any sane scale —
        // it reads only the cached sample); a timeout rethrows with the
        // training named so the failure is attributable.
        val books =
          try scala.concurrent.Await.result(
            booksF, scala.concurrent.duration.Duration(30, "min"))
          catch {
            case e: java.util.concurrent.TimeoutException =>
              throw new IllegalStateException(
                "q86 PQ sub-book training did not finish within 30 min " +
                  "(overlapped trainer thread hung?)", e)
          }
        // adcK = 20K exact reranks per query: at sf0.1 the ADC top-10K cut
        // dropped true neighbors the coarse layer had kept (IVF recall
        // 0.96 vs IVF-PQ 0.86); doubling the rerank budget is ~100 exact
        // dots per query — noise next to the code scan it filters
        ivfPqTopK(e, cents, books, nprobeFor(c), N_QUERIES, K, adcK = 20 * K)
      },
      // FULL oracle against BOTH Verify-dumped codebooks: DuckDB replays
      // PQ encoding (argmin L2 via the augmented dot — list_dot_product
      // plus -0.5*||c||^2, bit-identical to nearestL2Cid), the per-query
      // LUT of exact sub-distances (explicit left-associated 8-term sums
      // matching the driver's sequential fold), the ADC scan over probed
      // cells (per-pair distances summed in m order via an ordered list),
      // the adcK cut and the exact rerank. Recall stays in SimilaritySpec.
      Some {
        val subDim = DIM / PQ_M
        // ((q_j - c_j)^2 summed left-to-right over the m-th subspace
        val lutSum = (1 to subDim).map { j =>
          val d = s"(q.v[b.m*$subDim + $j] - b.cent[$j])"
          s"$d * $d"
        }.mkString("(", " + ", ")")
        val adcSum = (1 to PQ_M).map(i => s"dl[$i]").mkString(" + ")
        s"""
        WITH $SQL_E,
        cents AS (SELECT cid, cent FROM ${sqlAux("aux_ivf_centroids")}),
        books AS (SELECT m, cid, cent FROM ${sqlAux("aux_pq_books")}),
        ${sqlNprobeCte("cents", plusOne = false)},
        $SQL_COARSE,
        bscore AS (
          SELECT e.vec_id, b.m, b.cid,
                 list_dot_product(e.v[b.m*$subDim + 1 : b.m*$subDim + $subDim], b.cent)
                   + (-0.5 * list_dot_product(b.cent, b.cent)) AS s
          FROM e, books b),
        codes AS (
          SELECT vec_id, m, cid AS code FROM (
            SELECT vec_id, m, cid,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY s DESC, cid DESC) AS rn
            FROM bscore) WHERE rn = 1),
        qprobe AS (
          SELECT c.vec_id AS qid, c.cid
          FROM crank c, np WHERE c.vec_id < $N_QUERIES AND c.rn <= np.np),
        lut AS (
          SELECT q.vec_id AS qid, b.m, b.cid, $lutSum AS dist
          FROM e q, books b WHERE q.vec_id < $N_QUERIES),
        candc AS (
          SELECT qp.qid, a.vec_id AS ib
          FROM qprobe qp JOIN assign a ON qp.cid = a.cid
          WHERE a.vec_id <> qp.qid),
        adc AS (
          SELECT qid, ib, $adcSum AS adist FROM (
            SELECT c.qid, c.ib, list(l.dist ORDER BY l.m) AS dl
            FROM candc c
            JOIN codes k ON c.ib = k.vec_id
            JOIN lut l ON l.qid = c.qid AND l.m = k.m AND l.cid = k.code
            GROUP BY c.qid, c.ib)),
        cand AS (
          SELECT qid, ib FROM (
            SELECT qid, ib,
                   row_number() OVER (PARTITION BY qid ORDER BY adist, ib) AS ark
            FROM adc) WHERE ark <= ${20 * K}),
        scored AS (
          SELECT cand.qid, cand.ib,
                 round(list_dot_product(b.v, q.v) / nullif(b.nrm * q.nrm, 0), 6) AS cos
          FROM cand
          JOIN e b ON cand.ib = b.vec_id
          JOIN e q ON cand.qid = q.vec_id),
        ranked AS (
          SELECT qid, ib, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ib) AS rk
          FROM scored)
        SELECT qid, rk, ib, cos FROM ranked WHERE rk <= $K
        ORDER BY qid, rk"""
      },
      "IVF-PQ ANN: coarse cells + product-quantized ADC scan (corpus-sized K, one-byte codes in production) + exact rerank"),

    QueryDef(
      "q145_hard_negatives",
      (s, d) => {
        // Hard-negative mining for contrastive embedding training (the
        // standard curation step behind dense-retriever / embedding-model
        // data: e.g. Robinson et al., "Contrastive Learning with Hard
        // Negative Samples", ICLR 2021): for each anchor vector, the K
        // most-similar vectors whose class `label` DIFFERS — the points a
        // contrastive objective learns most from, because the geometry
        // says "same" while the supervision says "different". First
        // consumer of the embeddings table's label column.
        //
        // Shape: q39's brute-force scoring pass (broadcast anchors,
        // map-side cosine — the exact baseline; at corpus scale the
        // candidate generation swaps to the LSH/IVF paths above, the
        // label filter rides the same scoring tail either way). The
        // different-label predicate drops same-class rows BEFORE the
        // rank, so self-pairs vanish for free (anchor shares its own
        // label).
        val e = embeddings(s, d)
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"), col("label"))
          .withColumn("nrm", VectorOps.norm(col("v")))
        val q = e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qn"), col("label").as("qlabel"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("ib"))
        e.crossJoin(broadcast(q))
          .filter(col("label") =!= col("qlabel"))
          .select(col("qid"), col("vec_id").as("ib"), col("label"),
            roundedCos(col("v"), col("qv"), col("nrm"), col("qn")).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= K)
          .select(col("qid"), col("rk"), col("ib"), col("label"), col("cos"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                   FROM embeddings),
        pairs AS (
          SELECT q.vec_id AS qid, c.vec_id AS ib, c.label,
                 round(list_dot_product(q.v, c.v) / nullif(q.nrm * c.nrm, 0), 6) AS cos
          FROM e q JOIN e c ON q.vec_id < $N_QUERIES AND c.label <> q.label),
        ranked AS (
          SELECT qid, ib, label, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ib) AS rk
          FROM pairs)
        SELECT qid, rk, ib, label, cos FROM ranked WHERE rk <= $K
        ORDER BY qid, rk"""),
      "hard-negative mining: per-anchor top-k nearest DIFFERENT-label vectors (contrastive training pairs)"),

    QueryDef(
      "q156_hard_negatives_lsh",
      (s, d) => {
        // the q145 seam closed: identical semantics, candidate
        // generation swapped to the q40 LSH tables — the path that holds
        // when the corpus no longer brute-scans. Label predicate rides
        // the bucket join (pre-distinct, pre-scoring).
        val e = graft.Caches.lease(embeddings(s, d)
          .select(col("vec_id"),
            VectorOps.asDouble(col("embedding")).as("v"), col("label"))
          .withColumn("nrm", VectorOps.norm(col("v"))))
        val p = planesForCorpus(e.count())
        lshHardNegatives(e, p, radiusFor(p), N_QUERIES, K, N_TABLES)
      },
      Some(s"""
        WITH el AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, label,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings),
        $SQL_E,
        par AS (
          SELECT p, 3 AS r
          FROM (SELECT ${sqlPlanesFor("(SELECT count(*) FROM e)", TARGET_BUCKET)} AS p) pq),
        ${sqlLshCtes(N_TABLES)},
        qprobes AS (
          SELECT c.vec_id AS qid, q0.label AS qlabel, c.t, xor(c.code, m.m) AS code
          FROM codes c JOIN el q0 ON q0.vec_id = c.vec_id, masks m
          WHERE c.vec_id < $N_QUERIES),
        cand AS (
          SELECT DISTINCT qp.qid, c2.vec_id
          FROM qprobes qp
          JOIN codes c2 ON qp.t = c2.t AND qp.code = c2.code
          JOIN el b ON b.vec_id = c2.vec_id
          WHERE b.label <> qp.qlabel),
        scored AS (
          SELECT cand.qid, cand.vec_id AS ib, b.label,
                 round(list_dot_product(b.v, q.v) / nullif(b.nrm * q.nrm, 0), 6) AS cos
          FROM cand
          JOIN el b ON cand.vec_id = b.vec_id
          JOIN el q ON cand.qid = q.vec_id),
        ranked AS (
          SELECT qid, ib, label, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ib) AS rk
          FROM scored)
        SELECT qid, rk, ib, label, cos FROM ranked WHERE rk <= $K
        ORDER BY qid, rk"""),
      "hard-negative mining on the LSH candidate path: q145 semantics at corpus scale, label filter riding the bucket join"),

    QueryDef(
      "q164_embedding_drift",
      (s, d) => {
        // Embedding-distribution drift monitor — the vector-space
        // sibling of q111's PSI: per label, the centroid of the BASE
        // population (vec_id % 10 != 0, the q96/q153 onboarding
        // convention) vs the INCOMING batch, reported as the cosine
        // between the two centroids. A centroid swinging away from its
        // base is the signal that the embedding model or the upstream
        // content shifted and the LSH/IVF index geometry needs re-fit.
        //
        // Exactness discipline: per-dimension embedding values quantize
        // to integer MILLIS before summing (BIGINT sums — no fp
        // summation order anywhere; both engines aggregate the same
        // integers), and the cosine is computed from those exact integer
        // sums with IEEE ops on identical inputs, rounded to 1e-4.
        // Millis keep the per-dim sums inside int64 to ~9e15 rows per
        // label (|v3| <= 1000); the dot/norm PRODUCTS of those sums are
        // computed in DECIMAL(38,0) — a per-dim sum near 1e10 (the ~1e7
        // rows-per-label regime) squares to ~1e20, past int64, and a
        // silent long wrap here would corrupt centroid_cos without
        // error while DuckDB's HUGEINT sums sail on. DECIMAL keeps both
        // engines exact to 38 digits (~1e12 rows per label).
        //
        // 100 TB shape: ONE posexplode + partial-agg groupBy
        // (label, population, dim) — 2 x labels x 64 rows out of any
        // corpus volume — then a tiny pivot join; nothing else touches
        // the corpus.
        // ONE corpus pass: the base/incoming split pivots inside the
        // aggregate (conditional sums), so the embeddings scan and the
        // posexplode run once — no self-join of two filtered branches
        // (the first cut scanned the table twice; plan-audited out)
        val e = embeddings(s, d)
          .select(col("label"),
            (col("vec_id") % 10 === 0).as("inc"),
            posexplode(VectorOps.asDouble(col("embedding"))).as(Seq("dim", "v")))
          .select(col("label"), col("inc"), col("dim"),
            round(col("v") * 1000).cast("long").as("v3"))
        e.groupBy(col("label"), col("dim"))
          .agg(
            sum(when(!col("inc"), col("v3")).otherwise(0L)).as("a"),
            sum(when(col("inc"), col("v3")).otherwise(0L)).as("b"),
            sum(when(!col("inc"), 1L).otherwise(0L)).as("nb_dim"),
            sum(when(col("inc"), 1L).otherwise(0L)).as("ni_dim"))
          .groupBy(col("label"))
          .agg(max(col("nb_dim")).as("n_base"), max(col("ni_dim")).as("n_inc"),
            sum(col("a").cast("decimal(19,0)") * col("b").cast("decimal(19,0)")).as("dot"),
            sum(col("a").cast("decimal(19,0)") * col("a").cast("decimal(19,0)")).as("na"),
            sum(col("b").cast("decimal(19,0)") * col("b").cast("decimal(19,0)")).as("nb"))
          .filter(col("n_base") > 0 && col("n_inc") > 0)
          .select(col("label"), col("n_base"), col("n_inc"),
            round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 4)
              .as("centroid_cos"))
      },
      Some("""
        WITH e AS (
          SELECT label, vec_id % 10 = 0 AS inc, i AS dim,
                 CAST(round(embedding[i + 1] * 1000) AS BIGINT) AS v3
          FROM (SELECT label, vec_id, embedding,
                       unnest(range(0, len(embedding))) AS i
                FROM embeddings)),
        sums AS (
          SELECT label, dim,
                 sum(CASE WHEN NOT inc THEN v3 ELSE 0 END) AS a,
                 sum(CASE WHEN inc THEN v3 ELSE 0 END) AS b,
                 sum(CASE WHEN NOT inc THEN 1 ELSE 0 END) AS nb_dim,
                 sum(CASE WHEN inc THEN 1 ELSE 0 END) AS ni_dim
          FROM e GROUP BY 1, 2)
        SELECT label,
               cast(max(nb_dim) as bigint) AS n_base,
               cast(max(ni_dim) as bigint) AS n_inc,
               round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))), 4)
                 AS centroid_cos
        FROM sums GROUP BY 1
        HAVING max(nb_dim) > 0 AND max(ni_dim) > 0"""),
      "embedding-centroid drift monitor: base-vs-incoming per-label centroids from integer-milli sums (one partial-agg pass), cosine between them")
  )
}
