package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Measures the recall of every approximate (rows-only) query against its
  * exact baseline and prints one line each — the source of COVERAGE.md's
  * recall table. Run: tools/run.sh graft.tools.RecallReport [sfDir] */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def pairs(name: String): Set[(Long, Long)] = SparkEntry.pass(spark, name)(
      SparkEntry.queries(name)(spark, sf)
        .select(col("ia").cast("long"), col("ib").cast("long"))
        .as[(Long, Long)].collect().toSet)
    def topk(name: String): Map[Long, Set[Long]] = SparkEntry.pass(spark, name)(
      SparkEntry.queries(name)(spark, sf)
        .select(col("qid"), col("ib")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet })

    def pairRecall(approx: String, exactPairs: Set[(Long, Long)]): Double =
      if (exactPairs.isEmpty) 1.0
      else pairs(approx).count(exactPairs).toDouble / exactPairs.size
    def knnRecall(approx: String, exact: Map[Long, Set[Long]]): Double = {
      val ap = topk(approx)
      exact.map { case (q, ex) =>
        ap.get(q).map(s => ex.count(s).toDouble / ex.size).getOrElse(0.0)
      }.sum / exact.size
    }

    // exact baselines
    val jaccard = pairs("q65_jaccard_prefix") // exact Jaccard >= 0.8
    // unregistered O(N^2) baseline — verification-only by design
    val cosine = SparkEntry.pass(spark, "embeddingPairsBrute")(
      graft.functions.Dedup.embeddingPairsBrute(spark, sf)
        .select(col("ia").cast("long"), col("ib").cast("long"))
        .as[(Long, Long)].collect().toSet)
    val knnExact = topk("q39_knn_brute")

    println(f"q36_minhash_lsh vs exact-jaccard(q65): ${pairRecall("q36_minhash_lsh", jaccard)}%.3f")
    println(f"q37_simhash raw-pair count: ${pairs("q37_simhash").size}")
    println(f"q64_neardup_lsh vs brute-cosine: ${pairRecall("q64_neardup_lsh", cosine)}%.3f")
    println(f"q40_knn_lsh mean recall@5 vs q39: ${knnRecall("q40_knn_lsh", knnExact)}%.3f")
    println(f"q67_knn_ivf mean recall@5 vs q39: ${knnRecall("q67_knn_ivf", knnExact)}%.3f")
    println(f"q86_knn_ivfpq mean recall@5 vs q39: ${knnRecall("q86_knn_ivfpq", knnExact)}%.3f")

    // q79: removal-set recall vs the exact all-pairs removal list
    val semRecall = SparkEntry.pass(spark, "q79_semdedup") {
      val e = graft.Caches.lease(graft.functions.Similarity.prepared(spark, sf))
      val exactRemoved = e.alias("a").join(e.alias("b"),
          col("a.vec_id") < col("b.vec_id"))
        .filter(graft.functions.VectorOps.cosinePre(
          graft.functions.VectorOps.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")) >= 0.4)
        .select(col("b.vec_id")).distinct().as[Long].collect().toSet
      val semRemoved = graft.functions.Dedup
        .semdedupAssignments(e, graft.functions.Dedup.SEMDEDUP_CLUSTER, 0.4)
        ._2.select(col("vec_id")).as[Long].collect().toSet
      if (exactRemoved.isEmpty) 1.0
      else semRemoved.count(exactRemoved).toDouble / exactRemoved.size
    }
    println(f"q79_semdedup removal recall vs all-pairs: $semRecall%.3f")
    spark.stop()
  }
}
