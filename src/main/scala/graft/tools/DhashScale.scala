package graft.tools

import org.apache.spark.sql.functions._

import graft.{Metrics, SparkEntry}
import graft.functions.Multimodal

/** Scale study for the q141 perceptual-image-dedup plan: amplify the
  * fixture corpus (8 images per group) and time the full
  * decode -> dHash -> exact-group + banded-hamming pipeline. Measures the
  * claim that candidates come from the (band, value) equi join — pair
  * volume tracks the planted duplicate density, never the corpus square.
  * Run: tools/run.sh graft.tools.DhashScale [maxScale]
  */
object DhashScale {
  def main(args: Array[String]): Unit = {
    val maxScale = args.headOption.map(_.toInt).getOrElse(16)
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("scale  images   pairs   pass1_s pass2_s")
    var s = 1
    while (s <= maxScale) {
      val groups = Multimodal.DHASH_GROUPS * s
      val times = (1 to 2).map(_ => SparkEntry.pass(spark, "q141_image_dedup")(
        Metrics.around(spark.sparkContext) {
          val hashes = graft.Caches.lease(Multimodal.imageDhashes(
            Multimodal.syntheticImageCorpusOf(spark, groups)))
          val ex = hashes.groupBy(col("dhash")).agg(count(lit(1)).as("cnt"))
          val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 2)
          // mirror q141's registered shape: one endpoint stream via explode
          val near = pairs
            .select(explode(array(col("ia"), col("ib"))).as("asset_id"))
            .groupBy(col("asset_id")).agg(count(lit(1)).as("n_near"))
          hashes.join(ex, Seq("dhash")).join(near, Seq("asset_id"), "left").count()
        }).wall)
      val nPairs = Multimodal.imageNearDupPairs(
        Multimodal.imageDhashes(Multimodal.syntheticImageCorpusOf(spark, groups)),
        maxHamming = 2).count()
      println(f"x$s%-4d ${groups * 8}%7d ${nPairs}%7d ${times(0)}%8.2f ${times(1)}%8.2f")
      s *= 4
    }
    spark.stop()
  }
}
