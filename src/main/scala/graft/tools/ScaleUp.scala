package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Amplifies the sf0.1 testdata by K as K DISJOINT UNIVERSES, the shape a
  * real corpus scale-up takes (TPC-H's own model: facts grow linearly,
  * dimension vocabularies stay fixed):
  *
  *   - fact keys shift by `i * 1e9` per copy, so copy i's orders reference
  *     copy i's customers/parts/suppliers and join fan-out is preserved;
  *   - `region`/`nation` stay fixed (dims don't scale), so dim joins fan
  *     out K-fold exactly like a real corpus against a fixed vocabulary;
  *   - document text gets a per-copy token suffix, so tokens/shingles of
  *     different copies are disjoint: within-copy near-dup structure is
  *     IDENTICAL to the original, across copies there is none — duplicate
  *     and LSH-candidate counts scale exactly linearly (while lang/source
  *     group sizes still grow K-fold, stressing the bucket-scoped joins);
  *   - embeddings cyclically rotate dimensions by copy index: all
  *     within-copy inner products (hence ANN/SemDeDup structure) are
  *     preserved, cross-copy similarity is scrambled.
  *
  * Run: tools/run.sh graft.tools.ScaleUp [srcDir] [outBase] [maxK]
  * writes outBase/x{1,2,4,..,maxK}/<table>.parquet.
  */
object ScaleUp {

  val Shift = 1000000000L

  /** One amplified copy of a table (copy 0 == identity). */
  def copyOf(t: String, df: DataFrame, i: Int): DataFrame = {
    val s = Shift * i
    def sh(c: String) = col(c) + lit(s)
    t match {
      case "region" | "nation" => df // fixed dims: only copy 0 is written
      case "customer" => df.withColumn("c_custkey", sh("c_custkey"))
      case "supplier" => df.withColumn("s_suppkey", sh("s_suppkey"))
      case "part"     => df.withColumn("p_partkey", sh("p_partkey"))
      case "orders" => df
        .withColumn("o_orderkey", sh("o_orderkey"))
        .withColumn("o_custkey", sh("o_custkey"))
      case "lineitem" => df
        .withColumn("l_orderkey", sh("l_orderkey"))
        .withColumn("l_partkey", sh("l_partkey"))
        .withColumn("l_suppkey", sh("l_suppkey"))
      case "events" => df
        .withColumn("event_id", sh("event_id"))
        .withColumn("user_id", sh("user_id"))
      case "documents" =>
        val d = df.withColumn("doc_id", sh("doc_id"))
        if (i == 0) d
        else d
          // token-disjoint per copy; $-free replacement ("x2w" suffix per
          // whitespace token) keeps within-copy shingle structure intact
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1x${i}w"))
          .withColumn("n_chars", length(col("text")))
      case "embeddings" =>
        if (i == 0) df.withColumn("vec_id", sh("vec_id"))
        else {
          // rotate dims by i (mod dim): within-copy dot products invariant
          val dim = size(col("embedding"))
          val rot = pmod(lit(i), dim)
          df.withColumn("vec_id", sh("vec_id"))
            .withColumn("embedding",
              concat(slice(col("embedding"), rot + 1, dim - rot),
                slice(col("embedding"), lit(1), rot)))
        }
      case other => sys.error(s"no scale rule for table $other")
    }
  }

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def amplify(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit =
    tables.foreach { t =>
      // events: read ts as RAW int64 nanos (not via Tables.events) so the
      // written file round-trips through Tables.events' div-1000 unchanged
      if (t == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val copies = if (t == "region" || t == "nation") 1 else k
      (0 until copies).map(copyOf(t, src, _)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outBase = args.lift(1).getOrElse("/tmp/graft-scale")
    val maxK = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxK).foreach { k =>
      val out = s"$outBase/x$k"
      amplify(spark, srcDir, out, k)
      println(s"[scaleup] wrote $out (k=$k)")
    }
    spark.stop()
  }
}
