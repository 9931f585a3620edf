package graft
package gedcom

import org.scalacheck.{Gen, Prop, Properties, Test}

/** [[GedcomGraph.adjacentSplits]], the merge that keeps inputs wider than
  * the stitch cap on the one text path: for a cap below, at and above the
  * split count, the merged splits hold every line in file order, and the
  * graph and the streamed CSVs come out as from the unmerged splits.
  *
  * Each split is tagged with one of three hosts, so a coalescer that
  * groups by locality (Spark's default) would splice splits that are not
  * neighbours. */
object AdjacentSplitsProps extends Properties("adjacent-splits") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12) // each case runs Spark jobs over a batch

  private lazy val spark = SparkSpec.session

  /** `text` cut into `n` contiguous splits, split i preferring host i % 3. */
  private def hostedSplits(text: Seq[String], n: Int) = {
    val cuts = (0 to n).map(i => i * text.length / n)
    spark.sparkContext.makeRDD((0 until n).map { i =>
      (text.slice(cuts(i), cuts(i + 1)), Seq(s"host${i % 3}"))
    }).flatMap(identity)
  }

  private val cases = for {
    rs <- GedcomProps.batchGen
    splits <- Gen.chooseNum(2, 12)
    cap <- Gen.chooseNum(1, splits + 2)
  } yield (GedcomProps.serialize(rs), splits, cap)

  property("in order, at most cap splits, same graph and CSVs") =
    Prop.forAllNoShrink(cases) { case (text, splits, cap) =>
      val raw = hostedSplits(text, splits)
      // order and width for every cap from 1 to past the split count; the
      // graph and the CSVs (several jobs) for the drawn one
      val orderKept = (1 to splits + 1).forall { k =>
        val m = GedcomGraph.adjacentSplits(raw, k)
        m.collect().toSeq == text && m.getNumPartitions == math.min(k, splits)
      }
      val merged = GedcomGraph.adjacentSplits(raw, cap)
      val g = GedcomGraph.fromTextRdd(spark, merged)
      val dirs @ Seq(fromMerged, fromRaw) = Seq.fill(2)(CsvFiles.tmp("ged-merge"))
      try {
        val outs = Seq(
          GedcomPipeline.fromTextRdd(merged, fromMerged.getPath),
          GedcomPipeline.fromTextRdd(raw, fromRaw.getPath))
        orderKept &&
          GedcomProps.sameGraph(g, GedcomProps.reference(text)) &&
          outs(0).stats == outs(1).stats &&
          outs(0).outputs.map(o => (o.kind, o.rawTag)) ==
            outs(1).outputs.map(o => (o.kind, o.rawTag)) &&
          CsvFiles.contents(fromMerged) == CsvFiles.contents(fromRaw)
      } finally {
        g.release()
        dirs.foreach(CsvFiles.delete)
      }
    }
}
