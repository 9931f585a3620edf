package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.gedcom._

/** Property-based invariants over random record trees (SURVEY §5.2.3):
  * serialize -> parse -> flatten must preserve structural guarantees
  * regardless of tree shape, nesting depth, or partitioning.
  */
object GedcomProps extends Properties("gedcom") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12) // each case runs Spark jobs over a batch

  private lazy val spark = SparkSpec.session

  // tag pools: transforms included (PLAC/TEMP/booleans), grammar-bending
  // tags excluded (NAME/EVEN/CONC/CONT have their own targeted specs)
  private val mappedTags =
    Seq("SEX", "NOTE", "OCCU", "RELI", "DATE", "PLAC", "TEMP", "_UID",
      "RESI", "BIRT", "DEAT", "ADDR", "PHON", "_PRIMARY")
  private val unmappedTags = Seq("XXX1", "QQQ9", "_ZZT")

  final case class TNode(tag: String, value: String, children: List[TNode]) {
    def isPointer: Boolean = value.startsWith("@")
  }
  final case class TRecord(xref: Option[String], tag: String, children: List[TNode])

  private val valueGen: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))

  private def nodeGen(depth: Int): Gen[TNode] =
    for {
      tag <- Gen.frequency(8 -> Gen.oneOf(mappedTags), 2 -> Gen.oneOf(unmappedTags))
      pointer <- Gen.frequency(8 -> false, 2 -> true)
      value <- if (pointer) Gen.chooseNum(0, 99).map(i => s"@P$i@") else valueGen
      kids <-
        if (pointer || depth >= 3) Gen.const(Nil)
        else Gen.chooseNum(0, if (depth == 0) 4 else 2)
          .flatMap(n => Gen.listOfN(n, nodeGen(depth + 1)))
    } yield TNode(tag, value, kids)

  private val recordGen: Gen[TRecord] =
    for {
      hasId <- Gen.frequency(8 -> true, 2 -> false)
      topMapped <- Gen.frequency(8 -> true, 2 -> false)
      top = if (topMapped) "INDI" else "ZZZZ"
      n <- Gen.chooseNum(0, 5)
      kids <- Gen.listOfN(n, nodeGen(0))
    } yield TRecord(if (hasId) Some(s"R${scala.util.Random.nextInt(1 << 20)}") else None, top, kids)

  private val batchGen: Gen[List[TRecord]] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, recordGen))
      .map(rs => rs.zipWithIndex.map { case (r, i) =>
        r.copy(xref = r.xref.map(x => s"${x}_$i")) }) // unique xrefs

  private def serialize(rs: List[TRecord]): List[String] =
    rs.flatMap { r =>
      val head = r.xref.map(x => s"0 @$x@ ${r.tag}").getOrElse(s"0 ${r.tag}")
      def walk(n: TNode, level: Int): List[String] =
        s"$level ${n.tag}${if (n.value.nonEmpty) " " + n.value else ""}" ::
          n.children.flatMap(walk(_, level + 1))
      head :: r.children.flatMap(walk(_, 1))
    }

  /** pointers reachable through all-mapped chains — the only ones the
    * flattener may emit (child recursion stops at unmapped tags). */
  private def expectedEdges(r: TRecord): Int =
    if (r.xref.isEmpty || !Dictionaries.tagNames.contains(r.tag)) 0
    else {
      def walk(n: TNode): Int =
        if (!Dictionaries.tagNames.contains(n.tag)) 0
        else if (n.isPointer) 1
        else n.children.map(walk).sum
      r.children.map(walk).sum
    }

  private def run(rs: List[TRecord]): GedcomGraph.Graph = {
    val lines = spark.createDataset(serialize(rs))(org.apache.spark.sql.Encoders.STRING)
    GedcomGraph.fromLines(GedcomParser.fromLines(lines))
  }

  property("edge count matches mapped-chain pointers; srcs are root xrefs") =
    Prop.forAll(batchGen) { rs =>
      val g = run(rs)
      val edges = g.edges.collect()
      val want = rs.map(expectedEdges).sum
      val xrefs = rs.flatMap(_.xref).toSet
      edges.length == want &&
        edges.forall(e => xrefs.contains(e.getAs[String]("src"))) &&
        edges.forall(e => !e.getAs[String]("dst").contains("@"))
    }

  property("every mapped record with an id yields exactly one node row") =
    Prop.forAll(batchGen) { rs =>
      val g = run(rs)
      val ids = g.nodes.select("props").collect()
        .flatMap(r => r.getAs[Map[String, String]](0).get("Gedcom Id:ID"))
      val want = rs.filter(r => r.xref.isDefined && Dictionaries.tagNames.contains(r.tag))
        .flatMap(_.xref)
      ids.sorted.toSeq == want.sorted
    }

  property("no flattened column name leaks an unmapped raw tag") =
    Prop.forAll(batchGen) { rs =>
      val g = run(rs)
      val keys = g.nodes.select("props").collect()
        .flatMap(_.getAs[Map[String, String]](0).keys)
      keys.forall(k => !unmappedTags.exists(k.contains))
    }

  property("skips are exactly the unmapped-top records") =
    Prop.forAll(batchGen) { rs =>
      run(rs).skipped.count() ==
        rs.count(r => !Dictionaries.tagNames.contains(r.tag))
    }

  /** The production zero-shuffle boundary-stitch path must produce exactly
    * the same graph as the shuffle path, for any record batch and any
    * split count (splits land mid-record on purpose). */
  property("boundary-stitch path == shuffle path for any split count") =
    Prop.forAll(batchGen, Gen.chooseNum(1, 7)) { (rs, slices) =>
      val text = serialize(rs)
      val viaShuffle = run(rs)
      val viaBoundary = GedcomGraph.fromTextRdd(spark,
        spark.sparkContext.parallelize(text, slices))
      def nodeSet(g: GedcomGraph.Graph) =
        g.nodes.select("rawTag", "props").collect()
          .map(r => (r.getString(0), r.getAs[Map[String, String]](1))).toSet
      def edgeSet(g: GedcomGraph.Graph) =
        g.edges.collect().map(_.toSeq).toSet
      def strings(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getString(0)).toSet
      // the summary the parse pass folded == the same figures scanned from
      // the shuffle path's frames (which fold nothing)
      val folded = viaBoundary.summary.get
      val scannedKeys = viaShuffle.nodes.select("rawTag", "props").collect()
        .groupBy(_.getString(0))
        .map { case (t, rs) => t -> rs.flatMap(_.getAs[Map[String, String]](1).keys).toSet }
      // counts too: set equality alone is blind to dropped/doubled
      // duplicates of structurally identical records
      viaShuffle.summary.isEmpty &&
        nodeSet(viaBoundary) == nodeSet(viaShuffle) &&
        edgeSet(viaBoundary) == edgeSet(viaShuffle) &&
        viaBoundary.nodes.count() == viaShuffle.nodes.count() &&
        viaBoundary.edges.count() == viaShuffle.edges.count() &&
        viaBoundary.skipped.count() == viaShuffle.skipped.count() &&
        folded.nodes == viaShuffle.nodes.count() &&
        folded.edges == viaShuffle.edges.count() &&
        folded.skipped == viaShuffle.skipped.count() &&
        folded.keysByTag == scannedKeys &&
        folded.unusedTags == strings(viaShuffle.unusedTags) &&
        folded.missingTemples == strings(viaShuffle.missingTemples)
    }

  /** The streamed bulk load (summary pass, then render pass with one part
    * per split and one for the stitched records) must write the CSVs the
    * shuffle path's graph writes, with the same summary; so must its
    * fallback past the split cap. */
  property("streamed CSVs == the shuffle path's graph written, for any split count") =
    Prop.forAll(batchGen, Gen.chooseNum(1, 7)) { (rs, slices) =>
      val rdd = spark.sparkContext.parallelize(serialize(rs), slices)
      val viaShuffle = run(rs)
      val dirs @ Seq(streamed, fallback, written) = Seq.fill(3)(CsvFiles.tmp("ged-props"))
      try {
        val outs = Seq(
          GedcomPipeline.fromTextRdd(spark, rdd, streamed.getPath),
          GedcomPipeline.fromTextRdd(spark, rdd, fallback.getPath, maxStitchSplits = 0))
        val wantOuts = CsvSink.write(viaShuffle, written.getPath).map(o => (o.kind, o.rawTag))
        outs.forall(_.stats == viaShuffle.stats) &&
          outs.forall(_.outputs.map(o => (o.kind, o.rawTag)) == wantOuts) &&
          CsvFiles.contents(streamed) == CsvFiles.contents(written) &&
          CsvFiles.contents(fallback) == CsvFiles.contents(written)
      } finally {
        viaShuffle.release()
        dirs.foreach(CsvFiles.delete)
      }
    }

  /** The split-count guard: past maxStitchSplits, fromTextRdd must refuse
    * the driver-side stitch and take the shuffle path — same graph out. */
  property("fromTextRdd falls back to the shuffle path above the split cap") =
    Prop.forAll(batchGen, Gen.chooseNum(2, 7)) { (rs, slices) =>
      val text = serialize(rs)
      val rdd = spark.sparkContext.parallelize(text, slices)
      // cap below the split count -> the fallback branch MUST run; its
      // graph has no folded parse stats (those exist only on the stitch
      // path), which pins that the fallback actually engaged
      val viaFallback = GedcomGraph.fromTextRdd(spark, rdd, maxStitchSplits = 1)
      val viaStitch = GedcomGraph.fromTextRdd(spark, rdd)
      def nodeSet(g: GedcomGraph.Graph) =
        g.nodes.select("rawTag", "props").collect()
          .map(r => (r.getString(0), r.getAs[Map[String, String]](1))).toSet
      viaFallback.summary.isEmpty && viaStitch.summary.nonEmpty &&
        nodeSet(viaFallback) == nodeSet(viaStitch) &&
        viaFallback.edges.count() == viaStitch.edges.count() &&
        viaFallback.skipped.count() == viaStitch.skipped.count()
    }
}
