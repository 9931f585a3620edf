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

  private[graft] val batchGen: Gen[List[TRecord]] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, recordGen))
      .map(rs => rs.zipWithIndex.map { case (r, i) =>
        r.copy(xref = r.xref.map(x => s"${x}_$i")) }) // unique xrefs

  private[graft] def serialize(rs: List[TRecord]): List[String] =
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

  /** The reference assembly, on the driver: the serialized batch parsed
    * line by line, grouped at each level-0 line (a group that does not
    * open at level 0 is pre-file junk and dropped), and each group
    * assembled and flattened. */
  private[graft] def reference(text: Seq[String]): Seq[RecordAssembler.FlatRecord] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[GedLine]]
    text.zipWithIndex.flatMap { case (s, i) => GedcomParser.parseLine(s, i.toLong) }
      .foreach { l =>
        if (l.level == 0 || groups.isEmpty) groups += Vector(l)
        else groups(groups.length - 1) :+= l
      }
    groups.toSeq.filter(_.head.level == 0).zipWithIndex.map { case (g, i) =>
      RecordAssembler.flatten(i + 1L, RecordAssembler.assemble(g.iterator))
    }
  }

  private def run(rs: List[TRecord]): Seq[RecordAssembler.FlatRecord] = reference(serialize(rs))

  private def nodes(recs: Seq[RecordAssembler.FlatRecord]) =
    recs.filter(r => !r.skipped && r.props.nonEmpty)

  /** The summary of `ref`, scanned from its records without
    * `SplitStats.Builder`, so a fault in the fold cannot hide on both sides. */
  private def referenceStats(ref: Seq[RecordAssembler.FlatRecord]): GedcomGraph.SplitStats =
    GedcomGraph.SplitStats(
      nodes(ref).groupBy(_.rawTag).map { case (t, rs) => t -> rs.flatMap(_.props.keys).toSet },
      nodes(ref).size.toLong, ref.map(_.edges.size.toLong).sum, ref.count(_.skipped).toLong,
      ref.flatMap(_.unusedTags).toSet, ref.flatMap(_.missingTemples).toSet)

  private def multiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).map { case (x, g) => x -> g.size }

  /** `g` holds exactly the records of `ref`, counting multiplicities (set
    * equality is blind to dropped or doubled duplicates of structurally
    * identical records), and its folded stats are those of `ref`. */
  private[graft] def sameGraph(g: GedcomGraph.Graph,
      ref: Seq[RecordAssembler.FlatRecord]): Boolean = {
    def strings(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).toSet
    multiset(g.nodes.select("rawTag", "props").collect().toSeq
        .map(r => (r.getString(0), r.getAs[Map[String, String]](1)))) ==
      multiset(nodes(ref).map(r => (r.rawTag, r.props.toMap))) &&
      multiset(g.edges.collect().toSeq.map(_.toSeq)) ==
        multiset(ref.flatMap(_.edges).map(e => Seq(e.src, e.dst, e.relType, e.rawTag))) &&
      multiset(g.skipped.select("rawTag").collect().toSeq.map(_.getString(0))) ==
        multiset(ref.filter(_.skipped).map(_.rawTag)) &&
      strings(g.unusedTags) == ref.flatMap(_.unusedTags).toSet &&
      strings(g.missingTemples) == ref.flatMap(_.missingTemples).toSet &&
      g.stats == referenceStats(ref)
  }

  property("edge count matches mapped-chain pointers; srcs are root xrefs") =
    Prop.forAll(batchGen) { rs =>
      val edges = run(rs).flatMap(_.edges)
      val want = rs.map(expectedEdges).sum
      val xrefs = rs.flatMap(_.xref).toSet
      edges.length == want &&
        edges.forall(e => xrefs.contains(e.src)) &&
        edges.forall(e => !e.dst.contains("@"))
    }

  property("every mapped record with an id yields exactly one node row") =
    Prop.forAll(batchGen) { rs =>
      val ids = nodes(run(rs)).flatMap(_.props.get("Gedcom Id:ID"))
      val want = rs.filter(r => r.xref.isDefined && Dictionaries.tagNames.contains(r.tag))
        .flatMap(_.xref)
      ids.sorted == want.sorted
    }

  property("no flattened column name leaks an unmapped raw tag") =
    Prop.forAll(batchGen) { rs =>
      nodes(run(rs)).flatMap(_.props.keys).forall(k => !unmappedTags.exists(k.contains))
    }

  property("skips are exactly the unmapped-top records") =
    Prop.forAll(batchGen) { rs =>
      run(rs).count(_.skipped) == rs.count(r => !Dictionaries.tagNames.contains(r.tag))
    }

  /** The production zero-shuffle boundary-stitch path must build exactly
    * the reference's records, for any record batch and any split count
    * (splits land mid-record on purpose). */
  property("boundary-stitch path == the driver-side reference for any split count") =
    Prop.forAll(batchGen, Gen.chooseNum(1, 7)) { (rs, slices) =>
      val text = serialize(rs)
      val g = GedcomGraph.fromTextRdd(spark, spark.sparkContext.parallelize(text, slices))
      try sameGraph(g, reference(text)) finally g.release()
    }

  /** The streamed bulk load (summary pass, then render pass with one part
    * per split and one for the stitched records) must fold the reference's
    * stats and write the CSVs that a graph built over one split writes. */
  property("streamed CSVs == a built graph written; stats == the reference's") =
    Prop.forAll(batchGen, Gen.chooseNum(1, 7)) { (rs, slices) =>
      val text = serialize(rs)
      val graph = GedcomGraph.fromTextRdd(spark, spark.sparkContext.parallelize(text, 1))
      val dirs @ Seq(streamed, written) = Seq.fill(2)(CsvFiles.tmp("ged-props"))
      try {
        val out = GedcomPipeline.fromTextRdd(
          spark.sparkContext.parallelize(text, slices), streamed.getPath)
        val wantOuts = CsvSink.write(graph, written.getPath).map(o => (o.kind, o.rawTag))
        out.stats == referenceStats(reference(text)) &&
          out.outputs.map(o => (o.kind, o.rawTag)) == wantOuts &&
          CsvFiles.contents(streamed) == CsvFiles.contents(written)
      } finally {
        graph.release()
        dirs.foreach(CsvFiles.delete)
      }
    }
}
