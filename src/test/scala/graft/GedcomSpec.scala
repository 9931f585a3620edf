package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.gedcom._

/** Golden end-to-end GEDCOM pipeline spec against src/test/resources/m1.ged,
  * asserting the correctness-bearing reference semantics from SURVEY §2.1
  * (notes 1-6) plus the documented CONC/CONT deviation. */
class GedcomSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = getClass.getResource("/m1.ged").getPath

  lazy val graph: GedcomGraph.Graph = GedcomGraph.fromFile(spark, fixture)

  private def props(rawTag: String, id: String): Map[String, String] =
    graph.nodes
      .filter(col("rawTag") === rawTag &&
        col("props").getItem("Gedcom Id:ID") === id)
      .select("props").as[Map[String, String]].head()

  test("parser assigns records and levels") {
    val text = scala.io.Source.fromFile(fixture, "UTF-8")
    val lines = try text.getLines().zipWithIndex
      .flatMap { case (s, i) => GedcomParser.parseLine(s, i.toLong) }.toList
      finally text.close()
    // HEAD,I1,I2,F1,ZZZZ,TRLR: one record per level-0 line, each in the graph
    assert(lines.count(_.level == 0) == 6)
    assert(graph.flat.count() == 6)
    assert(lines.find(_.tag == "INDI").flatMap(_.xref).contains("I1"))
  }

  test("individual node flattens with transforms, EVEN promotion, last-wins") {
    val p = props("INDI", "I1")
    assert(p("Name") == "John /Smith/ Jr.")
    assert(p("Given Name") == "John ")          // pre-slash, trailing space kept
    assert(p("Surname") == "Smith")             // suffix after 2nd slash dropped
    assert(p("Sex") == "M")
    assert(p("Birth Date") == "12 JAN 1900")
    assert(p("Birth Place") == "Salt Lake City Utah Temple") // PLAC temple rewrite
    assert(p("Universally Unique ID") == "abc123")
    assert(p("Primary") == "True")              // non-empty value => True
    assert(p("Print in Italics") == "False")    // empty value => False
    assert(p("Graduation Date") == "1920")      // EVEN promoted by its Type
    assert(!p.contains("Event Date") && !p.contains("Graduation Type"))
    assert(p("Note") == "part1part2\nnext line") // CONC + CONT merge
    assert(p("Residence Date") == "1940")       // repeated RESI: last wins
    assert(p(":LABEL") == "Individual")
  }

  test("temple names with accents decode to real characters") {
    assert(gedcom.Dictionaries.templeCodes("ASUNC") == "Asunción Paraguay")
    assert(gedcom.Dictionaries.templeCodes("BOGOT") == "Bogotá Colombia")
    assert(!gedcom.Dictionaries.templeCodes.values.exists(_.contains("\\u")))
  }

  test("TEMP lookup hits, misses are accounted, last-wins applies") {
    val p = props("INDI", "I2")
    assert(p("Given Name") == "Mary")           // no-slash NAME => all given
    assert(p("Sealing to Parents Temple") == "NOWHERE") // last-wins, unknown code
    val missing = graph.missingTemples.as[String].collect().toSet
    assert(missing == Set("NOWHERE"))           // SLAKE resolved, not missing
  }

  test("edges come from the root id at any depth, typed by mapped name") {
    val es = graph.edges.as[RecordAssembler.Edge].collect()
    val fams = es.find(_.rawTag == "FAMS").get
    assert(fams == RecordAssembler.Edge("I1", "F1", "Spouse in Family", "FAMS"))
    val fam = es.filter(_.src == "F1").map(e => (e.dst, e.relType)).toSet
    assert(fam == Set(("I1", "Husband"), ("I2", "Wife"), ("I3", "Child")))
  }

  test("unmapped top-level records are skipped whole; TRLR writes no node") {
    assert(graph.skipped.select("rawTag").as[String].collect().toSeq == Seq("ZZZZ"))
    // FOO inside the skipped record is never visited => not in unused tags
    assert(graph.unusedTags.as[String].collect().toSet == Set("BOGUS"))
    assert(graph.nodes.filter(col("rawTag") === "TRLR").count() == 0)
  }

  test("HEAD becomes a Header node") {
    val head = graph.nodes.filter(col("rawTag") === "HEAD")
      .select("props").as[Map[String, String]].head()
    assert(head(":LABEL") == "Header" && head("Source") == "test")
    assert(!head.contains("Gedcom Id:ID"))
  }

  // ===== m2.ged: the semantics corners m1 leaves unexercised (q72's
  // oracle rows are each independently backed by one assertion here) =====

  lazy val graph2: GedcomGraph.Graph =
    GedcomGraph.fromFile(spark, getClass.getResource("/m2.ged").getPath)

  private def props2(id: String): Map[String, String] =
    graph2.nodes.filter(col("props").getItem("Gedcom Id:ID") === id)
      .select("props").as[Map[String, String]].head()

  test("m2: level-3 nesting flattens by concatenating every ancestor key") {
    val p = props2("I10")
    assert(p("Residence Address") == "Hauptstrasse 1")
    assert(p("Residence Address City") == "Heidelberg")
    assert(p("Residence Address Country") == "Germany")
  }

  test("m2: CONC chain merges verbatim, CONT inserts the newline") {
    assert(props2("I10")("Note") == "abcdefghi\ntail")
  }

  test("m2: repeated OCCU is last-wins; EVEN without Type prefixes 'undefined'") {
    val p = props2("I10")
    assert(p("Occupation") == "miller")
    assert(p("undefined Date") == "5 MAY 1920")
  }

  test("m2: pointer at depth 2 still edges from the root record") {
    val es = graph2.edges.as[RecordAssembler.Edge].collect()
    assert(es.find(_.rawTag == "FAMC").contains(
      RecordAssembler.Edge("I10", "F9", "Child in Family", "FAMC")))
    // and a dangling target still emits its edge
    assert(es.exists(e => e.src == "F9" && e.dst == "I12" && e.relType == "Husband"))
  }

  test("m2: NAME with empty pre-slash text yields Surname but no Given Name") {
    val p = props2("I11")
    assert(p("Surname") == "Stone" && !p.contains("Given Name"))
    assert(p("Name") == "/Stone/")
  }

  test("m2: TEMP hit maps, TEMP miss keeps the code and records it; PLAC is not TEMP") {
    assert(props2("I10")("Sealing to Parents Temple") == "Logan Utah")
    assert(props2("I11")("Sealing to Parents Temple") == "ZION")
    // MARR > PLAC NOWHERE is a PLAC (kept verbatim), never a temple miss
    assert(props2("F9")("Marriage Place") == "NOWHERE")
    assert(graph2.missingTemples.as[String].collect().toSet == Set("ZION"))
  }

  test("m2: date grammar — dual-year, interpreted phrase, range end") {
    import graft.gedcom.GedcomDates
    val p = props2("I10")
    val dual = GedcomDates.parse(p("Birth Date"))
    assert(dual.qualifier == "EXACT" && dual.year.contains(1900) &&
      dual.month.contains(2) && dual.day.contains(2))
    val int = GedcomDates.parse(p("Death Date"))
    assert(int.qualifier == "INT" && int.year.contains(1980))
    val bet = GedcomDates.parse(props2("F9")("Marriage Date"))
    assert(bet.qualifier == "BET" && bet.year.contains(1880) && bet.year2.contains(1890))
  }

  test("EVEN without Type pins reference parity: literal 'undefined' prefix") {
    // lib/csv_writer.js:159-163 reads child_obj['Type'] (undefined when the
    // EVEN has no TYPE child) and string-joins it into the composite key —
    // the columns come out prefixed with the literal string "undefined".
    val lines = Seq(
      GedLine(1, 0, Some("I9"), "INDI", ""),
      GedLine(2, 1, None, "EVEN", ""),
      GedLine(3, 2, None, "DATE", "1910"))
    val r = RecordAssembler.flattenRecord(1, lines)
    assert(r.props("undefined Date") == "1910")
    assert(!r.props.contains(" Date") && !r.props.contains("Event Date"))
  }

  test("m2: typed-date mode adds DateType + qualifier columns beside raw strings") {
    // the reference's own TODO (README.md:55): opt-in parsed dates. Raw
    // columns stay byte-identical; each date key K gains K:date (a real
    // DateType) and K Qualifier directly after it.
    val g2 = graph2
    val (wide, jobs) = withJobCount(GedcomGraph.nodesWide(g2, "INDI", typedDates = true))
    assert(jobs == 0, s"building the wide frame ran $jobs jobs")
    assert(wide.schema("Birth Date:date").dataType ==
      org.apache.spark.sql.types.DateType)
    val cols = wide.columns.toSeq
    assert(cols.indexOf("Birth Date:date") == cols.indexOf("Birth Date") + 1)
    assert(cols.head == "Gedcom Id:ID" && cols.last == ":LABEL")
    val i10 = wide.filter(col("Gedcom Id:ID") === "I10")
      .select("Birth Date", "Birth Date:date", "Birth Date Qualifier",
        "Death Date:date", "Death Date Qualifier").head()
    assert(i10.getString(0) == "2 FEB 1900/01") // raw untouched
    assert(i10.getDate(1).toString == "1900-02-02")
    assert(i10.getString(2) == "EXACT")
    assert(i10.getDate(3).toString == "1980-01-01") // INT 1980 (phrase dropped)
    assert(i10.getString(4) == "INT")
    // a record without that date keeps an all-null typed pair
    val i11 = wide.filter(col("Gedcom Id:ID") === "I11")
      .select("Birth Date:date", "Birth Date Qualifier").head()
    assert(i11.isNullAt(0) && i11.isNullAt(1))
    // range grammar on the FAM record
    val f9 = GedcomGraph.nodesWide(graph2, "FAM", typedDates = true)
      .select(col("Marriage Date:date").cast("string"), col("Marriage Date Qualifier")).head()
    assert(f9.getString(0) == "1880-01-01" && f9.getString(1) == "BET")
    // default mode is raw parity: no typed columns anywhere
    assert(!GedcomGraph.nodesWide(graph2, "INDI").columns.exists(c =>
      c.endsWith(":date") || c.endsWith(" Qualifier")))
  }

  test("m2: csv sink typed-date mode writes parsed columns, raw mode unchanged") {
    val out = java.nio.file.Files.createTempDirectory("gedcsv-typed").toString
    CsvSink.write(graph2, out, typedDates = true)
    val indi = spark.read.option("header", true).option("multiLine", true)
      .csv(s"$out/nodes-INDI")
    assert(indi.columns.contains("Birth Date:date")) // neo4j typed header
    val row = indi.filter(col("Gedcom Id:ID") === "I10")
      .select("Birth Date", "Birth Date:date", "Death Date Qualifier").head()
    assert(row.getString(0) == "2 FEB 1900/01" &&
      row.getString(1) == "1900-02-02" && row.getString(2) == "INT")
  }

  test("nodesWide exposes the graph as a queryable wide table") {
    val g = graph
    val (wide, jobs) = withJobCount(GedcomGraph.nodesWide(g, "INDI"))
    assert(jobs == 0, s"building the wide frame ran $jobs jobs")
    assert(wide.columns.head == "Gedcom Id:ID" && wide.columns.last == ":LABEL")
    // relational query straight over the property graph: join individuals
    // to their family edges
    val withFams = wide.join(graph.edges.filter(col("rawTag") === "FAMS"),
      wide("Gedcom Id:ID") === col("src"))
    assert(withFams.count() == 1)
    assert(withFams.select("Given Name").head().getString(0) == "John ")
    assert(wide.filter(col("Surname") === "Smith").count() == 1)
  }

  test("csv sink fans out per (kind, tag) with union headers") {
    val out = java.nio.file.Files.createTempDirectory("gedcsv").toString
    val res = GedcomPipeline.run(spark, fixture, out)
    val kinds = res.outputs.map(o => (o.kind, o.rawTag)).toSet
    assert(kinds.contains(("nodes", "INDI")))
    assert(kinds.contains(("relationships", "FAMS")))
    assert(kinds.contains(("relationships", "CHIL")))
    // read INDI back: header is the union of both individuals' columns
    // multiLine: the Note property legitimately contains a quoted newline
    // (CONT); the writer emits RFC-4180 quoting
    val indi = spark.read.option("header", true).option("multiLine", true)
      .csv(s"$out/nodes-INDI")
    assert(indi.columns.head == "Gedcom Id:ID" && indi.columns.last == ":LABEL")
    assert(indi.columns.contains("Graduation Date")) // only on I1
    assert(indi.count() == 2)
    val chilPath = res.outputs.find(o => o.kind == "relationships" && o.rawTag == "CHIL").get.path
    val rels = spark.read.option("header", true).csv(chilPath)
    assert(rels.columns.toSeq == Seq(":START_ID", ":END_ID", ":TYPE"))
    // import args: one --kind group per part file (each part has a header)
    assert(res.importArgs.count(_ == "--nodes") >= res.outputs.count(_.kind == "nodes"))
    assert(res.importArgs.grouped(2).forall {
      case Seq(k, v) => k.startsWith("--") && new java.io.File(v).isFile
      case _ => false
    })
    val cmd = GedcomPipeline.importCommand("/usr/bin", s"$out/db.tmp", res.importArgs)
    assert(cmd.head == "/usr/bin/neo4j-import" && cmd(1) == "--into")
  }

  test("atomic publish swaps with backup and rolls back on failed validation") {
    import java.nio.file._
    val base = Files.createTempDirectory("pub")
    def mk(name: String, marker: String): Path = {
      val p = base.resolve(name); Files.createDirectories(p)
      Files.writeString(p.resolve("marker"), marker); p
    }
    val real = mk("db", "old")
    val tmp = mk("db.tmp", "new")
    assert(AtomicPublish.publish(real, tmp)(true))
    assert(Files.readString(real.resolve("marker")) == "new")
    assert(Files.readString(AtomicPublish.bakOf(real).resolve("marker")) == "old")
    // now a failing validation must restore the previous version
    val tmp2 = mk("db.tmp2", "bad")
    assert(!AtomicPublish.publish(real, tmp2)(false))
    assert(Files.readString(real.resolve("marker")) == "new") // rolled back
  }

  test("record assignment holds across many partitions") {
    val text = (0 until 500).flatMap { i =>
      Seq(s"0 @X$i@ INDI", "1 SEX M", s"1 NOTE note$i")
    }
    val g = GedcomGraph.fromTextRdd(spark, spark.sparkContext.parallelize(text, 13))
    try {
      // 13 splits cut records mid-way; each record still keeps its 3 lines
      assert(g.flat.count() == 500 && g.stats.nodes == 500)
      val props = g.nodes.select("props").as[Map[String, String]].collect()
      assert(props.map(_("Gedcom Id:ID")).toSet == (0 until 500).map(i => s"X$i").toSet)
      assert(props.forall(p => p("Sex") == "M" && p("Note") == s"note${p("Gedcom Id:ID").drop(1)}"))
    } finally g.release()
  }

  test("no gedcom source reads text but GedcomGraph.textLines: one split policy") {
    def sources(dir: String) = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def text(f: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    // split so this file does not match itself
    val anywhere = Seq("textFile" + "(", "hadoopFile" + "(")
    val outsideReader = Seq("LineRecord" + "Reader", "FileChannel" + ".open(")
    val reader = sources("src/main/scala/graft/gedcom").filter(_.endsWith("gedcom/TextSplits.scala"))
    assert(reader.size == 1 && outsideReader.forall(text(reader.head).contains(_)))
    val offenders =
      sources("src/main/scala").flatMap(f => anywhere.filter(text(f).contains(_)).map(n => s"$f: $n")) ++
        sources("src/main/scala/graft/gedcom").filterNot(reader.contains)
          .flatMap(f => outsideReader.filter(text(f).contains(_)).map(n => s"$f: $n"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("textLines on a file: path starts no job and broadcasts nothing") {
    val sc = spark.sparkContext
    val before = org.apache.spark.BroadcastProbe.broadcastIds(sc)
    val (splits, jobs) = withJobCount(GedcomGraph.textLines(spark, fixture).getNumPartitions)
    assert(jobs == 0 && splits > 1)
    assert(org.apache.spark.BroadcastProbe.broadcastIds(sc) -- before == Set.empty)
    // the probe sees a broadcast made in the same window
    val b = sc.broadcast(0)
    try assert(org.apache.spark.BroadcastProbe.broadcastIds(sc) -- before == Set(b.id))
    finally b.destroy()
  }

  test("the stitched boundary records ride in one partition beside the splits") {
    val splits = GedcomGraph.textLines(spark, fixture).getNumPartitions
    assert(graph.flat.rdd.getNumPartitions == splits + 1)
    // every record still lands in the graph exactly once
    assert(graph.flat.count() == graph.stats.nodes + graph.stats.skipped +
      graph.flat.filter(!col("skipped") && size(map_keys(col("props"))) === 0).count())
  }
}
