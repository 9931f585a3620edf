package graft.gedcom

import scala.collection.mutable

/** Per-record tree assembly + flatten, reproducing the reference's
  * CsvWriter semantics exactly (lib/csv_writer.js:123-186). Runs inside
  * each split's pass over its lines and in the driver's stitch of the
  * boundary records ([[GedcomGraph.containedRecords]]) — one record at a
  * time, bounded memory, no shuffle.
  *
  * Correctness-bearing details preserved (SURVEY §2.1 notes 1-6):
  *   1. a child contributes a value only when `value != ""` or it has no
  *      children (lib/csv_writer.js:137);
  *   2. relationships are emitted only when the ROOT record has an id, and
  *      always from the root regardless of pointer depth
  *      (lib/csv_writer.js:139,158);
  *   3. a record with an empty property map writes no node row
  *      (lib/csv_writer.js:182);
  *   4. duplicate flattened keys are last-wins (lib/csv_writer.js:153,166);
  *   5. the relationship group key is the RAW tag while `:TYPE` is the
  *      mapped label (lib/csv_writer.js:143,145);
  *   6. records whose top-level tag is unmapped are skipped entirely
  *      (lib/csv_writer.js:176-180).
  *
  * Deviation from the reference (documented, SURVEY §4.3): CONC/CONT
  * continuation lines are merged into their parent's value during tree
  * assembly (standard GEDCOM semantics; the reference leaves them to
  * `gedcom-stream`).
  */
object RecordAssembler {

  /** Mutable record-tree node (mirrors the §1.1 record shape). A leaf
    * allocates no child array. */
  final class Tree(val id: Option[String], val name: String, var value: String) {
    private var kids: Array[Tree] = null
    private var n = 0
    def childCount: Int = n
    def foreachChild(f: Tree => Unit): Unit = {
      var i = 0
      while (i < n) { f(kids(i)); i += 1 }
    }
    def add(t: Tree): Unit = {
      if (kids == null) kids = new Array[Tree](4)
      else if (n == kids.length) kids = java.util.Arrays.copyOf(kids, n * 2)
      kids(n) = t
      n += 1
    }
  }

  /** Flattened output of one record. `props` is collection.Map so the
    * assembler's LinkedHashMap flows through without a per-record copy
    * (870k `toMap` copies measured as real time on the 150 MB bench). */
  final case class FlatRecord(
      recordNo: Long,
      rawTag: String,
      label: String,          // empty when skipped
      skipped: Boolean,
      props: scala.collection.Map[String, String], // includes ":LABEL" when a node row exists
      edges: Seq[Edge],
      unusedTags: Seq[String],
      missingTemples: Seq[String])

  final case class Edge(src: String, dst: String, relType: String, rawTag: String)

  /** A dictionary as a `java.util.HashMap`: a probe allocates no `Option`. */
  private def javaMap(m: Map[String, String]): java.util.HashMap[String, String] = {
    val j = new java.util.HashMap[String, String](m.size * 2)
    m.foreach { case (k, v) => j.put(k, v) }
    j
  }
  private val tagLabels = javaMap(Dictionaries.tagNames)
  private val templeNames = javaMap(Dictionaries.templeCodes)

  private val BooleanTags = Set(
    "_DESC_FLAG", "_ITALIC", "_LDS", "_MASTER", "_NONE", "_PAREN", "_PRIM", "_PRIMARY")

  /** Build the record tree from its lines (sorted by lineNo; first line is
    * the level-0 root). CONC appends to the pending parent value verbatim;
    * CONT appends with a newline. */
  def assemble(lines: Iterator[GedLine]): Tree = {
    val first = lines.next()
    val root = new Tree(first.xref, first.tag, first.value)
    // the open path from the root: each node's level beside it
    var levels = new Array[Int](8)
    var nodes = new Array[Tree](8)
    levels(0) = first.level
    nodes(0) = root
    var depth = 1
    while (lines.hasNext) {
      val l = lines.next()
      while (depth > 1 && levels(depth - 1) >= l.level) depth -= 1
      val parent = nodes(depth - 1)
      l.tag match {
        case "CONC" => parent.value += l.value
        case "CONT" => parent.value += "\n" + l.value
        case _ =>
          val node = new Tree(None, l.tag, l.value)
          parent.add(node)
          if (depth == levels.length) {
            levels = java.util.Arrays.copyOf(levels, depth * 2)
            nodes = java.util.Arrays.copyOf(nodes, depth * 2)
          }
          levels(depth) = l.level
          nodes(depth) = node
          depth += 1
      }
    }
    root
  }

  /** Flatten one record tree per the reference's write() + _record_to_node. */
  def flatten(recordNo: Long, root: Tree): FlatRecord = {
    val edges = mutable.ListBuffer.empty[Edge]
    val unused = mutable.ListBuffer.empty[String]
    val missingTemples = mutable.ListBuffer.empty[String]

    tagLabels.get(root.name) match {
      case null =>
        FlatRecord(recordNo, root.name, "", skipped = true, Map.empty, Nil, Nil, Nil)
      case label =>
        val rootId = root.id

        def recordToNode(record: Tree, includeId: Boolean): mutable.LinkedHashMap[String, String] = {
          val node = mutable.LinkedHashMap.empty[String, String]
          if (includeId) record.id.foreach(id => node("Gedcom Id:ID") = id)
          record.foreachChild { child =>
            tagLabels.get(child.name) match {
              case null => unused += child.name
              case mapped =>
                var key = mapped
                if (child.value != "" || child.childCount == 0) {
                  if (child.value.startsWith("@")) {
                    rootId.foreach { id =>
                      edges += Edge(id, child.value.replace("@", ""), key, child.name)
                    }
                  } else applyTransform(node, child.name, key, child.value, missingTemples)
                }
                if (child.childCount > 0) {
                  val childObj = recordToNode(child, includeId = false)
                  if (key == "Event") {
                    // EVEN promotion: the nested Type value becomes the
                    // column namespace (lib/csv_writer.js:159-163). An EVEN
                    // with no Type is pinned to REFERENCE PARITY: JS reads
                    // child_obj['Type'] as undefined and string-joins it,
                    // so the composite key prefix is literally "undefined"
                    // (SURVEY §4.3; GedcomSpec pins this).
                    key = childObj.remove("Type").getOrElse("undefined")
                  }
                  childObj.foreachEntry { (ck, cv) => node(s"$key $ck") = cv }
                }
            }
          }
          node
        }

        val node = recordToNode(root, includeId = true)
        val props: scala.collection.Map[String, String] =
          if (node.nonEmpty) { node(":LABEL") = label; node }
          else Map.empty[String, String]
        FlatRecord(recordNo, root.name, label, skipped = false, props,
          edges.toList, unused.toList.distinct, missingTemples.toList.distinct)
    }
  }

  /** The reference's per-tag scalar transforms (lib/csv_writer.js:31-83). */
  private def applyTransform(
      node: mutable.LinkedHashMap[String, String],
      rawTag: String,
      key: String,
      value: String,
      missingTemples: mutable.ListBuffer[String]): Unit = rawTag match {
    case t if BooleanTags(t) =>
      node(key) = if (value.nonEmpty) "True" else "False"
    case "PLAC" =>
      val name = templeNames.get(value)
      node(key) = if (name == null) value else s"$name Temple"
    case "TEMP" =>
      templeNames.get(value) match {
        case null => missingTemples += value; node(key) = value
        case name => node(key) = name
      }
    case "NAME" =>
      // "First Middle /Last/": given = pre-slash, surname = between
      // slashes, suffix after the 2nd slash dropped; no slash => all given
      if (value.contains("/")) {
        val pieces = value.split("/", -1)
        if (pieces(0).exists(!_.isWhitespace)) node("Given Name") = pieces(0)
        if (pieces.length > 1 && pieces(1).exists(!_.isWhitespace)) node("Surname") = pieces(1)
      } else node("Given Name") = value
      node(key) = value
    case _ =>
      node(key) = value
  }

  /** Flatten a full record (its lines, any order) — test/entry helper. */
  def flattenRecord(recordNo: Long, lines: Seq[GedLine]): FlatRecord =
    flatten(recordNo, assemble(lines.sortBy(_.lineNo).iterator))
}
