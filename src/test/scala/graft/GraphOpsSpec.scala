package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.gedcom.GraphOps

/** Relationship questions over a three-generation family tree. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // F1: grandpa GP + grandma GM, child P. F2: P + spouse S, child C.
  // Separate island: F9 with child Z.
  lazy val edges = Seq(
    ("F1", "GP", "Husband"), ("F1", "GM", "Wife"), ("F1", "P", "Child"),
    ("F2", "P", "Husband"), ("F2", "S", "Wife"), ("F2", "C", "Child"),
    ("P", "F1", "Child in Family"), ("C", "F2", "Child in Family"),
    ("F9", "Q", "Husband"), ("F9", "Z", "Child"))
    .toDF("src", "dst", "relType")

  /** `df`'s column names and types — the ones perfbench's graph
    * questions read. */
  private def schemaOf(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq

  test("connected components split the two family islands") {
    val df = GraphOps.familyClusters(edges)
    assert(schemaOf(df) == Seq("xref" -> StringType, "component" -> StringType))
    val cc = df.as[(String, String)].collect().toMap
    val main = Set("F1", "F2", "GP", "GM", "P", "S", "C").map(cc)
    val island = Set("F9", "Q", "Z").map(cc)
    // a component is named by its minimum xref
    assert(main == Set("C") && island == Set("F9"))
  }

  test("degrees count in+out edges") {
    val df = GraphOps.degrees(edges)
    assert(schemaOf(df) == Seq("xref" -> StringType, "in_degree" -> IntegerType,
      "out_degree" -> IntegerType, "degree" -> IntegerType))
    val d = df.as[(String, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(d("F1") == (("F1", 1, 3, 4))) // in: P's FAMC; out: H/W/C
    assert(d("P") == (("P", 2, 1, 3)))   // in: F1 Child + F2 Husband; out: FAMC
    // a duplicated edge counts twice
    val dup = GraphOps.degrees(edges.union(Seq(("F9", "Q", "Husband")).toDF("src", "dst", "relType")))
      .as[(String, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(dup("F9") == (("F9", 0, 3, 3)) && dup("Q") == (("Q", 2, 0, 2)))
    assert(dup.values.map(_._4).sum == 2 * 11)
  }

  test("parent edges derive from family topology") {
    val pe = GraphOps.parentEdges(edges).as[(String, String)].collect().toSet
    assert(pe == Set(("P", "GP"), ("P", "GM"), ("C", "P"), ("C", "S"), ("Z", "Q")))
  }

  test("hop distances from a landmark") {
    val df = GraphOps.hopDistances(edges, Seq("C"))
    assert(schemaOf(df) ==
      Seq("xref" -> StringType, "landmark" -> StringType, "hops" -> IntegerType))
    val d = df.as[(String, String, Int)].collect()
      .map { case (x, _, h) => x -> h }.toMap
    assert(d("C") == 0 && d("F2") == 1 && d("P") == 2 && d("GP") == 4)
    assert(!d.contains("Z") && d.size == 7) // the other island is unreachable
    assert(GraphOps.hopDistances(edges, Seq("NOPE")).count() == 0)
  }

  test("ancestor closure walks generations") {
    val df = GraphOps.ancestorsOf(edges, "C")
    assert(schemaOf(df) == Seq("xref" -> StringType, "generation" -> IntegerType))
    val anc = df.as[(String, Int)].collect().toMap
    assert(anc == Map("P" -> 1, "S" -> 1, "GP" -> 2, "GM" -> 2))
    assert(GraphOps.ancestorsOf(edges, "GP").count() == 0) // no parents
    // a 25-generation line: child I0 of family G0 whose husband is I1, ...
    val chain = (0 until 25).flatMap(i =>
      Seq((s"G$i", s"I$i", "Child"), (s"G$i", s"I${i + 1}", "Husband")))
      .toDF("src", "dst", "relType")
    val deep = GraphOps.ancestorsOf(chain, "I0", maxGen = 20).as[(String, Int)].collect()
    assert(deep.sortBy(_._2).toSeq == (1 to 20).map(g => s"I$g" -> g))
  }

  test("no entry point leaves a cached block after Caches.release()") {
    val calls = Seq[(String, () => Any)](
      "degrees" -> (() => GraphOps.degrees(edges).collect()),
      "familyClusters" -> (() => GraphOps.familyClusters(edges).collect()),
      "ancestorsOf" -> (() => GraphOps.ancestorsOf(edges, "C").collect()),
      "hopDistances" -> (() => GraphOps.hopDistances(edges, Seq("C")).collect()))
    val left = calls.map { case (name, call) =>
      val before = persistentIds()
      call()
      Caches.release()
      name -> residualRdds(before).size
    }.filter(_._2 > 0)
    assert(left.isEmpty, s"cached RDDs left: ${left.mkString(", ")}")
  }
}
