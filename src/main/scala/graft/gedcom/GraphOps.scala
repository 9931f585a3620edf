package graft.gedcom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IterativeGraph

/** Relationship questions over the flattened property graph's edges
  * `(src, dst, relType)`, keyed by xref string so results join back to
  * the property tables. The iterative ones run on [[IterativeGraph]]'s
  * leased loops: their pins are freed when they return, and a result is
  * a query-scope checkpoint, freed by [[graft.Caches.release]] once read.
  */
object GraphOps {

  /** Connected components — family clusters. Returns `(xref, component)`,
    * the component named by its minimum xref. */
  def familyClusters(edges: DataFrame): DataFrame =
    IterativeGraph.connectedComponents(edges)

  /** In/out/total degree per xref. Every edge row counts, duplicates
    * included, so the degrees sum to twice the edge rows. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(inline(array(
        struct(col("src").as("xref"), lit(1).as("out")),
        struct(col("dst").as("xref"), lit(0).as("out")))))
      .groupBy(col("xref"))
      .agg(sum(col("out")).cast("int").as("out_degree"),
        count(lit(1)).cast("int").as("degree"))
      .select(col("xref"), (col("degree") - col("out_degree")).as("in_degree"),
        col("out_degree"), col("degree"))

  /** child -> parent edges derived from the family topology: family F with
    * `Child` edge to C and `Husband`/`Wife` edge to P gives C -> P.
    * Pure DataFrame self-join on the family id. */
  def parentEdges(edges: DataFrame): DataFrame = {
    val children = edges.filter(col("relType") === "Child")
      .select(col("src").as("family"), col("dst").as("child"))
    val parents = edges.filter(col("relType").isin("Husband", "Wife"))
      .select(col("src").as("family"), col("dst").as("parent"))
    children.join(parents, "family").select(col("child"), col("parent")).distinct()
  }

  /** Undirected hop distance from each vertex to the given landmarks:
    * `(xref, landmark, hops)`, one row per vertex a landmark reaches. */
  def hopDistances(edges: DataFrame, landmarks: Seq[String]): DataFrame = {
    val sym = IterativeGraph.symmetrized(edges)
    landmarks.map { lm =>
      // no depth cap: the BFS stops at its fixpoint
      IterativeGraph.bfsDistances(sym, vertex(edges, lm), Int.MaxValue)
        .filter(col("d") >= 0)
        .select(col("v").as("xref"), lit(lm).as("landmark"), col("d").cast("int").as("hops"))
    }.reduceOption(_ unionAll _)
      .getOrElse(edges.select(col("src").as("xref"), col("src").as("landmark"),
        lit(0).as("hops")).limit(0))
  }

  /** Transitive ancestor closure from `start`: a BFS over the child ->
    * parent edges, `maxGen` generations deep. Returns `(xref, generation)`
    * with generation = 1 for parents, 2 for grandparents, ... */
  def ancestorsOf(edges: DataFrame, start: String, maxGen: Int = 20): DataFrame = {
    // the BFS's vertex set is its edges' sources: a (p, p) self-loop puts
    // each top-most ancestor in it, and never lowers a distance
    val up = parentEdges(edges).select(inline(array(
      struct(col("child").as("src"), col("parent").as("dst")),
      struct(col("parent").as("src"), col("parent").as("dst")))))
    IterativeGraph.bfsDistances(up, vertex(edges, start), maxGen)
      .filter(col("d") > 0)
      .select(col("v").as("xref"), col("d").cast("int").as("generation"))
  }

  /** A one-row `(v)` frame holding `xref`: a BFS source. */
  private def vertex(edges: DataFrame, xref: String): DataFrame =
    edges.sparkSession.range(1).select(lit(xref).as("v"))
}
