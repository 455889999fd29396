package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An undirected property graph over two DataFrames, the engine's core
  * abstraction (reference: the GraphFrame wrapper built at
  * `spark_manager/spark_manager.py:91-100` and `main.py:112`).
  *
  * Invariants:
  *   - `vertices` has an `id` column (LongType) plus arbitrary feature
  *     columns (reference schema: `spark_manager/spark_manager.py:113-116`).
  *   - `edges` has `src`/`dst` columns (LongType) and optionally `weight`
  *     (`spark_manager/spark_manager.py:135-147`).
  *   - An edge row `(a, b)` is the unordered pair `{a, b}`, in either
  *     orientation and any multiplicity. Only this file decides edge
  *     direction: [[canonicalEdges]] is the canonical form (one
  *     `(least, greatest)` row per pair, no self-loops), and every
  *     symmetric view derives from it through [[PropertyGraph.bothWays]].
  *
  * Scale notes: every method here is a declarative DataFrame transform, so
  * Catalyst prunes/pushes down and AQE picks join strategies; nothing
  * collects to the driver.
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {
  require(vertices.columns.contains("id"), "vertices must have an `id` column")
  require(edges.columns.contains("src") && edges.columns.contains("dst"),
    "edges must have `src` and `dst` columns")

  /** Each undirected edge once, as `(src, dst)` with `src < dst`. */
  def canonicalEdges: DataFrame = PropertyGraph.canonical(edges)

  /** Distinct adjacency: both orientations of every canonical edge. */
  def adjacency: DataFrame = PropertyGraph.bothWays(canonicalEdges)

  /** Per-vertex degree over the distinct symmetrized adjacency. */
  def degrees: DataFrame =
    adjacency.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  /** Remove degree-0 vertices — GraphFrames `dropIsolatedVertices()`
    * (`main.py:208`, `graph_tools/graph_tools.py:540`) rebuilt as a
    * left-semi join of vertices against the union of edge endpoints
    * (SURVEY §2.3 J10).
    */
  def dropIsolatedVertices: PropertyGraph =
    PropertyGraph(
      vertices.join(PropertyGraph.endpoints(edges), Seq("id"), "left_semi"), edges)

  /** Keep only the given vertices, and the edges with both endpoints kept
    * (the semi-join pair at `graph_tools/graph_tools.py:533-538`).
    */
  def inducedSubgraph(keptVertexIds: DataFrame): PropertyGraph = {
    val kept = keptVertexIds.select(col("id"))
    val v = vertices.join(kept, Seq("id"), "left_semi")
    val e = edges
      .join(kept.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(kept.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    PropertyGraph(v, e)
  }
}

object PropertyGraph {

  /** `(id)`: the distinct endpoints of `edges`, the vertex table of a
    * graph known only by its edges.
    */
  def endpoints(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("id")).distinct()

  /** `(src, dst)` with `src < dst`, one row per unordered pair of
    * `edges`; self-loops (and rows with a null endpoint) dropped.
    */
  def canonical(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** Equi-join condition: `(aSrc, aDst)` and `(bSrc, bDst)` are the
    * same unordered pair, in either orientation.
    */
  def samePair(aSrc: Column, aDst: Column, bSrc: Column, bDst: Column): Column =
    least(aSrc, aDst) === least(bSrc, bDst) &&
      greatest(aSrc, aDst) === greatest(bSrc, bDst)

  /** Every row of `edges` in both orientations, `extra` columns carried
    * along, in one projection: a two-branch union reads `edges` twice.
    */
  def bothWays(edges: DataFrame, extra: String*): DataFrame = {
    val rest = extra.map(col)
    edges
      .select(explode(array(
        struct(col("src") +: col("dst") +: rest: _*),
        struct(col("dst").as("src") +: col("src").as("dst") +: rest: _*))).as("e"))
      .select("e.*")
  }
}
