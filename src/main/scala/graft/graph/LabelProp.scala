package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Lineage

/** Synchronous label propagation communities (Raghavan et al. 2007) —
  * the cheap modularity-free community detector next to the engine's
  * connected components ([[Communities]]) and k-core ([[KCore]]): each
  * vertex starts with its own id as label and, every round, adopts the
  * most frequent label among its NEIGHBORS. Communities emerge where
  * label majorities reinforce; unlike connected components the result
  * splits well-connected regions joined by thin bridges.
  *
  * Determinism (the property that makes this DuckDB-gateable; stock LPA
  * is run-to-run unstable): updates are SYNCHRONOUS (round k reads only
  * round k−1 labels — no asynchronous adoption order), the winning
  * label is chosen by `(count DESC, label ASC)` — a total order — and
  * the iteration count is FIXED rather than convergence-detected, so
  * both engines compute the identical label relation round by round.
  *
  * 100 TB design: each round is one equi-join of the (static) edge list
  * with the label relation on the neighbor key, a map-side-combinable
  * `(vertex, label)` count aggregate, and a per-vertex top-1 window
  * that Spark plans as `WindowGroupLimit` (partial limit before the
  * exchange — a hub's candidate labels are pre-pruned per partition,
  * never globally sorted). No driver state; `Lineage.cut` between
  * rounds keeps the plan flat. Isolated vertices keep their own label
  * through the left-join backfill.
  */
object LabelProp {

  /** `iters` synchronous rounds over canonical undirected edges
    * (`src < dst`, distinct — the [[graft.queries.GraphQueries.derivedEdges]]
    * shape). Returns `(id, label)` for every vertex in `vertices`.
    */
  def run(vertices: DataFrame, edges: DataFrame, iters: Int)(
      implicit spark: SparkSession): DataFrame = {
    require(iters >= 1, s"label propagation needs iters >= 1, got $iters")
    val sym = PropertyGraph.bothWays(edges)
    var labels = vertices.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) labels = Lineage.cut(oneRound(sym, labels))
    labels
  }

  /** One synchronous propagation round (pre-cut). The label side is a
    * lineage cut carrying its MEASURED size (round 20), so the planner
    * broadcasts the vertex-sized side itself whenever it fits the
    * broadcast threshold — round-19's SHUFFLE_HASH hint retired.
    */
  private[graph] def oneRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    val top = Window.partitionBy(col("src"))
      .orderBy(col("n").desc, col("nlabel").asc)
    val winners = sym
      .join(labels.select(col("id").as("dst"), col("label").as("nlabel")),
        Seq("dst"))
      .groupBy(col("src"), col("nlabel")).agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(top))
      .filter(col("r") === 1)
      .select(col("src").as("id"), col("nlabel").as("new_label"))
    labels.join(winners, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("label")).as("label"))
  }
}
