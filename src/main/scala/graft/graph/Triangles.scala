package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-vertex triangle counting — the standard clustering/cohesion
  * analytic over the property graph, in the DEGREE-ORDERED formulation
  * (Schank & Wagner 2005 / the MapReduce "node-iterator++"): orient every
  * undirected edge from its lower-(degree, id) endpoint to the higher
  * one, enumerate wedges only at each edge's smaller apex, and close them
  * against oriented edges.
  *
  * Why the orientation matters at 100 TB: naive wedge enumeration pays
  * Σ deg(v)² — a single 10⁷-degree hub contributes 10¹⁴ wedges. Ordering
  * by degree bounds every vertex's OUT-degree by O(√m), so total wedge
  * work is O(m^{3/2}) regardless of skew — the hub's wedges are charged
  * to its (low-degree) neighbors instead. Each triangle is found exactly
  * once, at its minimum-rank apex.
  *
  * Shuffles: degree aggregate on the vertex key, wedge self-join on the
  * apex, closing equi-join on (v, w), final per-vertex count — all
  * hash-partitioned equi-joins; AQE skew-splitting applies to the wedge
  * stage's residual imbalance.
  */
object Triangles {

  /** Per-vertex triangle participation counts.
    *
    * `edges` must be CANONICAL undirected edges: `src < dst`, distinct,
    * no self-loops (the shape [[graft.queries.GraphQueries.derivedEdges]]
    * produces). Output: `(id, n_tri)` for EVERY vertex in `vertices`,
    * isolated/triangle-free vertices backfilled with 0.
    */
  def counts(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val sym = PropertyGraph.bothWays(edges)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val withDeg = sym
      .join(deg.select(col("id").as("src"), col("deg").as("dsrc")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("ddst")), Seq("dst"))
    // u → v iff rank(u) < rank(v), rank = (deg, id): total order, so each
    // undirected edge orients exactly once and out-degree ≤ O(√m).
    val oriented = withDeg.filter(
        col("dsrc") < col("ddst") ||
          (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"), col("ddst").as("dv"))
    // Wedges (v, w) at apex u with rank(v) < rank(w) — matches the
    // orientation order, so the closing edge is exactly v → w.
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("u"), col("x.v").as("v"), col("y.v").as("w"))
    val tri = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perV = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    vertices.join(perV, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Local clustering coefficient per vertex — triangles closed over
    * triangles possible: `cc = 2·tri(v) / (deg(v)·(deg(v)−1))`, the
    * standard cohesion score next to [[counts]] (Watts & Strogatz 1998).
    * Emitted in FIXED-POINT micro-units (`(2·tri·10⁶) div (deg·(deg−1))`,
    * 0 for deg < 2) so the estimate is pure integer arithmetic — exactly
    * replayable by the DuckDB oracle, no float division drift.
    *
    * Output: `(id, deg, n_tri, cc_micro)` for every vertex in
    * `vertices`; isolated vertices backfilled `(0, 0, 0)`.
    *
    * Scale: one extra degree aggregate next to [[counts]] — its `sym`
    * subtree is IDENTICAL to the one inside counts, so Spark reuses the
    * exchange (`ReusedExchange` in the plan) rather than re-shuffling the
    * edge list; everything downstream of the wedge join is
    * vertex-cardinality, not edge-cardinality.
    *
    * Overflow bound: the `2·tri·10⁶` numerator wraps Long (Spark, ANSI
    * off, wraps SILENTLY where DuckDB's BIGINT multiply errors loudly)
    * once `n_tri > Long.MaxValue / 2·10⁶ ≈ 4.6·10¹²` — a hub of degree
    * ~3·10⁶ with fully-connected neighbors. Per the engine's
    * loud-failure convention the expression raise_errors at that bound
    * instead of diverging from the oracle.
    */
  def clusteringCoeff(vertices: DataFrame, edges: DataFrame): DataFrame = {
    // Largest n_tri whose 2·tri·10⁶ numerator fits a signed 64-bit Long.
    val maxTri = Long.MaxValue / 2000000L
    val sym = PropertyGraph.bothWays(edges)
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    counts(vertices, edges)
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        col("n_tri"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr(
            s"""if(n_tri > ${maxTri}L, raise_error(concat(
               |'cc_micro overflow: n_tri=', cast(n_tri as string),
               |' exceeds Long.MaxValue div 2e6 = ${maxTri}')),
               |(2 * n_tri * 1000000) div (deg * (deg - 1)))"""
              .stripMargin.replaceAll("\n", " ")))
          .otherwise(lit(0L)).as("cc_micro"))
  }
}
