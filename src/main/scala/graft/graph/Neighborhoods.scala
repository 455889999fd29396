package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Level-1 / level-2 neighborhood scan (SURVEY §2.9 G6), matching the
  * reference's `find_neighbors` (`graph_tools/graph_tools.py:328-370`):
  *
  *   - level 1: direct neighbors over the symmetrized edges;
  *   - level 2: neighbors-of-neighbors UNIONED with level 1
  *     (`graph_tools/graph_tools.py:346-350`), i.e. "within ≤2 hops";
  *   - self excluded (`filter("id != dst")`), sets deduped.
  *
  * Both levels come from ONE table, `(id, neighbors1, neighbors2)`, one
  * row per vertex with at least one edge to another vertex. The
  * reference's full outer join against the vertex table, which gave
  * isolated vertices `count = 0` and an empty array
  * (`graph_tools/graph_tools.py:360-364`, SURVEY J3/P6), is the caller's
  * business: r-metrics needs none (see [[RMetrics]]), and g02 backfills
  * the part table itself.
  *
  * The reference enumerated hops with GraphFrames motifs; here the second
  * hop is one self-join of the adjacency DataFrame — same result, plain
  * Catalyst joins (shuffle on the join key; at scale AQE handles skew).
  * Level-2 fan-out is O(sum of squared degrees); on power-law graphs
  * callers pass `maxMidDegree` to cap hub fan-out
  * ([[Skew.cappedMidAdjacency]] — documented approximation: vertices
  * above the cap contribute no 2-hop expansion THROUGH themselves; their
  * own rows and level-1 edges are untouched. `None` (default) is
  * bit-identical to the exact operator.
  */
object Neighborhoods {

  /** `(id, neighbors1, neighbors2)` for every vertex of `g` with a
    * neighbor. One aggregate over the hop-2 pairs and the tagged level-1
    * pairs: `collect_set` dedups the Σdeg² hop-2 fan-out with map-side
    * partial sets (no `distinct()` exchange), and the `when(lvl1, ...)`
    * set skips the hop-2 rows as nulls.
    */
  def neighbors(g: PropertyGraph, maxMidDegree: Option[Long] = None): DataFrame = {
    val adj = g.adjacency // (src, dst), distinct, no self-loops
    val lvl1 = adj.select(col("src").as("id"), col("dst").as("nb"), lit(true).as("lvl1"))
    // The mid side of the expansion is the capped adjacency: a hub above
    // the cap never occurs as `mid`, bounding fan-out to cap² per mid.
    // Hubs still appear as `id` and `nb`.
    val midAdj = Skew.cappedMidAdjacency(adj, maxMidDegree)
    val hop2 = adj.select(col("src").as("id"), col("dst").as("mid"))
      .join(midAdj.select(col("src").as("mid"), col("dst").as("nb")), Seq("mid"))
      .select(col("id"), col("nb"), lit(false).as("lvl1"))
    hop2.unionByName(lvl1) // lvl-2 includes lvl-1 (reference line 349-350)
      .filter(col("id") =!= col("nb"))
      .groupBy("id")
      .agg(collect_set(when(col("lvl1"), col("nb"))).as("neighbors1"),
        collect_set(col("nb")).as("neighbors2"))
  }
}
