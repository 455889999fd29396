package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Level-1 / level-2 neighborhood scan (SURVEY §2.9 G6), matching the
  * reference's `find_neighbors` (`graph_tools/graph_tools.py:328-370`):
  *
  *   - level 1: direct neighbors over the symmetrized edges;
  *   - level 2: neighbors-of-neighbors UNIONED with level 1
  *     (`graph_tools/graph_tools.py:346-350`), i.e. "within ≤2 hops";
  *   - self excluded (`filter("id != dst")`), sets deduped;
  *   - every vertex appears in the result: a full outer join against the
  *     vertex table backfills isolated vertices with `count = 0` and an
  *     empty neighbor array (`graph_tools/graph_tools.py:360-364`,
  *     SURVEY J3/P6).
  *
  * The reference enumerated hops with GraphFrames motifs; here each hop is
  * one self-join of the adjacency DataFrame — same result, plain Catalyst
  * joins (shuffle on the join key; at scale AQE handles skew). Level-2
  * fan-out is O(sum of squared degrees); on power-law graphs callers pass
  * `maxMidDegree` to cap hub fan-out ([[Skew.cappedMidAdjacency]] —
  * documented approximation: vertices above the cap contribute no 2-hop
  * expansion THROUGH themselves; their own rows and level-1 edges are
  * untouched. `None` (default) is bit-identical to the exact operator.
  */
object Neighborhoods {

  /** Neighbor pairs within ≤ `level` hops, self-excluded, WITH
    * duplicates (a level-2 neighbor reachable through several mids
    * appears once per route). The `neighbors` aggregate dedups inside
    * `collect_set`, so the explicit `distinct()` exchange this family
    * used to pay on the Σdeg² hop-2 fan-out — a full extra shuffle of
    * the engine's biggest intermediate — is not spent at all.
    */
  private def rawNeighborPairs(g: PropertyGraph, level: Int,
      maxMidDegree: Option[Long]): DataFrame = {
    require(level == 1 || level == 2, s"level must be 1 or 2, got $level")
    val adj = g.adjacency // (src, dst), distinct, no self-loops
    val lvl1 = adj.select(col("src").as("id"), col("dst").as("nb"))
    val pairs = level match {
      case 1 => lvl1
      case 2 =>
        // The mid side of the expansion is the capped adjacency: a hub
        // above the cap never occurs as `mid`, bounding fan-out to cap²
        // per mid. Hubs still appear as `id` and `nb`.
        val midAdj = Skew.cappedMidAdjacency(adj, maxMidDegree)
        val hop2 = adj.select(col("src").as("id"), col("dst").as("mid"))
          .join(midAdj.select(col("src").as("mid"), col("dst").as("nb")), Seq("mid"))
          .select(col("id"), col("nb"))
        hop2.unionByName(lvl1) // lvl-2 includes lvl-1 (reference line 349-350)
    }
    pairs.filter(col("id") =!= col("nb"))
  }

  /** Per-vertex neighbor set + degree with isolated-vertex backfill:
    * `(id, count, neighbors)` for EVERY vertex of `g`. The distinct
    * count is `size(collect_set(...))` — one exchange of the raw pair
    * fan-out with map-side partial sets, instead of distinct + count
    * (two exchanges of the same rows; round-19, measured on g02).
    */
  def neighbors(g: PropertyGraph, level: Int,
      maxMidDegree: Option[Long] = None): DataFrame = {
    val agged = rawNeighborPairs(g, level, maxMidDegree)
      .groupBy("id")
      .agg(collect_set(col("nb")).as("nbs"))
      .select(col("id"), size(col("nbs")).cast("long").as("cnt"), col("nbs"))
    g.vertices.select("id")
      .join(agged, Seq("id"), "full")
      .select(
        col("id"),
        coalesce(col("cnt"), lit(0L)).as("count"),
        coalesce(col("nbs"), array().cast("array<bigint>")).as("neighbors"))
  }
}
