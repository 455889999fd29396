package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-edge r-metrics (common-neighbor ratios) and the keep-edge decision,
  * matching the reference's `remove_edges_using_r_metrics`
  * (`graph_tools/graph_tools.py:372-435`):
  *
  *   - common neighbors of an edge's endpoints at levels 1 and 2, with the
  *     endpoints themselves removed from each side first (the
  *     `udf_merge_neighbors` semantics, lines 389-397);
  *   - `r11 = |CN1| / deg1(src)`, `r12 = |CN1| / deg1(dst)`,
  *     `r21 = |CN2| / deg2(src)`, `r22 = |CN2| / deg2(dst)`, with a
  *     `count > 0` guard returning 0.0 (lines 400-401);
  *   - `keepit = r11 > t1 ∨ r12 > t1 ∨ r21 > t2 ∨ r22 > t2` (lines 402-404).
  *
  * The reference used four Python UDFs; all four are replaced with
  * codegen'd built-ins (SURVEY §2.7 F2-F5): `array_except`/`array_intersect`
  * for the set logic, `size` for counts, `when` for the guarded ratio and
  * the boolean keep condition. No UDF — the whole stage stays inside
  * whole-stage codegen, which matters because this runs every HGN
  * iteration over every edge.
  *
  * Ratios are DoubleType (the reference emitted Python floats through a
  * FloatType UDF; double is Spark-native and what the DuckDB oracle uses).
  */
object RMetrics {

  /** Common neighbors of `src`/`dst` given both endpoint neighbor arrays,
    * endpoints excluded — `udf_merge_neighbors` as built-ins (F2).
    */
  def commonNeighbors(nbSrc: Column, nbDst: Column, src: Column, dst: Column): Column =
    array_intersect(
      array_except(nbSrc, array(src, dst)),
      array_except(nbDst, array(src, dst)))

  /** `common / count` with a zero-count guard (F4). */
  def ratio(common: Column, cnt: Column): Column =
    when(cnt > 0, common.cast("double") / cnt.cast("double")).otherwise(lit(0.0))

  /** The r-metrics table for every edge of `g`:
    * `(src, dst, common_neighbors, r11, r12, r21, r22, keepit)`.
    * `common_neighbors` is the LEVEL-2 common-neighbor array — the
    * reference overwrote the level-1 array with the level-2 one before
    * emitting (`graph_tools/graph_tools.py:424-430`), and downstream edge
    * weights consume exactly that. `maxMidDegree` caps the level-2 hub
    * fan-out ([[Skew.cappedMidAdjacency]]; `None` = exact).
    *
    * Each edge joins the one [[Neighborhoods.neighbors]] table once on
    * `src` and once on `dst` (the J2 shape, `graph_tools.py:406-423`,
    * with both levels riding on one row). No vertex backfill is
    * needed: the table lacks only vertices with no edge to another
    * vertex, and the only edge such a vertex can have is a self-loop. The
    * reference gave that edge ratios 0, `keepit = false` and no common
    * neighbors, which yields no weight and no re-add downstream; dropping
    * it here leaves the loop's next graph unchanged.
    *
    * `splitTwoHop` materializes the neighbor table
    * ([[graft.plans.Lineage.cut]]) before the two endpoint joins —
    * the round-16 step-1 experiment lever for the HGN loop at scale:
    * the fused 2-hop-aggregate + double-join + similarity chain is the
    * loop's peak working set (the 30× heap A/B localized step 1 as
    * GC-bound on it, BASELINE.md round 15), and the cut splits that
    * chain into two smaller-footprint stages at the price of one
    * materialization of the neighbor arrays. Default off: at catalog
    * scale the fused chain is faster (and g03's oracle plan unchanged).
    */
  def run(g: PropertyGraph, rLvl1Thres: Double, rLvl2Thres: Double,
      maxMidDegree: Option[Long] = None,
      splitTwoHop: Boolean = false): DataFrame = {
    val table = Neighborhoods.neighbors(g, maxMidDegree)
    val nbs = if (splitTwoHop) graft.plans.Lineage.cut(table) else table
    def at(end: String) = nbs.select(col("id").as(end),
      col("neighbors1").as(s"n1_$end"), col("neighbors2").as(s"n2_$end"))
    val (src, dst) = (col("src"), col("dst"))
    // Each common-neighbor set is built once, in this projection: the
    // ratios below read the counts inside `when` branches, and codegen
    // shares no subexpression across conditional branches.
    val common = g.edges.select("src", "dst")
      .join(at("src"), Seq("src")).join(at("dst"), Seq("dst"))
      .select(src, dst,
        size(commonNeighbors(col("n1_src"), col("n1_dst"), src, dst)).as("common1"),
        commonNeighbors(col("n2_src"), col("n2_dst"), src, dst).as("common_neighbors"),
        col("n1_src"), col("n1_dst"), col("n2_src"), col("n2_dst"))
    val common2 = size(col("common_neighbors"))
    val r11 = ratio(col("common1"), size(col("n1_src")))
    val r12 = ratio(col("common1"), size(col("n1_dst")))
    val r21 = ratio(common2, size(col("n2_src")))
    val r22 = ratio(common2, size(col("n2_dst")))
    common.select(src, dst, col("common_neighbors"),
      r11.as("r11"), r12.as("r12"), r21.as("r21"), r22.as("r22"),
      (r11 > rLvl1Thres || r12 > rLvl1Thres ||
        r21 > rLvl2Thres || r22 > rLvl2Thres).as("keepit"))
  }
}
