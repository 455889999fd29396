package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The differential oracle for [[EdgeWeights.run]] in
  * EdgeWeightsEquivalenceSpec.
  */
object EdgeWeightsReference {

  /** Reference-structural implementation (the j_1/j_2/j_3 chain verbatim:
    * two right-outer joins + the 5-column equi join + post-join dedup).
    */
  def runReference(edgesR: DataFrame, similarities: DataFrame,
      featureMinAvg: Double): DataFrame = {
    val sims = similarities.select(
      col("src").as("s_src"), col("dst").as("s_dst"), col("similarity"))

    // Explode the level-2 common neighbors of deletable edges
    // (graph_tools/graph_tools.py:451-454).
    val cn = edgesR.filter(!col("keepit"))
      .select(col("src").as("nb_src"), col("dst").as("nb_dst"),
        explode(col("common_neighbors")).as("cn"))

    // J5 #1: similarity rows whose src IS the common neighbor (right outer:
    // common neighbors with no incident similarity row survive as nulls,
    // exactly as the reference's RIGHT JOIN at lines 465-470).
    val j1 = sims.join(cn, col("s_src") === col("cn"), "right")
      .select(col("nb_src"), col("nb_dst"),
        col("s_src").as("j1_src"), col("s_dst").as("j1_dst"),
        col("similarity").as("j1_similarity"))

    // J5 #2: similarity rows whose dst IS the common neighbor. The
    // reference joined sims onto the FULL j1 (lines 478-483), carrying a
    // j1-side × j2-side cross product per (edge, neighbor) through to the
    // 5-key join — quadratic in the common neighbor's degree, and the
    // dominant cost of the whole stage (measured ~10x the rest of the
    // chain at sf0.1). Because the right join keeps every (edge, cn) pair
    // regardless of j1 matches, the j2 attachment side is exactly
    // `cne ⨝ sims (dst = cn)` — so both sides are derived directly from
    // `cn`, never materializing the cross. The final result is a distinct
    // set either way (reference dedups at line 508); identical output.
    val j2 = sims.join(cn, col("s_dst") === col("cn"), "right")
      .select(col("nb_src").as("r_nb_src"), col("nb_dst").as("r_nb_dst"),
        col("s_src").as("j2_src"), col("s_dst").as("j2_dst"),
        col("similarity").as("j2_similarity"))

    // J6: 5-column equi join of the two attachment sides — a similarity row
    // survives iff its src matches via SOME common neighbor and its dst via
    // SOME common neighbor of the SAME deletable edge (lines 493-508).
    // No dedup needed before the join: a similarity row matches an edge
    // through exactly one cn (the join key IS s_src resp. s_dst), so
    // (edge, similarity-row) pairs are already unique on each side, and
    // the post-join projection is deduplicated below anyway.
    val left = j1
      .filter(col("j1_src").isNotNull && col("j1_dst").isNotNull &&
        col("j1_similarity").isNotNull)
    val right = j2
      .filter(col("j2_src").isNotNull && col("j2_dst").isNotNull &&
        col("j2_similarity").isNotNull)
    val j3 = left.join(right,
        col("nb_src") === col("r_nb_src") &&
        col("nb_dst") === col("r_nb_dst") &&
        col("j1_src") === col("j2_src") &&
        col("j1_dst") === col("j2_dst") &&
        col("j1_similarity") === col("j2_similarity"))
      .select(col("nb_src").as("src"), col("nb_dst").as("dst"),
        col("j1_similarity").as("similarity"))
      .dropDuplicates()

    // A3: conditional-ratio aggregate (lines 512-516). count/count is
    // long/long -> double in Spark, matching DuckDB's float division.
    j3.groupBy("src", "dst")
      .agg((count(when(col("similarity") >= featureMinAvg, col("similarity"))) /
        count(col("similarity"))).as("edge_weight"))
  }
}
