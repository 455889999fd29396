package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge weights from common-neighbor similarities, matching the
  * reference's `calculate_edge_weights` (`graph_tools/graph_tools.py:437-517`).
  *
  * Semantics (derived from the reference's j_1/j_2/j_3 SQL): for each
  * deletable edge (keepit == false), look at the similarity rows whose BOTH
  * endpoints are level-2 common neighbors of the edge, and set
  *
  *   edge_weight = count(similarity >= featureMinAvg) / count(similarity)
  *
  * over those rows (`graph_tools/graph_tools.py:512-516`, the A3
  * conditional-ratio aggregate — composed from built-ins, no UDAF).
  * Subtlety preserved from the reference: the j_3 projection keeps only
  * `(e1, e2, similarity)` BEFORE its `dropDuplicates()` (line 508), so the
  * ratio is over DISTINCT SIMILARITY VALUES per edge, not over distinct
  * similarity-edge pairs. With continuous cosine values the two coincide
  * almost surely; with discrete similarities they differ, and we match the
  * reference.
  * Deletable edges with NO qualifying similarity row produce no output row
  * (inner-join semantics) and therefore can never be deleted downstream.
  *
  * Join structure preserved from the reference (and exercised as operator
  * coverage): two RIGHT OUTER joins attaching similarity rows to the
  * exploded common neighbors (J5, lines 465-483), then a 5-column equi
  * self-join matching the "src side" and "dst side" attachments (J6, lines
  * 493-508), null-filtered and deduplicated.
  *
  * Scale: `explode(common_neighbors)` fans out each deletable edge by its
  * common-neighbor count; both right joins shuffle on a single long key
  * (the exploded neighbor id), and the 5-key join shuffles on (nb_src,
  * nb_dst) — all plain hash-partitionable keys. Skew (a hub vertex that is
  * a common neighbor of many edges) is handled by AQE skew-join splitting.
  */
object EdgeWeights {

  /** `(src, dst, edge_weight)` for deletable edges with ≥1 qualifying
    * similarity row. `edgesR` is [[RMetrics.edgesWithMetrics]] output;
    * `similarities` is `(src, dst, similarity)` per original edge.
    *
    * Dispatches to the optimized plan ([[runFast]]); the
    * reference-structural join chain is kept as [[runReference]] and the
    * two are differential-tested for equality (EdgeWeightsEquivalenceSpec)
    * in addition to the DuckDB oracle gate on the fast path.
    */
  def run(edgesR: DataFrame, similarities: DataFrame, featureMinAvg: Double): DataFrame =
    runFast(edgesR, similarities, featureMinAvg)

  /** Optimized plan. Derivation from the reference's j_1/j_2/j_3:
    *
    *   j_3 = {(e, s, d, sim) : s ∈ CN(e) ∧ d ∈ CN(e)}, then the weight is
    *   computed over DISTINCT sim VALUES per edge.
    *
    * Two consequences exploited here (round 19):
    *   1. "d ∈ CN(e)" is an IN-ROW membership test: the exploded posting
    *      carries the edge's own `common_neighbors` array, so the second
    *      endpoint's membership is an `array_contains` filter inside the
    *      ONE attachment join — no second attachment build, no 3-key
    *      semi-join (the pre-round-19 semi-join sorted the full 32.4M-row
    *      attachment, ~13 s of the 13.9 s stage at sf0.1).
    *   2. "distinct values then count" is an EXPLICIT `(edge, value)`
    *      pre-dedup followed by two plain map-side-combinable counts —
    *      not a countDistinct pair, whose Expand plan doubled rows and
    *      was the 100x stress's spill hot spot (see the inline note).
    *
    * Per-edge fan-out is bounded by |CN| × degree(cn); every join is a
    * hash-partitionable equi-join, so the plan scales out like any
    * shuffle — no driver state, no cross product.
    */
  private def runFast(edgesR: DataFrame, similarities: DataFrame,
      featureMinAvg: Double): DataFrame = {
    val sims = similarities.select(
      col("src").as("s_src"), col("dst").as("s_dst"), col("similarity"))
    // The exploded posting carries the edge's OWN common-neighbor array
    // alongside each exploded element: "peer ∈ CN(e)" then becomes a
    // per-row `array_contains` filter inside the one attachment join,
    // deleting the second explode + the 3-key semi-join that dominated
    // this stage (round-19 probe at sf0.1: the semi-join sorted the
    // full 32.4M-row attachment — 13 s of the 13.9 s stage; this shape
    // runs 2.3 s with bit-identical output). Trade-off, documented:
    // the array rides the posting exchange once (Σ|CN(e)|² bytes worst
    // case vs the semi-join's extra full shuffle+sort of the
    // attachment); CN arrays are bounded by the level-2 neighborhood
    // machinery upstream, and the attachment fan-out is the same Σ
    // either way.
    val cn = edgesR.filter(!col("keepit"))
      .select(col("src").as("nb_src"), col("dst").as("nb_dst"),
        col("common_neighbors"),
        explode(col("common_neighbors")).as("cn"))
    // J5: attach similarity rows whose src is a common neighbor, with
    // the membership test for the other endpoint applied in-row. The
    // SHUFFLE_HASH hint: under Spark's default preferSortMergeJoin=true,
    // measured cut sizes only decide broadcast or not, and above the
    // broadcast threshold the join would sort-merge. Hash-building the
    // sims slice skips sorting the fan-out side (measured 3.5x at sf0.1).
    val j1 = sims.hint("shuffle_hash")
      .join(cn, col("s_src") === col("cn"), "right")
      .filter(col("s_dst").isNotNull && col("similarity").isNotNull &&
        array_contains(col("common_neighbors"), col("s_dst")))
    // "Distinct values then count" as an EXPLICIT pre-dedup, not a
    // double countDistinct: Spark plans two distinct aggregates over
    // one relation via Expand (×2 row multiplication, two concurrent
    // per-task distinct-state maps) — measured as the 100x stress's
    // spill/OOM hot spot. The manual (edge, value) dedup ships each
    // row once, collapses duplicates map-side BEFORE the exchange, and
    // leaves the ratio as two plain map-side-combinable counts.
    j1.select(col("nb_src").as("src"), col("nb_dst").as("dst"),
        col("similarity"))
      .distinct()
      .groupBy(col("src"), col("dst"))
      .agg((count(when(col("similarity") >= featureMinAvg, lit(1))) /
        count(lit(1))).as("edge_weight"))
  }

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
