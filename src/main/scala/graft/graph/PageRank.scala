package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Lineage

/** Fixed-point integer PageRank over an undirected edge list — the
  * canonical importance score a graph curation pipeline adds next to the
  * HGN family's betweenness/community signals (an extension; the
  * reference computes no centrality beyond edge betweenness,
  * `graph_tools/graph_tools.py:162-220`).
  *
  * All arithmetic is INTEGER: ranks are maintained in fixed-point units
  * of 1e-12 (`scale`), the damping factor is the rational `dampNum /
  * dampDen`, and every per-edge contribution is an integer division
  * floored BEFORE the neighbor sum. Integer sums are order-independent
  * across partitions, so results are bit-identical run to run AND
  * reproducible in the DuckDB oracle as plain `//` arithmetic (same
  * policy as the fixed-point cosine / micro-nat LM scores; float
  * PageRank would hash-differently in the last ulp depending on
  * partition-sum order). The truncation deficit (≤ deg ulps per vertex
  * per round) is absorbed into the result semantics: this computes a
  * deterministic integer CONTRACTION of PageRank, within iters × 1e-12 ×
  * maxdeg of the real-valued iterate — far below any ranking use.
  *
  * Scale: one `groupBy(dst)` shuffle per iteration on `(long, long)`
  * rows — the textbook distributed PageRank shape; degrees ride along
  * the symmetrized edge table computed once. Lineage is cut per round
  * (see [[graft.plans.Lineage]]) so planning cost stays constant for any
  * iteration count. The single driver-side action is the vertex count.
  *
  * @param edges undirected canonical edge list `(src, dst)`; symmetrized
  *   internally, so every vertex it mentions has degree ≥ 1 and the
  *   chain has no dangling-mass term.
  */
object PageRank {

  def run(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100)(
      implicit spark: SparkSession): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must be a proper fraction, got $dampNum/$dampDen")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val sym = PropertyGraph.bothWays(e)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (src, dst, deg_src) computed once, reused every round.
    val symDeg = Lineage.cut(sym.join(deg, Seq("src")))
    val n = deg.count()
    require(n > 0, "PageRank on an empty graph")
    val base = scale * (dampDen - dampNum) / (dampDen * n)

    var pr = deg.select(col("src").as("id"), lit(scale / n).as("pr"))
    for (_ <- 1 to iters) pr = Lineage.cut(oneRound(symDeg, pr, base,
      dampNum, dampDen))
    pr.select(col("id"), col("pr").as("pr_fp"))
  }

  /** One synchronous rank round (pre-cut). The rank side is a lineage
    * cut carrying its MEASURED size (round 20), so the planner
    * broadcasts the vertex-sized side itself whenever it fits the
    * broadcast threshold — the round-19 SHUFFLE_HASH hint is retired.
    * Symmetric graph => every vertex has an in-edge; no left join
    * against the vertex set is needed to keep isolated rows.
    */
  private[graph] def oneRound(symDeg: DataFrame, pr: DataFrame, base: Long,
      dampNum: Long, dampDen: Long): DataFrame =
    symDeg
      .join(pr.withColumnRenamed("id", "src"), Seq("src"))
      .select(col("dst").as("id"),
        expr(s"(pr * $dampNum) div ($dampDen * deg)").as("c"))
      .groupBy(col("id"))
      .agg((sum(col("c")) + base).as("pr"))

  /** Weighted variant: transition mass from `u` splits proportionally
    * to integer edge weights `w` (contribution = `pr·d·w div (W_u)`
    * in the same all-integer fixed-point scheme — per-edge floor before
    * the neighbor sum, order-independent, oracle-replayable). With all
    * weights equal it reduces EXACTLY to [[run]] (spec-pinned).
    *
    * @param edges `(src, dst, w)` undirected canonical edge list with
    *   POSITIVE integer weights; symmetrized internally. Caller keeps
    *   `scale · dampNum · max(w)` inside a long (trivially true for
    *   small feature-derived weights; ANSI mode throws loudly if not).
    */
  def runWeighted(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85,
      dampDen: Long = 100)(implicit spark: SparkSession): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must be a proper fraction, got $dampNum/$dampDen")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
    val sym = PropertyGraph.bothWays(e, "w")
    val wdeg = sym.groupBy(col("src")).agg(
      sum(col("w")).as("wsum"), min(col("w")).as("wmin"))
    // One scalar action serves both guards: vertex count for the base
    // term, and the documented positive-weight contract enforced loudly
    // (a zero/negative w would silently corrupt ranks or divide by
    // zero) — checked on the aggregate already being built anyway.
    val stats = wdeg.agg(count(lit(1)).as("n"), min(col("wmin")).as("mw"))
      .head()
    val n = stats.getLong(0)
    require(n > 0, "PageRank on an empty graph")
    val minW = stats.getLong(1)
    require(minW > 0,
      s"edge weights must be positive integers, found min(w) = $minW")
    val symDeg = Lineage.cut(sym.join(wdeg.drop("wmin"), Seq("src")))
    val base = scale * (dampDen - dampNum) / (dampDen * n)

    var pr = wdeg.select(col("src").as("id"), lit(scale / n).as("pr"))
    for (_ <- 1 to iters) {
      // Measured-stats cut on the rank side (see run()): hint retired.
      val contrib = symDeg
        .join(pr.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr(s"(pr * $dampNum * w) div ($dampDen * wsum)").as("c"))
      pr = Lineage.cut(contrib.groupBy(col("id"))
        .agg((sum(col("c")) + base).as("pr")))
    }
    pr.select(col("id"), col("pr").as("pr_fp"))
  }
}
