package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Lineage

/** HGN algorithm parameters — the reference's `run_options` YAML section
  * (`confs/quakers.yml:58-65`, `configuration/yml_schema.json`).
  */
final case class HgnParams(
    featureMinAvg: Double = 0.33,
    rLvl1Thres: Double = 0.50,
    rLvl2Thres: Double = 0.85,
    maxEdgeWeight: Double = 0.50,
    betweennessThres: Double = 10.0,
    maxSpLength: Int = 2,
    maxSteps: Int = 30,
    minCompSize: Int = 10,
    // Hub-degree cap for every 2-hop expansion (None = exact; see
    // graph/Skew.scala for the approximation semantics) — the knob that
    // keeps power-law graphs tractable at scale.
    maxMidDegree: Option[Long] = None,
    // Materialize the 2-hop neighbor table before the r-metric joins
    // (RMetrics.run splitTwoHop) — the step-1 working-set splitter for
    // large iterative runs; off by default (fused is faster small).
    splitTwoHop: Boolean = false)

/** The HGN main loop (SURVEY §2.9 G8): iteration =
  * r-metrics → edge weights → edges-to-delete → anti-join deletion →
  * drop isolated vertices, until convergence — `main.py:144-213`.
  */
object HgnPipeline {

  /** Edges to delete, given weights and betweenness — `get_edges_to_delete`
    * (`main.py:115-141`): join edge_weights against the betweenness table
    * on the unordered pair (J7; the reference's two orientation joins +
    * union, same rows since betweenness has no self-loops), then (P4)
    *   `weight < maxW  OR  (weight >= maxW AND betweenness > bThres)`.
    * No dedup — an edge matches both betweenness orientations and appears
    * twice, as in the reference (harmless: deletion is an anti-join).
    */
  def edgesToDelete(
      edgeWeights: DataFrame,
      betweenness: DataFrame, // (edges: struct<src,dst>, betweenness)
      maxEdgeWeight: Double,
      betweennessThres: Double): DataFrame =
    edgeWeights
      .join(betweenness, PropertyGraph.samePair(col("src"), col("dst"),
        col("edges.src"), col("edges.dst")))
      .filter(col("edge_weight") < maxEdgeWeight ||
        (col("edge_weight") >= maxEdgeWeight && col("betweenness") > betweennessThres))
      .select("src", "dst")

  /** Remove `toDelete` edges in either orientation (one left-anti join on
    * the unordered pair for the reference's two, J8, `main.py:201-206`)
    * and re-add every keepit == true edge (line 207). The re-add restores
    * no deleted edge (`toDelete` ⊆ weight rows ⊆ non-keepit edges, and
    * keepit is orientation-free); it only duplicates kept edges.
    */
  def deleteEdges(g: PropertyGraph, toDelete: DataFrame, edgesR: DataFrame): PropertyGraph = {
    val del = toDelete.select(col("src").as("d_src"), col("dst").as("d_dst"))
    val kept = g.edges
      .join(del, PropertyGraph.samePair(col("src"), col("dst"),
        col("d_src"), col("d_dst")), "left_anti")
      .select("src", "dst")
      .union(edgesR.filter(col("keepit")).select("src", "dst"))
    PropertyGraph(g.vertices, kept).dropIsolatedVertices
  }

  /** One main-loop iteration (`main.py:172-208`). Returns the next graph
    * and the number of edges selected for deletion (the loop-exit signal).
    */
  def iterate(
      g: PropertyGraph,
      similarities: DataFrame,
      betweenness: DataFrame,
      params: HgnParams): (PropertyGraph, Long) = {
    // Lineage.cut, not bare localCheckpoint: the loop compounds checkpoint
    // origin-stats double-exponentially otherwise (see graft.plans.Lineage).
    val edgesR = Lineage.cut(RMetrics.run(g, params.rLvl1Thres,
      params.rLvl2Thres, params.maxMidDegree, params.splitTwoHop))
                         // replaces the reference's parquet round-trips
                         // (`spark_manager.py:215-231`, SURVEY §7.1)
    val weights = Lineage.cut(
      EdgeWeights.run(edgesR, similarities, params.featureMinAvg))
    val toDelete = Lineage.cut(edgesToDelete(
      weights, betweenness, params.maxEdgeWeight, params.betweennessThres))
    val n = toDelete.count()
    if (n == 0) (g, 0L)
    else (deleteEdges(g, toDelete, edgesR), n)
  }

  /** Full run: betweenness init once, then iterate to convergence or
    * `maxSteps` (`main.py:144-213`, exit condition lines 196-198).
    * `similarities` is the per-edge similarity table from the init step
    * (cosine over encoded features — [[graft.ml.DummyVectors]] +
    * [[graft.ml.Cosine]] — or any user-supplied `(src, dst, similarity)`).
    * `initBetweenness` short-circuits the betweenness init with a
    * previously persisted table (`cached_init_step`, `main.py:243-245`).
    */
  def run(
      initial: PropertyGraph,
      similarities: DataFrame,
      params: HgnParams,
      initBetweenness: Option[DataFrame] = None)(
      implicit spark: SparkSession): PropertyGraph = {
    val betweenness = Lineage.cut(initBetweenness
      .getOrElse(Betweenness.run(initial, params.maxSpLength, params.maxMidDegree)))
    var g = PropertyGraph(
      Lineage.cut(initial.vertices), Lineage.cut(initial.edges))
    var step = 0
    var converged = false
    while (!converged && step < params.maxSteps) {
      step += 1
      val t0 = System.nanoTime()
      val (next, deleted) = iterate(g, similarities, betweenness, params)
      // Operational progress line (the reference logged each step too,
      // main.py:172-176) — at one line per iteration this is driver-cheap.
      println(f"[hgn] step $step: deleted $deleted edges in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      if (deleted == 0) converged = true
      else g = PropertyGraph(
        Lineage.cut(next.vertices),
        // The keepit re-add (deleteEdges) can duplicate an edge that was
        // both not-deleted and keep-worthy — faithful to the reference's
        // union (main.py:201-207), but left alone the edge table doubles
        // per iteration. Canonicalize between iterations: the algorithm
        // treats edges as a set throughout.
        Lineage.cut(next.edges.distinct()))
    }
    g
  }
}
