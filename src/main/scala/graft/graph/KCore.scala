package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Lineage

/** k-core decomposition membership — the standard graph-curation
  * operator (Seidman 1983 "Network structure and minimum degree"): the
  * k-core is the maximal subgraph in which every vertex has degree ≥ k
  * WITHIN the subgraph. Corpus-graph pipelines use it to strip
  * low-engagement fringe (crawl tendrils, near-isolated link spam)
  * before the expensive analytics run; the reference's closest surface
  * is its degree-threshold edge deletion (`edge_betweenness_centrality`
  * pipeline's min-degree filter), which is exactly ONE peel round — the
  * k-core is that filter iterated to its fixed point.
  *
  * Formulation: FRONTIER-DELTA peeling (round-19 rework; the k-core is
  * the unique maximal subgraph, so any peel order reaches the same
  * fixed point as the round-synchronized peel the DuckDB oracle
  * replays). The old shape recomputed in-subgraph degrees and
  * semi-joined the FULL edge relation every round, so a round that
  * removed 30 vertices cost the same as one that removed 30,000
  * (measured at sf0.1: rounds 3-17 each remove ≤112 edge rows yet cost
  * ~0.35 s — 5.3 of the 6.3 s total). Here the per-vertex degree
  * relation is MAINTAINED across rounds:
  *
  *   - the frontier (vertices whose current degree < k) is counted and
  *     broadcast; edges incident to it are found by one narrow
  *     broadcast semi-join scan of the standing symmetric edge set (no
  *     shuffle of the edges, ever, inside the loop);
  *   - each surviving neighbor's degree is decremented by its count of
  *     removed neighbors (`loss`), a frontier-sized aggregate; degree
  *     rows of removed vertices are dropped. Per-round work is
  *     proportional to the FRONTIER's incident edges, not the graph;
  *   - the standing edge set is COMPACTED (both-endpoint anti-join,
  *     lineage cut) only when the removed-vertex buffer exceeds a
  *     quarter of the survivors, amortizing the scan shrink;
  *   - on convergence (empty frontier) the maintained degree relation
  *     IS the answer — degree within the surviving subgraph — so there
  *     is no final recompute pass at all.
  *
  * 100 TB design: EVERY broadcast in the delta round is row-bounded
  * before it ships (round-20 fix of the round-19 ADVICE hazard — the
  * old guard capped only the frontier's own rows, while `loss` and the
  * compaction's removed-id relation could approach the vertex set):
  *
  *   - `broadcast(frontier)` ships `frontierRows` ids;
  *   - `broadcast(loss)` is bounded WITHOUT counting it: every loss id
  *     is either a SURVIVING neighbor of a frontier vertex — and a
  *     frontier vertex has < k surviving neighbors BY DEFINITION of the
  *     frontier (`deg_in_core < k`), so at most (k−1)·frontierRows rows
  *     — or an already-removed, not-yet-compacted vertex, at most
  *     `removedBufRows` rows (both driver-known scalars);
  *   - the compaction's `broadcast(rem)` ships exactly `removedBufRows`
  *     ids, and switches to a plain (planner-chosen) join above the
  *     budget.
  *
  * A round whose frontier and loss broadcasts together —
  * `k·frontierRows + removedBufRows` rows — exceed `BroadcastFrontierMax`
  * falls back to one full-recompute round of the old shape
  * (key-partitioned aggregate + two hash semi-joins), which
  * simultaneously re-derives exact degrees — so the adaptive loop never
  * ships an unbounded broadcast. Counting the same round's compaction
  * too, the worst case is `k·frontierRows + 2·removedBufRows` rows; the
  * check does not bound that sum, but every single broadcast stays
  * ≤ `BroadcastFrontierMax`. Driver state stays one scalar per round.
  * Rounds are bounded by the peel cascade depth (O(n) worst case on a
  * path, which is why `maxRounds` throws loudly instead of emitting a
  * half-peeled core).
  */
object KCore {

  /** Broadcast-row budget for one delta round — frontier ids PLUS the
    * worst-case loss/compaction relations (see the object doc's bound);
    * above it the round falls back to full recompute (8-byte ids; 4M
    * rows ≈ 32 MB broadcast — comfortably under executor budgets while
    * covering any realistic cascade).
    */
  val BroadcastFrontierMax: Long = 4L << 20

  /** True when one delta round's frontier and loss broadcasts —
    * `k·frontierRows + removedBufRows` rows — fit the budget together;
    * the compaction's broadcast is bounded on its own (the object doc
    * gives the round's full worst case). Division form avoids overflow
    * for any `k`/row-count combination.
    */
  private[graph] def deltaBroadcastBudgetOk(frontierRows: Long, k: Int,
      removedBufRows: Long): Boolean =
    removedBufRows <= BroadcastFrontierMax &&
      frontierRows <= (BroadcastFrontierMax - removedBufRows) / k

  /** Rows per partition for the iterated relations — the loop scans
    * the standing deg/sym checkpoints several times per round, so
    * their partition count must track THEIR size (guide §2.2: fewer,
    * larger partitions), not the session's shuffle-partition count; a
    * 24k-row vertex relation spread over 32 partitions pays 32 task
    * launches per scan for microseconds of work each.
    */
  private val RowsPerPartition: Long = 1L << 16

  private def partsFor(rows: Long): Int =
    math.max(1L, math.min(graft.SessionTuning.MaxPartitions.toLong,
      (rows + RowsPerPartition - 1) / RowsPerPartition)).toInt

  /** Vertices of the k-core with their within-core degree.
    *
    * @param edges undirected edges `(src, dst)`; canonicalized (self-loops
    *   dropped, one row per unordered pair) defensively here.
    * @return `(id LONG, deg_in_core LONG)` — empty when the core is empty.
    */
  def run(edges: DataFrame, k: Int, maxRounds: Int = 100)(
      implicit spark: SparkSession): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    // Symmetrize once: degree of x = row count with src = x.
    var sym = Lineage.cut(PropertyGraph.bothWays(PropertyGraph.canonical(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))))
    var symRows = sym.count()
    // Maintained survivor degrees: degree of x within the graph minus
    // every vertex removed so far. The frontier (deg < k) and the
    // survivor set (deg >= k) are narrow FILTER VIEWS of this one
    // checkpointed relation — no per-round frontier materialization,
    // no anti-join.
    var deg = Lineage.cut(
      sym.groupBy("src").agg(count(lit(1)).as("deg_in_core"))
        .select(col("src").as("id"), col("deg_in_core"))
        .coalesce(partsFor(symRows)))
    // One 1-row aggregate per round yields both convergence counters
    // (the same bounded-by-contract collect as the Communities
    // convergence signature).
    def stats(): (Long, Long) = {
      val r = deg.agg(count(lit(1)),
        count(when(col("deg_in_core") < k, lit(1)))).head
      (r.getLong(0), r.getLong(1))
    }
    var (survivors, frontierRows) = stats()
    // Removed vertices not yet compacted out of `sym`.
    var removedBuf: Option[DataFrame] = None
    var removedBufRows = 0L
    var rounds = 0
    while (frontierRows > 0L && rounds < maxRounds) {
      val frontier = deg.filter(col("deg_in_core") < k).select("id")
      if (deltaBroadcastBudgetOk(frontierRows, k, removedBufRows)) {
        // Delta round: every join side that moves is frontier-sized.
        val dead = sym.join(broadcast(frontier).withColumnRenamed("id", "src"),
          Seq("src"), "left_semi")
        val loss = dead.groupBy("dst").agg(count(lit(1)).as("lost"))
          .select(col("dst").as("id"), col("lost"))
        deg = Lineage.cut(
          deg.filter(col("deg_in_core") >= k)
            .join(broadcast(loss), Seq("id"), "left")
            .select(col("id"),
              (col("deg_in_core") - coalesce(col("lost"), lit(0L)))
                .as("deg_in_core"))
            .coalesce(partsFor(survivors - frontierRows)))
        removedBuf = Some(removedBuf.map(_.unionAll(frontier)).getOrElse(frontier))
        removedBufRows += frontierRows
        // Amortized compaction keeps the per-round sym scan shrinking.
        if (removedBufRows > math.max(1024L, (survivors - frontierRows) / 4)) {
          val rem = Lineage.cut(removedBuf.get)
          // Budget-checked broadcast: `removedBufRows` is driver-known
          // exactly; above the budget the cut's MEASURED stats let the
          // planner pick the join (never an unbounded broadcast).
          val remB = if (removedBufRows <= BroadcastFrontierMax)
            broadcast(rem) else rem
          sym = Lineage.cut(
            sym.join(remB.withColumnRenamed("id", "src"),
                Seq("src"), "left_anti")
              .join(remB.withColumnRenamed("id", "dst"),
                Seq("dst"), "left_anti")
              .coalesce(partsFor(symRows)))
          symRows = sym.count()
          removedBuf = None
          removedBufRows = 0L
        }
      } else {
        // Full-recompute fallback (the pre-round-19 shape): compact,
        // re-derive exact degrees, never broadcast the huge frontier.
        removedBuf.foreach { rb =>
          val rem = Lineage.cut(rb)
          sym = Lineage.cut(
            sym.join(rem.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
              .join(rem.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
          removedBuf = None
          removedBufRows = 0L
        }
        val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("ok"))
        sym = Lineage.cut(
          sym.join(keep.withColumnRenamed("ok", "src"), Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("ok", "dst"), Seq("dst"), "left_semi"))
        deg = Lineage.cut(
          sym.groupBy("src").agg(count(lit(1)).as("deg_in_core"))
            .select(col("src").as("id"), col("deg_in_core")))
      }
      val s2 = stats()
      survivors = s2._1
      frontierRows = s2._2
      rounds += 1
    }
    if (frontierRows > 0L) throw new IllegalStateException(
      s"kCore($k): peeling did not reach a fixed point within $maxRounds " +
        s"rounds — refusing to emit a non-converged core")
    // The maintained relation is the answer: degree within the
    // surviving subgraph, survivors only.
    deg
  }
}
