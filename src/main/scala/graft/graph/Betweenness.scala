package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded Girvan-Newman edge betweenness (SURVEY §2.9 G2/G3/G7, §2.3 J4,
  * §2.4 A2), re-architected Spark-first from the reference's
  * GraphFrames-based init step (`graph_tools/graph_tools.py:74-286`):
  *
  *   - The reference collected ALL vertex ids to the driver as landmarks
  *     (`main.py:254`) and ran batched Pregel `shortestPaths` — O(V) driver
  *     memory, fatal at scale (SURVEY §7.5.3). Here there is no
  *     separate distance relation: the path chain below is itself a
  *     landmark-free bounded BFS, `maxLen - 1` self-joins of the
  *     adjacency DataFrame, entirely distributed.
  *   - Motif enumeration (`g.find("(a)-[e0]->(n0);...")`,
  *     `graph_tools/graph_tools.py:162-181, 220-232`) becomes a join chain
  *     over the symmetrized edges; the path is carried as ONE
  *     `array<struct<src,dst>>` column instead of the reference's ragged
  *     wide columns, which deletes the pad-missing-columns operator
  *     (`spark_manager/spark_manager.py:411-453`, SURVEY §7.1) and turns
  *     betweenness into `explode + groupBy struct`.
  *   - Paths are pruned to shortest length (J4,
  *     `graph_tools/graph_tools.py:202-210`) by an anti-join against
  *     the pairs reached at a shorter level.
  *   - ONE path per ordered endpoint pair is kept, as in the reference's
  *     `dropDuplicates(["a","z"])` (`graph_tools/graph_tools.py:208`) —
  *     but where the reference kept an ARBITRARY survivor, we keep the
  *     lexicographically smallest intermediate sequence, making the result
  *     deterministic and oracle-checkable.
  *   - Deviation, documented: `find_shortest_paths_from_motifs`
  *     (`graph_tools/graph_tools.py:196-197`) re-assigns the filtered
  *     `sp_lengths` inside its loop, so after the first (longest-length)
  *     pass every shorter length filters an already-emptied frame and
  *     contributes nothing. We implement the evident intent — every
  *     length 1..maxLen contributes its pairs — rather than the bug.
  *
  * Betweenness of a directed edge struct `(src,dst)` = number of chosen
  * shortest paths it appears in, over all ordered vertex pairs at distance
  * ≤ `maxLen` (`graph_tools/graph_tools.py:270-286`). For `maxLen` ≤ 2
  * (one intermediate) the lexicographic-min tie-break picks the same
  * intermediate in both directions, so betweenness(u,v) ==
  * betweenness(v,u); for `maxLen` ≥ 3 the min over FORWARD mid sequences
  * is not reversal-invariant and per-orientation counts may differ on
  * graphs with tied shortest paths.
  *
  * Hub-skew: all intermediate expansion joins take the `maxMidDegree`-
  * capped adjacency ([[Skew.cappedMidAdjacency]]) — with a cap, paths
  * THROUGH hubs above it are excluded, and a pair's distance is its
  * capped distance. `None` is bit-identical to exact.
  */
object Betweenness {

  /** Walk seeds and one motif-join extension hop (the join-chain
    * statement of the reference's `g.find("(a)-[e0]->(n0);…")` motif
    * step). A walk is FULLY determined by its endpoints plus
    * intermediate sequence, so these carry the zero-padded tie-break
    * KEY STRING (",<width-digit mid>" per hop — all comparisons stay
    * element-wise numeric order, every group's keys share one shape)
    * instead of an edge-struct path array: every expression in the
    * extension and the survivor aggregate is a scalar builtin
    * (concat/lpad/min), nothing drops out of whole-stage codegen or the
    * hash-aggregate path, and the shuffles move one string per walk.
    * The pad width is the DIGIT COUNT OF THE LARGEST VERTEX ID (round
    * 20; was a fixed 19): any fixed width ≥ that yields the identical
    * element-wise numeric order and hence the identical winner, while
    * the candidate relation — the chain's biggest shuffle — and every
    * min() comparison shrink ~3x (7-digit ids: 8 vs 20 bytes per hop).
    * One scalar action derives the width; non-negative ids are asserted
    * (a negative id's "-" would not zero-pad into numeric order — the
    * old fixed width silently mis-ordered them too). The path array is parsed back out
    * of the winning key once per surviving pair ([[pathFromKey]]).
    */
  private def keyedSeeds(adj: DataFrame): DataFrame =
    adj.select(col("src").as("a"), col("dst").as("z"),
      lit("").as("pathkey"))

  private def extendKeyed(p: DataFrame, midAdj: DataFrame,
      width: Int): DataFrame =
    p.select(col("a"), col("z").as("mid"), col("pathkey"))
      .join(midAdj.select(col("src").as("mid"), col("dst").as("z")), Seq("mid"))
      .select(col("a"), col("z"),
        concat(col("pathkey"), lit(","),
          lpad(col("mid").cast("string"), width, "0")).as("pathkey"))

  /** Digits of the largest vertex id — the minimal zero-pad width that
    * keeps concatenated-key order equal to element-wise numeric order.
    * One 1-row action on the (cached) adjacency.
    */
  private def keyWidth(adj: DataFrame): Int = {
    val r = adj.agg(max(greatest(col("src"), col("dst"))),
      min(least(col("src"), col("dst")))).head
    if (r.isNullAt(0)) 1 // empty graph: no walks, any width works
    else {
      require(r.getLong(1) >= 0L,
        s"betweenness tie-break needs non-negative vertex ids, " +
          s"found ${r.getLong(1)}")
      math.max(r.getLong(0).toString.length, 1)
    }
  }

  /** The pruned candidate union: all tied shortest paths per ordered
    * pair at distance ≤ `maxLen`, keyed for the tie-break — one level
    * chain that carries its own distances.
    *
    * Level `d` extends level `d-1` by one hop and drops the walks whose
    * pair `(a, z)` was reached at a shorter level (or is `a == z`).
    * Every prefix of a shortest path is itself a shortest path between
    * its endpoints — a length-`d` walk whose endpoints sit at distance
    * `d` cannot pass through a prefix pair `(a, m_k)` at distance < `k`,
    * or splicing the shorter prefix route onto the suffix would beat
    * `d` (the splice stays inside the capped walk algebra: first hop
    * uncapped, extensions through the capped mid-adjacency, so the
    * argument holds verbatim under a hub cap). So extending only the
    * shortest `d-1`-paths reaches every shortest `d`-path; a walk whose
    * pair no shorter level reached is at distance exactly `d`; and a
    * walk that revisits a vertex ends on a pair already reached or on
    * `a == z`. Level `d`'s motif join fans out from the shortest
    * `d-1`-paths only — |pairs at distance d-1| × tie multiplicity ×
    * cap — and each pair keeps ALL its tied shortest paths, so the
    * lexicographic-min tie-break — and the oracle replay — see the
    * complete candidate set.
    */
  private def shortestPathCandidates(g: PropertyGraph, maxLen: Int,
      maxMidDegree: Option[Long], width: Int): DataFrame = {
    val adj = g.adjacency
    val midAdj = Skew.cappedMidAdjacency(adj, maxMidDegree)
    // Level 1: direct non-loop edges are exactly the distance-1 pairs.
    var level = keyedSeeds(adj).filter(col("a") =!= col("z"))
    var candidates = level
    for (_ <- 2 to maxLen) {
      level = extendKeyed(level, midAdj, width)
        .filter(col("a") =!= col("z"))
        .join(candidates.select("a", "z"), Seq("a", "z"), "left_anti")
      // Level d feeds both the candidate union and level d+1's
      // extension; cutting it here was MEASURED SLOWER (sf0.1 k=3,
      // on the former BFS-plus-paths chain: 13.0 -> 19.3 s): eager
      // block-store materialization of multi-million-row levels loses
      // to replaying codegen'd joins.
      candidates = candidates.unionByName(level)
    }
    candidates
  }

  /** One deterministic shortest path per ordered pair at distance ≤
    * `maxLen`: `(a, z, path)`.
    *
    * Precondition: vertex ids must be non-negative longs. The tie-break
    * key zero-pads ids to a fixed width, which orders correctly only
    * for non-negative values; an edge with a negative endpoint fails
    * with `IllegalArgumentException`.
    */
  def shortestPaths(g: PropertyGraph, maxLen: Int,
      maxMidDegree: Option[Long] = None): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val width = keyWidth(g.adjacency)
    val candidates = shortestPathCandidates(g, maxLen, maxMidDegree, width)
    // Deterministic survivor: lexicographically smallest intermediate
    // sequence (zero-padded so string order == numeric order; within
    // a group every candidate has the same length — the pair's
    // shortest distance — so the concatenated-key order is exactly
    // element-wise numeric order). `min(string)` keeps the aggregate
    // buffer scalar: a `min(mids)`/`min_by(path, key)` array-typed
    // buffer measurably drops the aggregate out of the hash path.
    candidates.groupBy("a", "z")
      .agg(min(col("pathkey")).as("pathkey"))
      .select(col("a"), col("z"),
        pathFromKey(col("a"), col("pathkey"), col("z"), maxLen, width)
          .as("path"))
  }

  /** Parse the winning tie-break key back into the edge-struct path —
    * a static CASE over the (bounded, known) intermediate count with
    * `substring`/`cast` arms: plain codegen expressions, where a
    * `split`+`transform`/`zip_with` reconstruction would evaluate
    * interpreted per row (measured 2.3x on the sf0.1 k=3 chain).
    */
  private def pathFromKey(a: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column,
      z: org.apache.spark.sql.Column, maxLen: Int, width: Int)
      : org.apache.spark.sql.Column = {
    // Each hop's key chunk is "," + `width` digits = width + 1 chars.
    val chunk = width + 1
    def mid(i: Int) = substring(key, chunk * i + 2, width).cast("bigint")
    def arm(k: Int): org.apache.spark.sql.Column = {
      val verts = (a +: (0 until k).map(mid)) :+ z
      array(verts.sliding(2).map(p =>
        struct(p(0).as("src"), p(1).as("dst"))).toSeq: _*)
    }
    (0 until maxLen - 1).foldRight(arm(maxLen - 1)) { (k, rest) =>
      when(length(key) === chunk * k, arm(k)).otherwise(rest)
    }
  }

  /** Betweenness per directed edge struct:
    * `(edges: struct<src,dst>, betweenness: bigint)` — the reference's
    * output schema (`graph_tools/graph_tools.py:281-285`), consumed by the
    * struct-field-key joins in edge deletion (`main.py:130-134`).
    * Vertex ids must be non-negative longs, as for [[shortestPaths]].
    */
  def run(g: PropertyGraph, maxLen: Int, maxMidDegree: Option[Long] = None)(
      implicit spark: SparkSession): DataFrame =
    shortestPaths(g, maxLen, maxMidDegree)
      .select(explode(col("path")).as("edges"))
      .groupBy("edges")
      .agg(count(lit(1)).as("betweenness"))
}
