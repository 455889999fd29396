package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Newman–Girvan modularity of an arbitrary `(id, label)` labeling over
  * a canonical undirected edge set — the standard quality metric that
  * lets the engine COMPARE its community detectors quantitatively (HGN
  * deletion communities, connected components, label propagation,
  * k-core shells) instead of only producing them: reference communities
  * at `graph_tools/graph_tools.py:519-540` are exactly such an
  * `(id, label)` relation.
  *
  * Definition (Newman & Girvan 2004): with `m` undirected edges,
  * `e_c` = edges with BOTH endpoints labeled `c`, and
  * `d_c` = sum of degrees of vertices labeled `c`,
  *
  *   Q = Σ_c ( e_c/m − (d_c/2m)² ) = Σ_c (4·m·e_c − d_c²) / (4m²)
  *
  * Fixed-point convention (what makes it hash-gateable): all terms are
  * exact integers; the engine emits `q_micro = (num · 10⁶) div (4m²)`
  * with the numerator summed in DECIMAL(38,0) (DuckDB: HUGEINT). Both
  * Spark's `div` and DuckDB's integer `//` truncate toward zero —
  * verified including NEGATIVE Q (an all-singleton labeling has
  * `num = −Σ d_v² < 0` on any graph with edges), so the sign path is
  * part of the gated contract, not an untested branch.
  *
  * Overflow bound: `|num|·10⁶ ≤ 4m²·10⁶` stays inside DECIMAL(38,0)
  * for `m ≤ 1.5·10¹⁵` edges — beyond any 100 TB corpus; Spark (ANSI
  * off) would null on decimal overflow rather than wrap, and the m=0
  * division guard raise_errors loudly per the engine convention.
  *
  * 100 TB design: two broadcast-sized aggregates. `terms` is one
  * equi-join of the edge list with the label relation on each endpoint
  * (label relation is vertex-cardinality — co-partitioned hash join),
  * a map-side-combinable per-label count, and a vertex-cardinality
  * degree aggregate reusing the same symmetric-edge exchange shape as
  * [[Triangles]]; `score` then reduces the per-label relation (at most
  * |V| rows, usually far fewer) to ONE row — no shuffle wider than the
  * label cardinality, and the scalar `m` travels as a 1-row broadcast
  * cross join, never a driver-side collect.
  */
object Modularity {

  /** Per-community exact integer terms `(label, e_intra, d_tot)` for
    * every distinct label in `labels` (communities with no internal
    * edges included with `e_intra = 0`; isolated vertices contribute
    * `d_tot` 0). `edges` must be canonical (`src < dst`, distinct);
    * `labels` must cover one row per vertex.
    */
  def terms(labels: DataFrame, edges: DataFrame): DataFrame = {
    val lsrc = labels.select(col("id").as("src"), col("label").as("lsrc"))
    val ldst = labels.select(col("id").as("dst"), col("label").as("ldst"))
    val intra = edges.select(col("src"), col("dst"))
      .join(lsrc, Seq("src")).join(ldst, Seq("dst"))
      .filter(col("lsrc") === col("ldst"))
      .groupBy(col("lsrc").as("label"))
      .agg(count(lit(1)).as("e_intra"))
    val deg = PropertyGraph.bothWays(edges)
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val dTot = labels.join(deg, Seq("id"), "left")
      .groupBy(col("label"))
      .agg(sum(coalesce(col("deg"), lit(0L))).as("d_tot"))
    dTot.join(intra, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"),
        col("d_tot"))
  }

  /** One-row exact summary of a labeling's quality:
    * `(m, n_communities, e_intra_total, q_micro)`.
    */
  def score(labels: DataFrame, edges: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val mDf = edges.agg(count(lit(1)).as("m"))
    terms(labels, edges)
      .crossJoin(mDf) // 1-row side — broadcast nested loop, no shuffle
      .select(col("label"), col("e_intra"), col("d_tot"), col("m"),
        (col("m").cast(d38) * lit(4) * col("e_intra").cast(d38) -
          col("d_tot").cast(d38) * col("d_tot").cast(d38)).as("num_c"))
      .agg(max(col("m")).as("m"),
        count(lit(1)).as("n_communities"),
        sum(col("e_intra")).as("e_intra_total"),
        sum(col("num_c")).as("num"))
      .select(col("m"), col("n_communities"), col("e_intra_total"),
        expr(
          """if(m = 0, raise_error('modularity undefined on an empty edge set (m = 0)'),
            |CAST((num * 1000000) div
            |  (4 * CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))) AS BIGINT))"""
            .stripMargin.replaceAll("\n", " ")).as("q_micro"))
  }
}
