package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph._
import graft.ml.Cosine

/** Oracle-checked coverage of the HGN graph operator family (SURVEY §2.9
  * G1-G8 plus the join/agg shapes J2-J9, A1-A4, F2-F5) over a graph DERIVED
  * from the driver's parquet test data, so every operator gets a DuckDB
  * oracle (VERDICT round 1, "Next round" items 1-5).
  *
  * Derived graph: vertices = `part`; an edge connects two parts that
  * co-occur in some order, restricted to pairs in the same `l_partkey % 10`
  * class. The restriction (a) keeps the 2-hop oracle SQL tractable in
  * DuckDB at sf0.01 and (b) guarantees ≥10 connected components so the
  * community queries are non-trivial. Edge "similarity" is the closed form
  * of cosine over one-hot feature encodings: the fraction of matching part
  * features ([[Cosine.featureMatchRatio]]) — same semantic as the
  * reference's dummy-vector cosine (`graph_tools/graph_tools.py:35-72`),
  * SQL-expressible.
  *
  * Thresholds are chosen so every predicate branch fires on the sf0.01
  * data (keepit splits 174/11260, edge weights straddle `maxEdgeWeight`,
  * betweenness straddles `betweennessThres`).
  */
object GraphQueries {

  // Algorithm parameters (reference defaults from confs/quakers.yml:58-65
  // except where the derived graph's distributions need a different split).
  private val RL1 = 0.5
  private val RL2 = 0.85
  private val FMA = 0.3
  private val MAXW = 0.2
  private val BTHRES = 16
  private val MINCOMP = 4
  private val SUPPORT = 2
  private val PR_ITERS = 3
  private val LPA_ITERS = 3
  private val PR_SCALE = 1000000000000L

  /** k for the g13 k-core query (and its oracle): high enough that the
    * peel cascades for many rounds on the co-purchase graph (median
    * degree ~11), low enough that the core stays nonempty (k=12 empties
    * it — measured on both sf0.01 and sf0.1). Declared BEFORE `queries`:
    * the oracle SQL interpolates it at object init, and a forward
    * reference would silently interpolate 0.
    */
  private val KCORE_K = 8

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // Session-scoped cache of the derived-graph intermediates shared by
  // g03-g07 (each would otherwise recompute the 2-hop neighborhood chain
  // from scratch — measured 4x slower end to end at sf0.1). Storage and
  // eviction live in [[SessionCache]] (shared with the pipeline catalog).
  private[queries] def evict(s: SparkSession): Unit = SessionCache.evict(s)
  private def cached(s: SparkSession, dir: String, key: String)(
      f: => DataFrame): DataFrame = SessionCache(s, dir, key)(f)
  private[queries] def cachedEntryCount(s: SparkSession): Int =
    SessionCache.entryCount(s)

  // ---------------------------------------------------------------- Spark side

  /** Co-purchase edges among same-mod-10 parts, canonical src < dst. */
  def derivedEdges(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "edges") {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
      val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
      a.join(b, Seq("ok"))
        .filter(col("src") < col("dst") && col("src") % 10 === col("dst") % 10)
        .select("src", "dst")
        .distinct()
    }

  /** Cached r-metrics, similarity, and betweenness tables per (session,
    * sf dir) — the shared inputs of g03/g05/g06/g07.
    */
  private def edgesRCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "edgesR")(RMetrics.run(derivedGraph(s, dir), RL1, RL2))
  private def simsCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "sims")(similarities(s, dir))
  private def btwCached(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    cached(s, dir, "btw")(Betweenness.run(derivedGraph(s, dir), maxLen = 2))
  }
  // Input for g06/g07 (edge deletion): the weights table they consume.
  // g05 itself always computes weights fresh — it MEASURES that operator.
  private def weightsCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "weights")(
      EdgeWeights.run(edgesRCached(s, dir), simsCached(s, dir), FMA))

  def derivedGraph(s: SparkSession, dir: String): PropertyGraph =
    PropertyGraph(
      t(s, dir, "part").select(col("p_partkey").as("id")),
      derivedEdges(s, dir))

  /** Cached components of the derived edge graph. g08 computes CC fresh
    * (it MEASURES that operator); sink-side consumers (s03) reuse this,
    * the same shared-intermediate pattern as `edgesRCached`/`pairsCached`.
    */
  private[queries] def componentsCached(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    cached(s, dir, "components") {
      val e = derivedEdges(s, dir)
      val v = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      Communities.connectedComponents(PropertyGraph(v, e))
    }
  }

  /** Per-edge similarity: fraction of equal part features (closed-form
    * one-hot cosine; see [[Cosine.featureMatchRatio]]).
    */
  def similarities(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val ps = p.select(col("p_partkey").as("src"), col("p_brand").as("sb"),
      col("p_type").as("st"), col("p_size").as("ss"))
    val pd = p.select(col("p_partkey").as("dst"), col("p_brand").as("db"),
      col("p_type").as("dt"), col("p_size").as("ds"))
    derivedEdges(s, dir).join(ps, Seq("src")).join(pd, Seq("dst"))
      .select(col("src"), col("dst"),
        Cosine.featureMatchRatio(Seq(
          (col("sb"), col("db")), (col("st"), col("dt")), (col("ss"), col("ds"))))
          .as("similarity"))
  }

  /** Co-purchase edges appearing in ≥ SUPPORT distinct orders (a sparser
    * graph whose components have varied sizes — used by the community
    * filter query).
    */
  def supportEdges(s: SparkSession, dir: String): DataFrame =
    // Session-cached like `derivedEdges`: g09 measures the community
    // FILTER composite, not this lineitem self-join input derivation.
    cached(s, dir, "supportEdges") {
      // Pre-distinct (order, part): an order listing the same part on two
      // line items would otherwise duplicate its pair rows through the
      // self-join. With unique (ok, src, dst) rows the support count is a
      // plain count(*) — one aggregation instead of a distinct-inside-agg
      // pass over the joined pairs. Same result as count(DISTINCT ok).
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
      val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
      a.join(b, Seq("ok"))
        .filter(col("src") < col("dst") && col("src") % 10 === col("dst") % 10)
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= SUPPORT)
        .select("src", "dst")
    }

  def supportGraph(s: SparkSession, dir: String): PropertyGraph = {
    val e = supportEdges(s, dir)
    val v = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    PropertyGraph(v, e)
  }

  // ---------------------------------------------------------------- oracle SQL

  /** Shared DuckDB prelude mirroring the derivations above (shared with
    * [[SourceMlQueries]] for the sink-roundtrip oracles). */
  private[queries] val EDGES = """
    |edges AS (
    |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    |  FROM lineitem a JOIN lineitem b
    |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    |  WHERE a.l_partkey % 10 = b.l_partkey % 10
    |),
    |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
    |n1 AS (SELECT DISTINCT src AS id, dst AS nb FROM sym)""".stripMargin

  private val N2 = """
    |n2 AS (
    |  SELECT DISTINCT id, nb FROM (
    |    SELECT a.id AS id, b.nb AS nb FROM n1 a JOIN n1 b ON a.nb = b.id
    |    UNION ALL SELECT id, nb FROM n1
    |  ) WHERE id <> nb
    |)""".stripMargin

  private val DEGREES = """
    |d1 AS (SELECT id, count(*) AS c FROM n1 GROUP BY id),
    |d2 AS (SELECT id, count(*) AS c FROM n2 GROUP BY id)""".stripMargin

  private val COMMON = """
    |cn1 AS (SELECT e.src, e.dst, count(*) AS c
    |  FROM edges e JOIN n1 x ON x.id = e.src JOIN n1 y ON y.id = e.dst AND y.nb = x.nb
    |  WHERE x.nb <> e.src AND x.nb <> e.dst GROUP BY e.src, e.dst),
    |cn2rows AS (SELECT e.src, e.dst, x.nb
    |  FROM edges e JOIN n2 x ON x.id = e.src JOIN n2 y ON y.id = e.dst AND y.nb = x.nb
    |  WHERE x.nb <> e.src AND x.nb <> e.dst),
    |cn2 AS (SELECT src, dst, count(*) AS c FROM cn2rows GROUP BY src, dst)""".stripMargin

  private val RMETRICS = s"""
    |rmetrics AS (
    |  SELECT e.src, e.dst,
    |    CAST(COALESCE(cn2r.c, 0) AS BIGINT) AS cc2,
    |    COALESCE(cn1r.c, 0) / CAST(d1s.c AS DOUBLE) AS r11,
    |    COALESCE(cn1r.c, 0) / CAST(d1d.c AS DOUBLE) AS r12,
    |    COALESCE(cn2r.c, 0) / CAST(d2s.c AS DOUBLE) AS r21,
    |    COALESCE(cn2r.c, 0) / CAST(d2d.c AS DOUBLE) AS r22
    |  FROM edges e
    |  JOIN d1 d1s ON d1s.id = e.src JOIN d1 d1d ON d1d.id = e.dst
    |  JOIN d2 d2s ON d2s.id = e.src JOIN d2 d2d ON d2d.id = e.dst
    |  LEFT JOIN cn1 cn1r ON cn1r.src = e.src AND cn1r.dst = e.dst
    |  LEFT JOIN cn2 cn2r ON cn2r.src = e.src AND cn2r.dst = e.dst
    |),
    |rkeep AS (
    |  SELECT src, dst, cc2, r11, r12, r21, r22,
    |    (r11 > $RL1 OR r12 > $RL1 OR r21 > $RL2 OR r22 > $RL2) AS keepit
    |  FROM rmetrics
    |)""".stripMargin

  private val SIMS = """
    |sims AS (
    |  SELECT e.src, e.dst,
    |    ((CASE WHEN ps.p_brand = pd.p_brand THEN 1 ELSE 0 END) +
    |     (CASE WHEN ps.p_type  = pd.p_type  THEN 1 ELSE 0 END) +
    |     (CASE WHEN ps.p_size  = pd.p_size  THEN 1 ELSE 0 END)) / CAST(3 AS DOUBLE) AS similarity
    |  FROM edges e JOIN part ps ON ps.p_partkey = e.src JOIN part pd ON pd.p_partkey = e.dst
    |)""".stripMargin

  private val WEIGHTS = s"""
    |cne AS (
    |  SELECT k.src AS nb_src, k.dst AS nb_dst, c.nb AS cn
    |  FROM (SELECT src, dst FROM rkeep WHERE NOT keepit) k
    |  JOIN cn2rows c ON c.src = k.src AND c.dst = k.dst
    |),
    |simvals AS (
    |  SELECT DISTINCT a.nb_src AS src, a.nb_dst AS dst, s.similarity
    |  FROM cne a JOIN sims s ON s.src = a.cn
    |  JOIN cne b ON b.nb_src = a.nb_src AND b.nb_dst = a.nb_dst AND b.cn = s.dst
    |),
    |weights AS (
    |  SELECT src, dst,
    |    COUNT(CASE WHEN similarity >= $FMA THEN similarity END) / CAST(COUNT(similarity) AS DOUBLE) AS edge_weight
    |  FROM simvals GROUP BY src, dst
    |)""".stripMargin

  // n1's columns are (id, nb) = the distinct symmetrized adjacency:
  // s1.id -> path start a, s1.nb = s2.id -> the intermediate, s2.nb -> z.
  private val BTW = """
    |p2 AS (
    |  SELECT s1.id AS a, s2.nb AS z, MIN(s1.nb) AS m
    |  FROM n1 s1 JOIN n1 s2 ON s1.nb = s2.id
    |  WHERE s1.id <> s2.nb
    |    AND NOT EXISTS (SELECT 1 FROM n1 e WHERE e.id = s1.id AND e.nb = s2.nb)
    |  GROUP BY s1.id, s2.nb
    |),
    |pathedges AS (
    |  SELECT id AS src, nb AS dst FROM n1
    |  UNION ALL SELECT a AS src, m AS dst FROM p2
    |  UNION ALL SELECT m AS src, z AS dst FROM p2
    |),
    |btw AS (SELECT src, dst, count(*) AS betweenness FROM pathedges GROUP BY src, dst)""".stripMargin

  /** g17 hub cap for the k=3 betweenness: small enough to BITE at every
    * test SF (213 of 2,000 vertices exceed it at sf0.01, 2,732 of
    * 20,000 at sf0.1 — measured), so the capped-mid path algebra is
    * genuinely exercised, while Σdeg³ fan-out stays bounded by |E|·cap².
    */
  private val MAXMID3 = 16L

  /** k=3 twin of [[BTW]] with the hub cap (round-16 VERDICT ask #7):
    * `cm` is the capped mid-adjacency (first hops never capped —
    * [[graft.graph.Skew.cappedMidAdjacency]] semantics), distances and
    * walks extend through `cm` only, every length's pairs join their
    * exact-distance set, and the survivor per ordered pair is the
    * lexicographically smallest zero-padded intermediate sequence. The
    * engine ([[graft.graph.Betweenness.shortestPaths]]) has no distance
    * table; its anti-join against pairs reached at a shorter level
    * yields the same candidate set. Degenerate walks (revisiting an
    * endpoint) need no explicit filter: their endpoints are always at a
    * shorter distance, so the exact-distance join drops them.
    */
  private val BTW3 = s"""
    |cm AS (
    |  SELECT n.id AS src, n.nb AS dst FROM n1 n
    |  JOIN (SELECT id FROM (SELECT id, count(*) AS c FROM n1 GROUP BY id)
    |        WHERE c <= $MAXMID3) al ON al.id = n.id
    |),
    |w2 AS (
    |  SELECT f.id AS a, f.nb AS m, c.dst AS z
    |  FROM n1 f JOIN cm c ON c.src = f.nb
    |  WHERE f.id <> c.dst
    |),
    |d2p AS (
    |  SELECT DISTINCT a, z FROM w2 w
    |  WHERE NOT EXISTS (SELECT 1 FROM n1 e WHERE e.id = w.a AND e.nb = w.z)
    |),
    |w3 AS (
    |  SELECT w.a, w.m AS m1, w.z AS m2, c.dst AS z
    |  FROM w2 w JOIN cm c ON c.src = w.z
    |  WHERE w.a <> c.dst
    |),
    |d3p AS (
    |  SELECT DISTINCT d.a, c.dst AS z
    |  FROM d2p d JOIN cm c ON c.src = d.z
    |  WHERE d.a <> c.dst
    |    AND NOT EXISTS (SELECT 1 FROM n1 e WHERE e.id = d.a AND e.nb = c.dst)
    |    AND NOT EXISTS (SELECT 1 FROM d2p x WHERE x.a = d.a AND x.z = c.dst)
    |),
    |p2c AS (
    |  SELECT w.a, w.z, MIN(w.m) AS m
    |  FROM w2 w JOIN d2p d ON d.a = w.a AND d.z = w.z
    |  GROUP BY w.a, w.z
    |),
    |p3key AS (
    |  SELECT w.a, w.z,
    |    MIN(lpad(CAST(w.m1 AS VARCHAR), 19, '0') || ',' ||
    |        lpad(CAST(w.m2 AS VARCHAR), 19, '0')) AS k
    |  FROM w3 w JOIN d3p d ON d.a = w.a AND d.z = w.z
    |  GROUP BY w.a, w.z
    |),
    |p3c AS (
    |  SELECT a, z, CAST(substr(k, 1, 19) AS BIGINT) AS m1,
    |    CAST(substr(k, 21, 19) AS BIGINT) AS m2
    |  FROM p3key
    |),
    |pe3 AS (
    |  SELECT id AS src, nb AS dst FROM n1
    |  UNION ALL SELECT a AS src, m AS dst FROM p2c
    |  UNION ALL SELECT m AS src, z AS dst FROM p2c
    |  UNION ALL SELECT a AS src, m1 AS dst FROM p3c
    |  UNION ALL SELECT m1 AS src, m2 AS dst FROM p3c
    |  UNION ALL SELECT m2 AS src, z AS dst FROM p3c
    |),
    |btw3 AS (SELECT src, dst, count(*) AS betweenness FROM pe3 GROUP BY src, dst)""".stripMargin

  private val SUPEDGES = s"""
    |sedges AS (
    |  SELECT src, dst FROM (
    |    SELECT a.l_partkey AS src, b.l_partkey AS dst, count(DISTINCT a.l_orderkey) AS sup
    |    FROM lineitem a JOIN lineitem b
    |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    |    WHERE a.l_partkey % 10 = b.l_partkey % 10
    |    GROUP BY 1, 2) WHERE sup >= $SUPPORT
    |),
    |ssym AS (SELECT src, dst FROM sedges UNION ALL SELECT dst AS src, src AS dst FROM sedges)""".stripMargin

  // ---------------------------------------------------------------- queries

  val queries: Seq[QueryDef] = Seq(

    // ---- G1 + scans: the derived edge table itself (also pins down the
    // graph every other query builds on).
    QueryDef(
      "g01_derived_edges",
      s"WITH $EDGES SELECT src, dst FROM edges") { (s, dir) =>
      derivedEdges(s, dir)
    },

    // ---- G6 + J3/P6: lvl-1/lvl-2 neighborhood sizes for EVERY vertex,
    // isolated vertices backfilled with 0 (full outer join shape).
    QueryDef(
      "g02_neighborhoods",
      s"""WITH $EDGES, $N2
         |SELECT v.id,
         |  COALESCE(c1.c, 0) AS count1,
         |  COALESCE(c2.c, 0) AS count2
         |FROM (SELECT p_partkey AS id FROM part) v
         |LEFT JOIN (SELECT id, count(*) AS c FROM n1 GROUP BY id) c1 ON v.id = c1.id
         |LEFT JOIN (SELECT id, count(*) AS c FROM n2 GROUP BY id) c2 ON v.id = c2.id""".stripMargin) {
      (s, dir) =>
        val g = derivedGraph(s, dir)
        Neighborhoods.neighbors(g, 1)
          .select(col("id"), col("count").as("count1"))
          .join(Neighborhoods.neighbors(g, 2)
            .select(col("id"), col("count").as("count2")), Seq("id"))
    },

    // ---- F2-F5 + J2: per-edge r-metrics and the keep-edge decision.
    QueryDef(
      "g03_r_metrics",
      s"""WITH $EDGES, $N2, $DEGREES, $COMMON, $RMETRICS
         |SELECT src, dst, cc2, r11, r12, r21, r22, keepit FROM rkeep""".stripMargin) {
      (s, dir) =>
        edgesRCached(s, dir)
          .select(col("src"), col("dst"),
            size(col("common_neighbors")).cast("long").as("cc2"),
            col("r11"), col("r12"), col("r21"), col("r22"), col("keepit"))
    },

    // ---- G2/G3/G7 + J4 + A2: bounded Girvan-Newman betweenness with the
    // deterministic one-path-per-pair tie-break (min intermediate).
    QueryDef(
      "g04_betweenness",
      s"""WITH $EDGES, $BTW
         |SELECT src, dst, betweenness FROM btw""".stripMargin) { (s, dir) =>
      btwCached(s, dir)
        .select(col("edges.src").as("src"), col("edges.dst").as("dst"),
          col("betweenness"))
    },

    // ---- J5 (right outer) + J6 (5-key) + A3: edge weights from
    // common-neighbor similarities.
    QueryDef(
      "g05_edge_weights",
      s"""WITH $EDGES, $N2, $DEGREES, $COMMON, $RMETRICS, $SIMS, $WEIGHTS
         |SELECT src, dst, edge_weight FROM weights""".stripMargin) { (s, dir) =>
      EdgeWeights.run(edgesRCached(s, dir), simsCached(s, dir), FMA)
    },

    // ---- J7 (struct-field keys) + P4 (compound predicate): edges to
    // delete, both orientations, no dedup (reference main.py:115-141).
    QueryDef(
      "g06_edges_to_delete",
      s"""WITH $EDGES, $N2, $DEGREES, $COMMON, $RMETRICS, $SIMS, $WEIGHTS, $BTW
         |SELECT src, dst FROM (
         |  SELECT w.src, w.dst, w.edge_weight, b.betweenness
         |  FROM weights w JOIN btw b ON w.src = b.src AND w.dst = b.dst
         |  UNION ALL
         |  SELECT w.src, w.dst, w.edge_weight, b.betweenness
         |  FROM weights w JOIN btw b ON w.src = b.dst AND w.dst = b.src
         |) WHERE edge_weight < $MAXW OR (edge_weight >= $MAXW AND betweenness > $BTHRES)""".stripMargin) {
      (s, dir) =>
        HgnPipeline.edgesToDelete(weightsCached(s, dir), btwCached(s, dir),
          MAXW, BTHRES)
    },

    // ---- G8 + J8: the edge set after one full HGN deletion round
    // (anti-join + keepit re-add; multiset semantics preserved).
    QueryDef(
      "g07_iteration_edges",
      s"""WITH $EDGES, $N2, $DEGREES, $COMMON, $RMETRICS, $SIMS, $WEIGHTS, $BTW,
         |del AS (
         |  SELECT src, dst FROM (
         |    SELECT w.src, w.dst, w.edge_weight, b.betweenness
         |    FROM weights w JOIN btw b ON w.src = b.src AND w.dst = b.dst
         |    UNION ALL
         |    SELECT w.src, w.dst, w.edge_weight, b.betweenness
         |    FROM weights w JOIN btw b ON w.src = b.dst AND w.dst = b.src
         |  ) WHERE edge_weight < $MAXW OR (edge_weight >= $MAXW AND betweenness > $BTHRES)
         |)
         |SELECT src, dst FROM (
         |  SELECT e.src, e.dst FROM edges e
         |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.src = e.src AND d.dst = e.dst)
         |    AND NOT EXISTS (SELECT 1 FROM del d WHERE d.src = e.dst AND d.dst = e.src)
         |  UNION ALL
         |  SELECT src, dst FROM rkeep WHERE keepit
         |)""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val g = derivedGraph(s, dir)
      val edgesR = edgesRCached(s, dir)
      val toDelete = HgnPipeline.edgesToDelete(weightsCached(s, dir),
        btwCached(s, dir), MAXW, BTHRES)
      HgnPipeline.deleteEdges(g, toDelete, edgesR).edges
    },

    // ---- G4: connected components (GraphX Pregel) vs a recursive-CTE
    // min-reachable-id oracle. GraphX labels with the component's lowest
    // vertex id, which is exactly what the CTE computes.
    QueryDef(
      "g08_components",
      s"""WITH RECURSIVE $EDGES,
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT s.dst AS id, r.r FROM reach r JOIN sym s ON s.src = r.id
         |)
         |SELECT id, MIN(r) AS component FROM reach GROUP BY id""".stripMargin) {
      (s, dir) =>
        implicit val spark: SparkSession = s
        val e = derivedEdges(s, dir)
        val v = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
        Communities.connectedComponents(PropertyGraph(v, e))
    },

    // ---- A4 + J9 + G5: drop communities smaller than MINCOMP on the
    // sparser support-filtered graph (component sizes 2..7 at sf0.01), then
    // emit the surviving vertex ids.
    QueryDef(
      "g09_community_filter",
      s"""WITH RECURSIVE $SUPEDGES,
         |verts AS (SELECT DISTINCT src AS id FROM ssym),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT s.dst AS id, r.r FROM reach r JOIN ssym s ON s.src = r.id
         |),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
         |SELECT id FROM comp WHERE component IN (
         |  SELECT component FROM comp GROUP BY component HAVING count(*) >= $MINCOMP)""".stripMargin) {
      (s, dir) =>
        implicit val spark: SparkSession = s
        Communities.filterSmallCommunities(supportGraph(s, dir), MINCOMP)
          .vertices.select("id")
    },

    // ---- Extension: fixed-point integer PageRank (3 unrolled
    // iterations in the oracle — every per-edge contribution floors
    // BEFORE the neighbor sum, so both engines do pure integer math).
    QueryDef(
      "g10_pagerank",
      s"""WITH $EDGES,
         |deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
         |nv AS (SELECT count(*) AS n FROM deg),
         |pr0 AS (SELECT id, $PR_SCALE // nv.n AS pr FROM deg CROSS JOIN nv),
         |${sqlPrIter(1)},
         |${sqlPrIter(2)},
         |${sqlPrIter(3)}
         |SELECT id, CAST(pr AS BIGINT) AS pr_fp FROM pr$PR_ITERS""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      PageRank.run(derivedEdges(s, dir), PR_ITERS)
    },

    // ---- Extension: WEIGHTED fixed-point PageRank — transition mass
    // splits by Laplace-smoothed feature-match weights (matches+1 ∈
    // 1..4, pure integers end to end).
    QueryDef(
      "g11_pagerank_weighted",
      s"""WITH $EDGES,
         |wedges AS (
         |  SELECT e.src, e.dst,
         |    ((CASE WHEN ps.p_brand = pd.p_brand THEN 1 ELSE 0 END) +
         |     (CASE WHEN ps.p_type  = pd.p_type  THEN 1 ELSE 0 END) +
         |     (CASE WHEN ps.p_size  = pd.p_size  THEN 1 ELSE 0 END) + 1) AS w
         |  FROM edges e
         |  JOIN part ps ON ps.p_partkey = e.src
         |  JOIN part pd ON pd.p_partkey = e.dst
         |),
         |wsym AS (SELECT src, dst, w FROM wedges
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM wedges),
         |wdeg AS (SELECT src AS id, sum(w) AS wsum FROM wsym GROUP BY src),
         |nv AS (SELECT count(*) AS n FROM wdeg),
         |pr0 AS (SELECT id, $PR_SCALE // nv.n AS pr FROM wdeg CROSS JOIN nv),
         |${sqlWPrIter(1)},
         |${sqlWPrIter(2)},
         |${sqlWPrIter(3)}
         |SELECT id, CAST(pr AS BIGINT) AS pr_fp FROM pr$PR_ITERS""".stripMargin) {
      (s, dir) =>
        implicit val spark: SparkSession = s
        val p = t(s, dir, "part")
        val ps = p.select(col("p_partkey").as("src"), col("p_brand").as("sb"),
          col("p_type").as("st"), col("p_size").as("ss"))
        val pd = p.select(col("p_partkey").as("dst"), col("p_brand").as("db"),
          col("p_type").as("dt"), col("p_size").as("ds"))
        val we = derivedEdges(s, dir).join(ps, Seq("src")).join(pd, Seq("dst"))
          .select(col("src"), col("dst"),
            (when(col("sb") === col("db"), 1).otherwise(0) +
              when(col("st") === col("dt"), 1).otherwise(0) +
              when(col("ss") === col("ds"), 1).otherwise(0) + lit(1)).as("w"))
        PageRank.runWeighted(we, PR_ITERS)
    },

    // ---- triangle counting (extension): per-vertex triangle counts via
    // degree-ordered wedge enumeration (O(m^1.5) bound, hub-immune).
    // The oracle closes canonical src<dst edges directly — a DIFFERENT
    // formulation finding the same triangle set, so the hash match is a
    // cross-formulation differential, not a replay.
    QueryDef(
      "g12_triangles",
      s"""WITH $EDGES,
         |tri AS (
         |  SELECT a.src AS u, a.dst AS v, b.dst AS w
         |  FROM edges a
         |  JOIN edges b ON a.dst = b.src
         |  JOIN edges c ON c.src = a.src AND c.dst = b.dst
         |), roles AS (
         |  SELECT u AS id FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri
         |), cnt AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM roles GROUP BY id
         |)
         |SELECT p.p_partkey AS id, COALESCE(cnt.n_tri, 0) AS n_tri
         |FROM part p LEFT JOIN cnt ON cnt.id = p.p_partkey""".stripMargin) {
      (s, dir) =>
        Triangles.counts(
          t(s, dir, "part").select(col("p_partkey").as("id")),
          derivedEdges(s, dir))
    },

    // ---- k-core decomposition (extension): the maximal subgraph where
    // every vertex keeps degree >= k, by distributed iterative peeling
    // (graph/KCore.scala). The oracle peels in a bounded recursive CTE
    // whose state is the surviving SYMMETRIC edge set — in-core degrees
    // fall out of window counts over a single self-reference, a
    // different mechanism (fixed-depth unrolling vs converge-and-stop)
    // over the same mathematical fixpoint; k=8 cascades for ~23 rounds
    // on this graph before stabilizing, so the match exercises deep
    // peeling, not a one-round filter. The CTE's 40-round cap clears the
    // sf0.01 convergence depth with margin; the Spark side iterates to
    // the measured fixed point and THROWS if 100 rounds don't reach it.
    QueryDef(
      "g13_kcore",
      s"""WITH RECURSIVE $EDGES,
         |peel(iter, src, dst) AS (
         |  SELECT 0, src, dst FROM sym
         |  UNION ALL
         |  SELECT iter + 1, src, dst FROM (
         |    SELECT iter, src, dst,
         |      count(*) OVER (PARTITION BY iter, src) AS dsrc,
         |      count(*) OVER (PARTITION BY iter, dst) AS ddst
         |    FROM peel) x
         |  WHERE iter < 40 AND dsrc >= $KCORE_K AND ddst >= $KCORE_K
         |)
         |SELECT src AS id, count(*) AS deg_in_core
         |FROM peel WHERE iter = 40 GROUP BY src""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      KCore.run(derivedEdges(s, dir), KCORE_K)
    },

    // ---- local clustering coefficient (extension): triangles closed /
    // triangles possible per vertex, in fixed-point micro-units so both
    // engines do pure integer math. The oracle recomputes triangles by
    // direct canonical-edge closure (g12's cross-formulation) and degree
    // from the symmetrized edge list, then replays the identical
    // `(2·tri·10⁶) div (deg·(deg−1))` division.
    QueryDef(
      "g14_clustering_coeff",
      s"""WITH $EDGES,
         |tri AS (
         |  SELECT a.src AS u, a.dst AS v, b.dst AS w
         |  FROM edges a
         |  JOIN edges b ON a.dst = b.src
         |  JOIN edges c ON c.src = a.src AND c.dst = b.dst
         |), roles AS (
         |  SELECT u AS id FROM tri
         |  UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri
         |), cnt AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM roles GROUP BY id
         |), deg AS (
         |  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM sym GROUP BY src
         |)
         |SELECT p.p_partkey AS id,
         |  COALESCE(deg.deg, 0) AS deg,
         |  COALESCE(cnt.n_tri, 0) AS n_tri,
         |  CASE WHEN COALESCE(deg.deg, 0) >= 2
         |    THEN (2 * COALESCE(cnt.n_tri, 0) * 1000000)
         |         // (deg.deg * (deg.deg - 1))
         |    ELSE 0 END AS cc_micro
         |FROM part p
         |LEFT JOIN deg ON deg.id = p.p_partkey
         |LEFT JOIN cnt ON cnt.id = p.p_partkey""".stripMargin) { (s, dir) =>
      Triangles.clusteringCoeff(
        t(s, dir, "part").select(col("p_partkey").as("id")),
        derivedEdges(s, dir))
    },

    // ---- label propagation communities (extension): synchronous LPA
    // with the deterministic (count DESC, label ASC) winner rule and a
    // FIXED iteration count, so the label relation is identical round by
    // round in both engines (stock LPA's async adoption order is
    // run-to-run unstable; this formulation is gateable). The oracle
    // unrolls the three rounds as CTEs.
    QueryDef(
      "g15_label_prop",
      s"""WITH $EDGES,
         |v AS (SELECT p_partkey AS id FROM part),
         |l0 AS (SELECT id, id AS label FROM v),
         |${(1 to LPA_ITERS).map(sqlLpaIter).mkString(",\n")}
         |SELECT id, CAST(label AS BIGINT) AS label FROM l$LPA_ITERS""".stripMargin) {
      (s, dir) =>
        implicit val spark: SparkSession = s
        LabelProp.run(
          t(s, dir, "part").select(col("p_partkey").as("id")),
          derivedEdges(s, dir), LPA_ITERS)
    },

    // ---- modularity score (extension): the Newman–Girvan quality
    // metric of an (id, label) labeling, in exact micro units — scored
    // for THREE labelings of the same derived graph in one relation, so
    // the engine's detectors are COMPARED quantitatively, not just
    // produced: connected components (an upper-mixing baseline), 3-round
    // LPA (the detector g15 gates), and the all-singleton labeling
    // (whose modularity is provably NEGATIVE, pinning the sign-safe
    // truncating division on both engines). DuckDB replays CC via the
    // recursive CTE, LPA via g15's unrolled rounds, and the integer
    // arithmetic in HUGEINT against Spark's DECIMAL(38,0).
    QueryDef(
      "g16_modularity",
      s"""WITH RECURSIVE $EDGES,
         |v AS (SELECT p_partkey AS id FROM part),
         |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM edges),
         |deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
         |reach AS (
         |  SELECT id, id AS r FROM v
         |  UNION
         |  SELECT s.dst AS id, r.r FROM reach r JOIN sym s ON s.src = r.id
         |),
         |cc AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |l0 AS (SELECT id, id AS label FROM v),
         |${(1 to LPA_ITERS).map(sqlLpaIter).mkString(",\n")},
         |sing AS (SELECT id, id AS label FROM v),
         |${sqlModScore("cc", "cc")},
         |${sqlModScore(s"l$LPA_ITERS", "lpa")},
         |${sqlModScore("sing", "singleton")}
         |SELECT * FROM cc_score UNION ALL
         |SELECT * FROM l${LPA_ITERS}_score UNION ALL
         |SELECT * FROM sing_score""".stripMargin) {
      (s, dir) =>
        implicit val spark: SparkSession = s
        val v = t(s, dir, "part").select(col("p_partkey").as("id"))
        val e = derivedEdges(s, dir)
        // The CC and LPA detector runs are session-cached inputs, like
        // edgesR/btw above (round-14 VERDICT ask #6): g16's bench
        // headline then measures Modularity.score's own marginal cost,
        // and a detector regression surfaces under g08/g15's names
        // instead of masquerading as a scoring regression. The oracle
        // still recomputes the detectors from scratch, so correctness
        // is unchanged.
        val labelings = Seq(
          "cc" -> cached(s, dir, "ccLabeling") {
            Communities.connectedComponents(PropertyGraph(v, e))
              .select(col("id"), col("component").as("label"))
          },
          "lpa" -> cached(s, dir, "lpaLabeling")(LabelProp.run(v, e, LPA_ITERS)),
          "singleton" -> v.select(col("id"), col("id").as("label")))
        labelings.map { case (tag, l) =>
          Modularity.score(l, e).withColumn("labeling", lit(tag))
        }.reduce(_ unionByName _)
    },

    // ---- G2/G7 at k=3 (round-16 VERDICT ask #7): the bounded
    // betweenness's path enumeration at max_sp_length=3, hub-capped —
    // max_sp_length defaults to 2 everywhere (g04 gates it); this entry
    // proves the length generalization under the oracle and pins the
    // Σdeg³ cost shape with the cap that bounds it. Fresh computation
    // (not the k=2 session cache): the k=3 chain IS what this query
    // measures.
    QueryDef(
      "g17_betweenness_k3",
      s"""WITH $EDGES, $BTW3
         |SELECT src, dst, betweenness FROM btw3""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      Betweenness.run(derivedGraph(s, dir), maxLen = 3,
          maxMidDegree = Some(MAXMID3))
        .select(col("edges.src").as("src"), col("edges.dst").as("dst"),
          col("betweenness"))
    }
  )

  /** DuckDB fragment: Newman–Girvan micro-modularity of labeling table
    * `t` (one `(id, label)` row per vertex), tagged `tag`, as CTE
    * `{t}_score` — the [[graft.graph.Modularity.score]] twin (HUGEINT
    * where Spark uses DECIMAL(38,0); `//` and `div` both truncate
    * toward zero, including the singleton labeling's negative Q).
    */
  private def sqlModScore(t: String, tag: String): String =
    s"""${t}_e AS (
       |  SELECT ls.label, CAST(count(*) AS HUGEINT) AS e_intra
       |  FROM edges e
       |  JOIN $t ls ON ls.id = e.src
       |  JOIN $t ld ON ld.id = e.dst
       |  WHERE ls.label = ld.label
       |  GROUP BY ls.label
       |),
       |${t}_d AS (
       |  SELECT l.label, CAST(COALESCE(SUM(d.deg), 0) AS HUGEINT) AS d_tot
       |  FROM $t l LEFT JOIN deg d ON d.id = l.id GROUP BY l.label
       |),
       |${t}_score AS (
       |  SELECT
       |    CAST((SELECT m FROM mm) AS BIGINT) AS m,
       |    CAST(count(*) AS BIGINT) AS n_communities,
       |    CAST(SUM(COALESCE(e.e_intra, 0)) AS BIGINT) AS e_intra_total,
       |    CAST((SUM(4 * (SELECT m FROM mm) * COALESCE(e.e_intra, 0)
       |            - d.d_tot * d.d_tot) * 1000000)
       |      // (4 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS BIGINT)
       |      AS q_micro,
       |    '$tag' AS labeling
       |  FROM ${t}_d d LEFT JOIN ${t}_e e ON e.label = d.label
       |)""".stripMargin

  /** DuckDB fragment: one synchronous LPA round k from l(k-1). */
  private def sqlLpaIter(k: Int): String =
    s"""t$k AS (
       |  SELECT src, nlabel FROM (
       |    SELECT s.src, l.label AS nlabel,
       |      row_number() OVER (PARTITION BY s.src
       |        ORDER BY count(*) DESC, l.label ASC) AS r
       |    FROM sym s JOIN l${k - 1} l ON l.id = s.dst
       |    GROUP BY s.src, l.label
       |  ) WHERE r = 1
       |),
       |l$k AS (
       |  SELECT l.id, COALESCE(t$k.nlabel, l.label) AS label
       |  FROM l${k - 1} l LEFT JOIN t$k ON t$k.src = l.id
       |)""".stripMargin

  /** DuckDB fragment: one integer-PageRank iteration k from pr(k-1). */
  private def sqlPrIter(k: Int): String =
    s"""pr$k AS (
       |  SELECT s.dst AS id,
       |    (SELECT ($PR_SCALE * 15) // (100 * n) FROM nv)
       |      + sum((p.pr * 85) // (100 * d.deg)) AS pr
       |  FROM sym s
       |  JOIN pr${k - 1} p ON p.id = s.src
       |  JOIN deg d ON d.id = s.src
       |  GROUP BY s.dst
       |)""".stripMargin

  /** Weighted twin of [[sqlPrIter]] over `(src, dst, w)` + `wdeg`. */
  private def sqlWPrIter(k: Int): String =
    s"""pr$k AS (
       |  SELECT s.dst AS id,
       |    (SELECT ($PR_SCALE * 15) // (100 * n) FROM nv)
       |      + sum((p.pr * 85 * s.w) // (100 * d.wsum)) AS pr
       |  FROM wsym s
       |  JOIN pr${k - 1} p ON p.id = s.src
       |  JOIN wdeg d ON d.id = s.src
       |  GROUP BY s.dst
       |)""".stripMargin
}
