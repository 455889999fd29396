package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed expectations on a 5-vertex graph:
  * triangle 1-2-3, tail 3-4, isolated vertex 5.
  *
  *   adjacency: 1:{2,3}  2:{1,3}  3:{1,2,4}  4:{3}  5:{}
  *   2-hop sets: 1:{2,3,4}  2:{1,3,4}  3:{1,2,4}  4:{1,2,3}  5:{}
  */
class GraphCoreSpec extends SparkSpec {

  private lazy val g: PropertyGraph = {
    import spark.implicits._
    PropertyGraph(
      Seq(1L, 2L, 3L, 4L, 5L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"))
  }

  test("canonicalEdges and adjacency on messy input: each pair once, both ways") {
    import spark.implicits._
    assert(g.adjacency.count() == 8)
    val reversed = g.adjacency.select(col("dst").as("src"), col("src").as("dst"))
    assert(reversed.union(g.adjacency).distinct().count() == 8)
    // The same triangle and tail written messily: reversed duplicates,
    // a repeated row, a self-loop, and an edge to 6, which has no vertex row.
    val messy = PropertyGraph(g.vertices,
      Seq((1L, 2L), (2L, 1L), (3L, 2L), (1L, 3L), (1L, 3L), (4L, 3L), (3L, 4L),
        (2L, 2L), (6L, 4L)).toDF("src", "dst"))
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 6L))
    assert(messy.canonicalEdges.as[(Long, Long)].collect().sorted.toSeq == pairs)
    val adj = messy.adjacency.as[(Long, Long)].collect()
    assert(adj.length == adj.distinct.length)
    assert(adj.toSet == (pairs ++ pairs.map(_.swap)).toSet)
    val d = messy.degrees.as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 6L -> 1L))
  }

  test("degrees") {
    val d = g.degrees.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L)) // 5 absent: degree 0
  }

  test("dropIsolatedVertices removes only vertex 5") {
    val kept = g.dropIsolatedVertices.vertices.select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  private def neighborsAt(level: Int): Map[Long, collection.Seq[Long]] =
    Neighborhoods.neighbors(g).collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[Long](r.fieldIndex(s"neighbors$level")))
      .toMap

  test("level-1 neighborhoods: an isolated vertex has no row") {
    val n1 = neighborsAt(1).map { case (v, nbs) => v -> (nbs.size.toLong, nbs.toSet) }
    assert(n1(1L) == (2L, Set(2L, 3L)))
    assert(n1(3L) == (3L, Set(1L, 2L, 4L)))
    assert(!n1.contains(5L)) // g02 backfills it (next test)
  }

  test("g02: an isolated part gets count1 = count2 = 0") {
    import spark.implicits._
    // Orders 1 and 2 link parts 1-11-21, order 3 links 2-12 (co-purchase
    // edges need the same last digit); part 5 is in no order.
    val dir = java.nio.file.Files.createTempDirectory("g02").toString
    def write(table: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.select(graft.Tables.contracts(table).map { case (c, t) =>
        (if (df.columns.contains(c)) col(c) else lit(null)).cast(t).as(c) }: _*)
        .write.parquet(s"$dir/$table.parquet")
    write("part", Seq(1L, 11L, 21L, 2L, 12L, 5L).toDF("p_partkey"))
    write("lineitem", Seq((1L, 1L), (1L, 11L), (2L, 11L), (2L, 21L), (3L, 2L), (3L, 12L))
      .toDF("l_orderkey", "l_partkey"))
    val counts = graft.SparkEntry.queries("g02_neighborhoods")(spark, dir)
      .as[(Long, Long, Long)].collect().map(c => c._1 -> (c._2, c._3)).toMap
    assert(counts == Map(1L -> (1L, 2L), 11L -> (2L, 2L), 21L -> (1L, 2L),
      2L -> (1L, 1L), 12L -> (1L, 1L), 5L -> (0L, 0L)))
  }

  test("level-2 neighborhoods include level 1 and exclude self") {
    val n2 = neighborsAt(2).map { case (v, nbs) => v -> nbs.toSet }
    assert(n2(1L) == Set(2L, 3L, 4L))
    assert(n2(4L) == Set(1L, 2L, 3L))
    assert(!n2.contains(5L))
  }

  test("r-metrics: hand-computed ratios and keep decision") {
    // t1=0.45: edges in the triangle have r11 = 1/2 > 0.45 -> kept;
    // t2=0.9 unreachable (all r2x = 2/3) -> (3,4) with cc1=0 is deletable.
    val r = RMetrics.run(g, 0.45, 0.9).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")) -> r).toMap
    val e12 = r((1L, 2L))
    assert(e12.getAs[Double]("r11") == 0.5 && e12.getAs[Double]("r12") == 0.5)
    assert(e12.getAs[Double]("r21") == 2.0 / 3 && e12.getAs[Double]("r22") == 2.0 / 3)
    assert(e12.getAs[Seq[Long]]("common_neighbors").toSet == Set(3L, 4L))
    val e34 = r((3L, 4L))
    assert(e34.getAs[Double]("r11") == 0.0 && e34.getAs[Double]("r12") == 0.0)
    assert(e34.getAs[Seq[Long]]("common_neighbors").toSet == Set(1L, 2L))
    // (note: not Map.collect — collecting pairs out of a Map rebuilds a
    // Map and silently dedups on the first element)
    val kept = r.toSeq.filter(_._2.getAs[Boolean]("keepit")).map(_._1).toSet
    assert(kept == Set((1L, 2L), (2L, 3L), (1L, 3L)))
  }

  test("r-metrics: splitTwoHop materialization changes nothing but the plan") {
    // The step-1 working-set splitter (round 16) must be semantically
    // invisible: identical rows with and without the level-2 cut.
    def canon(split: Boolean) = RMetrics.run(g, 0.45, 0.9,
        splitTwoHop = split).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Seq[Long]]("common_neighbors").sorted,
        r.getAs[Double]("r11"), r.getAs[Double]("r12"),
        r.getAs[Double]("r21"), r.getAs[Double]("r22"),
        r.getAs[Boolean]("keepit"))).toSet
    assert(canon(split = true) == canon(split = false))
  }

  test("bounded distances") {
    val d = Betweenness.shortestPaths(g, 2)
      .select(col("a"), col("z"), size(col("path"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(d((1L, 2L)) == 1 && d((3L, 4L)) == 1)
    assert(d((1L, 4L)) == 2 && d((4L, 2L)) == 2)
    assert(!d.contains((1L, 1L)) && !d.contains((1L, 5L)))
    assert(d.size == 12) // 8 ordered adjacent + 4 ordered distance-2
  }

  test("betweenness: hand-computed counts") {
    implicit val s = spark
    val b = Betweenness.run(g, 2).collect()
      .map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getLong(1)) -> r.getLong(1))
      .toMap
    // d1 paths: every directed edge once. d2 paths (via 3, the only
    // intermediate): (1,4),(4,1),(2,4),(4,2).
    assert(b((1L, 2L)) == 1 && b((2L, 1L)) == 1)
    assert(b((1L, 3L)) == 2 && b((3L, 1L)) == 2)
    assert(b((2L, 3L)) == 2 && b((3L, 2L)) == 2)
    assert(b((3L, 4L)) == 3 && b((4L, 3L)) == 3)
    assert(b.size == 8)
  }

  test("betweenness rejects negative vertex ids and maxLen < 1") {
    import spark.implicits._
    implicit val s = spark
    val neg = PropertyGraph(Seq(-1L, 2L, 3L).toDF("id"),
      Seq((-1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val ex = intercept[IllegalArgumentException] {
      Betweenness.run(neg, 2)
    }
    assert(ex.getMessage.contains("non-negative vertex ids"))
    val zero = intercept[IllegalArgumentException] {
      Betweenness.run(g, 0)
    }
    assert(zero.getMessage.contains("maxLen must be >= 1"))
  }

  test("edge weights over the deletable edge's common neighborhood") {
    import spark.implicits._
    val edgesR = RMetrics.run(g, 0.45, 0.9)
    // Similarities only matter for edges between common neighbors of the
    // deletable edge (3,4): CN2 = {1,2}, so only edge (1,2) counts.
    val sims = Seq((1L, 2L, 0.8), (2L, 3L, 0.1), (1L, 3L, 0.1), (3L, 4L, 0.9))
      .toDF("src", "dst", "similarity")
    val w = EdgeWeights.run(edgesR, sims, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(w == Map((3L, 4L) -> 1.0))
  }

  test("edgesToDelete: struct-key join both orientations + compound predicate") {
    import spark.implicits._
    implicit val s = spark
    val weights = Seq((3L, 4L, 1.0)).toDF("src", "dst", "edge_weight")
    val btw = Betweenness.run(g, 2)
    // weight >= 0.5 and betweenness 3 > 2 -> deleted, matched both ways.
    val del = HgnPipeline.edgesToDelete(weights, btw, 0.5, 2.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(del.toSeq == Seq((3L, 4L), (3L, 4L)))
    // betweenness threshold above 3 -> survives.
    assert(HgnPipeline.edgesToDelete(weights, btw, 0.5, 3.0).count() == 0)
  }

  test("edgesToDelete: one pair-keyed join equals the two-orientation join at maxLen 3") {
    import spark.implicits._
    implicit val s = spark
    // A 6-cycle 1-2-5-6-4-3-1: each vertex's opposite is reached by two
    // tied 3-hop paths, and the smallest forward mid sequence differs by
    // direction (1->6 goes 2,5; 6->1 goes 4,3), so betweenness is not
    // orientation-symmetric here.
    val cyc = PropertyGraph(Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id"),
      Seq((1L, 2L), (2L, 5L), (5L, 6L), (6L, 4L), (4L, 3L), (3L, 1L)).toDF("src", "dst"))
    val btw = Betweenness.run(cyc, 3)
    val b = btw.select(col("edges.src"), col("edges.dst"), col("betweenness"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, v, n) => (u, v) -> n }.toMap
    assert(b.exists { case ((u, v), n) => b((v, u)) != n })
    // Both orientations of weight rows, weights on both sides of maxW,
    // a duplicate row and a self-loop.
    val weights = Seq((1L, 2L, 0.9), (5L, 2L, 0.9), (5L, 6L, 0.2), (4L, 6L, 0.9),
      (3L, 4L, 0.9), (3L, 4L, 0.9), (1L, 3L, 0.6), (2L, 2L, 0.1))
      .toDF("src", "dst", "edge_weight")
    def twoWay(thres: Double) = {
      val fwd = weights.join(btw, weights("src") === btw("edges.src") &&
        weights("dst") === btw("edges.dst"))
      val rev = weights.join(btw, weights("src") === btw("edges.dst") &&
        weights("dst") === btw("edges.src"))
      fwd.union(rev)
        .filter(col("edge_weight") < 0.5 ||
          (col("edge_weight") >= 0.5 && col("betweenness") > thres))
        .select("src", "dst").as[(Long, Long)].collect().sorted.toSeq
    }
    for (thres <- b.values.toSeq.distinct.sorted.map(_ - 0.5) :+ 100.0) {
      val one = HgnPipeline.edgesToDelete(weights, btw, 0.5, thres)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(one == twoWay(thres), s"betweenness threshold $thres")
    }
  }

  test("deleteEdges: anti-join removal + keepit re-add + isolated drop") {
    import spark.implicits._
    val edgesR = RMetrics.run(g, 0.45, 0.9)
    val del = Seq((4L, 3L)).toDF("src", "dst") // reversed orientation on purpose
    val next = HgnPipeline.deleteEdges(g, del, edgesR)
    assert(next.vertices.select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
    assert(next.edges.select("src", "dst").distinct().count() == 3)
  }

  test("iterate: the keepit re-add never restores an edge selected for deletion") {
    import spark.implicits._
    implicit val s = spark
    val sims = Seq((1L, 2L, 0.8), (2L, 3L, 0.1), (1L, 3L, 0.1), (3L, 4L, 0.9))
      .toDF("src", "dst", "similarity")
    val p = HgnParams(featureMinAvg = 0.5, rLvl1Thres = 0.45, rLvl2Thres = 0.9,
      maxEdgeWeight = 0.5, betweennessThres = 2.0)
    val btw = Betweenness.run(g, 2)
    val toDelete = HgnPipeline.edgesToDelete(
      EdgeWeights.run(RMetrics.run(g, p.rLvl1Thres, p.rLvl2Thres), sims, p.featureMinAvg),
      btw, p.maxEdgeWeight, p.betweennessThres).as[(Long, Long)].collect().toSet
    assert(toDelete == Set((3L, 4L)))
    val (next, n) = HgnPipeline.iterate(g, sims, btw, p)
    assert(n == 2) // (3,4) matched through both betweenness orientations
    val expected = g.edges.as[(Long, Long)].collect().toSet
      .filterNot(e => toDelete(e) || toDelete(e.swap))
    // The re-add duplicates kept triangle edges but restores nothing.
    assert(next.edges.count() > expected.size)
    assert(next.edges.as[(Long, Long)].collect().toSet == expected)
  }

  test("connected components and small-community filter") {
    implicit val s = spark
    val cc = Communities.connectedComponents(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
    val filtered = Communities.filterSmallCommunities(g, 2)
    assert(filtered.vertices.select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L, 4L))
  }

  test("connected components: DF-native vs GraphX differential, 100 random-id edges") {
    import spark.implicits._
    implicit val s = spark
    // Deterministic full-spread 47-bit ids — with 100 edges the round-4
    // sum(xxhash64) signature overflowed a long with ~certainty under
    // ANSI mode; this test locks in the carry-free bit_xor signature.
    def vid(i: Int): Long = {
      var x = i.toLong * 0x9E3779B97F4A7C15L
      x ^= (x >>> 33)
      x & 0x7FFFFFFFFFFFL
    }
    // 10 chains of 11 vertices each -> exactly 10 components, 100 edges.
    val edges = (for (c <- 0 until 10; k <- 0 until 10)
      yield (vid(c * 100 + k), vid(c * 100 + k + 1))).toDF("src", "dst")
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val big = PropertyGraph(verts, edges)
    val native = Communities.connectedComponents(big).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val graphx = Communities.connectedComponentsGraphX(big).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == graphx)
    assert(native.map(_._2).size == 10)
    assert(native.size == 110)
  }

  test("connected components: 10k-vertex deep chains converge in few rounds") {
    import spark.implicits._
    implicit val s = spark
    // Depth property (VERDICT round 5 "Next round" #7): long paths are
    // the worst case for star-contraction round count. 4 chains of 2,500
    // vertices (diameter 2,499) must converge well under the 64-round
    // cap — maxRounds=16 pins the O(log² n) behavior; a diameter-bound
    // propagation (GraphX-style min-id flooding needs ~2,500 rounds
    // here, which is also why the differential target is the CLOSED FORM
    // label, each chain's min id, rather than actually running GraphX).
    // Ids are bit-mixed to full 47-bit spread so no monotone-id shortcut
    // can mask the property.
    def vid(i: Int): Long = {
      var x = i.toLong * 0x9E3779B97F4A7C15L
      x ^= (x >>> 33)
      x & 0x7FFFFFFFFFFFL
    }
    val chains = 4
    val len = 2500
    val edges = (for (c <- 0 until chains; k <- 0 until len - 1)
      yield (vid(c * len + k), vid(c * len + k + 1))).toDF("src", "dst")
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val labels = Communities
      .connectedComponents(PropertyGraph(verts, edges), maxRounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for (c <- 0 until chains) yield {
      val ids = (0 until len).map(j => vid(c * len + j))
      val minId = ids.min
      ids.map(_ -> minId)
    }).flatten.toMap
    assert(labels == expected)
  }

  test("connected components throws instead of emitting non-converged labels") {
    import spark.implicits._
    implicit val s = spark
    // A 20-vertex path needs >1 large-star/small-star round; with the cap
    // forced to 1 the guard must fire, never silently mislabel.
    val edges = (0 until 19).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val path = PropertyGraph((0 until 20).map(_.toLong).toDF("id"), edges)
    val ex = intercept[IllegalStateException] {
      Communities.connectedComponents(path, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not reach a fixed point"))
  }

  test("full pipeline run converges on the toy graph") {
    import spark.implicits._
    implicit val s = spark
    val sims = Seq((1L, 2L, 0.8), (2L, 3L, 0.1), (1L, 3L, 0.1), (3L, 4L, 0.9))
      .toDF("src", "dst", "similarity")
    val result = HgnPipeline.run(g,
      sims, HgnParams(featureMinAvg = 0.5, rLvl1Thres = 0.45, rLvl2Thres = 0.9,
        maxEdgeWeight = 0.5, betweennessThres = 2.0, maxSteps = 5))
    // Iteration 1 deletes (3,4); iteration 2 finds nothing deletable.
    assert(result.edges.select("src", "dst").distinct().count() == 3)
    assert(result.vertices.select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
  }
}
