package graft

import graft.graph.{Betweenness, Neighborhoods, PropertyGraph}
import graft.pipeline.Hashing
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property tests over randomly generated small graphs and strings
  * (SURVEY §5: property tests the reference never had). Generators are
  * ScalaCheck `Gen`s evaluated at fixed seeds — deterministic runs, no
  * scalatestplus bridge needed in the offline build.
  */
class PropertiesSpec extends SparkSpec {

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(12,
      for {
        a <- Gen.choose(1L, 8L)
        b <- Gen.choose(1L, 8L).suchThat(_ != a)
      } yield (math.min(a, b), math.max(a, b)))

  private def sampleEdges(seed: Long): List[(Long, Long)] =
    genEdges.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
      .filter { case (a, b) => a != b }

  private def graphOf(edges: List[(Long, Long)]): PropertyGraph = {
    import spark.implicits._
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    PropertyGraph(ids.toDF("id"), edges.toDF("src", "dst"))
  }

  private val seeds = Seq(1L, 7L, 42L, 99L, 1234L)

  test("property: symmetrization is idempotent on the adjacency set") {
    import spark.implicits._
    for (seed <- seeds; edges = sampleEdges(seed) if edges.nonEmpty) {
      val adj = graphOf(edges).adjacency
      val again = adj.union(
        adj.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      assert(again.count() == adj.count(), s"seed $seed")
      // The same pairs written messily: each row again, every other one
      // reversed, a self-loop, and the first endpoint's vertex row
      // dropped. The canonical form and the degrees must not notice.
      val (a0, b0) = edges.head
      val messyEdges = edges ++ edges.zipWithIndex.map {
        case ((a, b), i) => if (i % 2 == 0) (b, a) else (a, b) } :+ ((b0, b0))
      val messy = PropertyGraph(graphOf(edges).vertices.filter(col("id") =!= a0),
        messyEdges.toDF("src", "dst"))
      val pairs = edges.distinct.sorted
      assert(messy.canonicalEdges.as[(Long, Long)].collect().sorted.toSeq == pairs,
        s"seed $seed")
      val madj = messy.adjacency.as[(Long, Long)].collect()
      assert(madj.length == 2 * pairs.length && madj.distinct.length == madj.length,
        s"seed $seed")
      val degree = pairs.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, vs) => v -> vs.length.toLong }
      assert(messy.degrees.as[(Long, Long)].collect().toMap == degree, s"seed $seed")
    }
  }

  test("property: every vertex's lvl1 neighbors are a subset of lvl2") {
    for (seed <- seeds; edges = sampleEdges(seed) if edges.nonEmpty) {
      val g = graphOf(edges)
      val n1 = Neighborhoods.neighbors(g, 1).select(col("id"), col("neighbors").as("n1"))
      val n2 = Neighborhoods.neighbors(g, 2).select(col("id"), col("neighbors").as("n2"))
      val bad = n1.join(n2, "id")
        .filter(size(array_except(col("n1"), col("n2"))) > 0)
      assert(bad.count() == 0, s"seed $seed")
    }
  }

  test("property: betweenness is orientation-symmetric") {
    implicit val s = spark
    for (seed <- seeds; edges = sampleEdges(seed) if edges.nonEmpty) {
      val b = Betweenness.run(graphOf(edges), 2)
        .select(col("edges.src").as("s"), col("edges.dst").as("d"),
          col("betweenness").as("b"))
      val asym = b.as("x").join(b.as("y"),
        col("x.s") === col("y.d") && col("x.d") === col("y.s") &&
          col("x.b") =!= col("y.b"))
      assert(asym.count() == 0, s"seed $seed")
    }
  }

  test("property: h60 is stable, positive, and < 2^60") {
    val strs = seeds.flatMap(s =>
      Gen.asciiPrintableStr.apply(Gen.Parameters.default, Seed(s)))
    for (s <- strs :+ "" :+ "héllo wörld") {
      val h = Hashing.h60(s)
      assert(h >= 0L && h < (1L << 60))
      assert(h == Hashing.h60(s))
    }
  }

  test("property: distances respect the hop bound, exclude self-pairs") {
    for (seed <- seeds; edges = sampleEdges(seed) if edges.nonEmpty) {
      val d = Betweenness.shortestPaths(graphOf(edges), 2)
        .withColumn("distance", size(col("path")))
      assert(d.filter(col("distance") > 2 || col("distance") < 1).count() == 0)
      assert(d.filter(col("a") === col("z")).count() == 0)
    }
  }

  test("property: DF-native CC equals GraphX and labels with the min id") {
    implicit val s = spark
    import graft.graph.Communities
    // Bigger, sparser-id graphs than genEdges: up to 60 edges over ids
    // spread across the full positive long range, so the convergence
    // signature and multi-round alternation are both exercised.
    val genBig: Gen[List[(Long, Long)]] =
      Gen.listOfN(60,
        for {
          a <- Gen.choose(1L, 30L)
          b <- Gen.choose(1L, 30L).suchThat(_ != a)
        } yield (a * 0x9E3779B97F4A7CL, b * 0x9E3779B97F4A7CL))
    for (seed <- seeds) {
      val edges = genBig.apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(Nil).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val g = graphOf(edges)
        val native = Communities.connectedComponents(g).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val graphx = Communities.connectedComponentsGraphX(g).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(native == graphx, s"seed $seed")
        // Component label = minimum member id.
        native.groupBy(_._2).foreach { case (comp, members) =>
          assert(members.map(_._1).min == comp, s"seed $seed comp $comp")
        }
        // Both endpoints of every edge share a label.
        val label = native.toMap
        for ((a, b) <- edges)
          assert(label(a) == label(b), s"seed $seed edge ($a,$b)")
      }
    }
  }

  test("betweenness generalizes to maxLen=3: 4-chain counts by hand") {
    import spark.implicits._
    implicit val s = spark
    // Path graph 1-2-3-4: d(1,4)=3, the only 3-hop pair (each direction).
    val g = PropertyGraph(
      Seq(1L, 2L, 3L, 4L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"))
    val b = Betweenness.run(g, 3).collect()
      .map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getLong(1)) -> r.getLong(1))
      .toMap
    // d1 pairs: 6 directed edges, one each. d2: (1,3),(3,1),(2,4),(4,2)
    // add their two edges. d3: (1,4),(4,1) add all three edges.
    assert(b((1L, 2L)) == 1 + 1 + 1) // d1(1,2) + d2(1,3) + d3(1,4)
    assert(b((2L, 3L)) == 1 + 2 + 1) // d1 + d2(1,3)+(2,4) + d3(1,4)
    assert(b((3L, 4L)) == 1 + 1 + 1)
    assert(b((2L, 1L)) == 3 && b((3L, 2L)) == 4 && b((4L, 3L)) == 3)
  }

  /** Plain-Scala betweenness: BFS distances over an adjacency `Map`,
    * then every walk of exactly that length under the capped-walk rules
    * (the first hop is free; later hops leave only vertices of degree
    * ≤ cap). Per ordered pair the walk with the smallest mid sequence
    * wins; each winner counts once on every directed edge it uses.
    */
  private def oracleBetweenness(edges: List[(Long, Long)], maxLen: Int,
      cap: Option[Long]): Set[(Long, Long, Long)] = {
    val adj: Map[Long, Seq[Long]] = edges
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupMap(_._1)(_._2)
    def next(v: Long, firstHop: Boolean): Seq[Long] =
      if (firstHop || cap.forall(adj(v).size <= _)) adj(v) else Nil
    val midOrder = Ordering.Implicits.seqOrdering[Vector, Long]
    val winners = adj.keys.toSeq.flatMap { a =>
      var dist = Map(a -> 0)
      var frontier = Seq(a)
      for (d <- 1 to maxLen) {
        frontier = frontier.flatMap(next(_, d == 1)).distinct.filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      def walks(w: Vector[Long]): Seq[Vector[Long]] =
        if (w.size > maxLen) Seq(w)
        else w +: next(w.last, w.size == 1).flatMap(v => walks(w :+ v))
      walks(Vector(a))
        .filter(w => w.last != a && dist.get(w.last).contains(w.size - 1))
        .groupBy(_.last).values
        .map(_.minBy(w => w.slice(1, w.size - 1))(midOrder))
    }
    winners.flatMap(_.sliding(2).map(e => (e(0), e(1))))
      .groupBy(identity).map { case ((s, d), n) => (s, d, n.size.toLong) }.toSet
  }

  test("property: betweenness equals a plain-Scala BFS oracle, exact and hub-capped") {
    import spark.implicits._
    implicit val s = spark
    var capBinds = false
    for (seed <- seeds; edges = sampleEdges(seed) if edges.nonEmpty;
         maxLen <- Seq(2, 3); cap <- Seq(None, Some(2L))) {
      val degree = edges.distinct.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map(_._2.size)
      capBinds ||= cap.exists(c => degree.exists(_ > c))
      val engine = Betweenness.run(graphOf(edges), maxLen, cap)
        .select(col("edges.src"), col("edges.dst"), col("betweenness"))
        .as[(Long, Long, Long)].collect().toSet
      assert(engine == oracleBetweenness(edges, maxLen, cap),
        s"seed $seed maxLen $maxLen cap $cap")
    }
    assert(capBinds, "the cap never excluded a vertex")
  }

  test("property: two-phase sequence packing equals the single window") {
    import spark.implicits._
    // Random corpora: sparse ids, skewed shard sizes, variable word
    // counts. For every seed and every sub-shard count the distributed
    // prefix-sum must be BIT-IDENTICAL to the numSubShards=1 plan
    // (which is the naive single-window formulation).
    val genDocs: Gen[List[(Long, Int, Int)]] =
      Gen.listOfN(80,
        for {
          id <- Gen.choose(0L, 1000000L)
          shard <- Gen.choose(0, 2)
          words <- Gen.choose(0, 12)
        } yield (id, shard, words))
    for (seed <- seeds) {
      val rows = genDocs.apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(Nil)
        .map { case (id, sh, w) => (id, ("w " * w).trim, s"shard$sh") }
        .distinctBy(_._1) // doc_id is a key
      val docs = rows.toDF("doc_id", "text", "source")
      val single = graft.pipeline.Curation
        .packSequences(docs, 7L, numSubShards = 1).collect().toSet
      for (subs <- Seq(2, 5, 16)) {
        val multi = graft.pipeline.Curation
          .packSequences(docs, 7L, numSubShards = subs).collect().toSet
        assert(multi == single, s"seed $seed subs $subs")
      }
    }
  }
}
