package graft.graph

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.Row

/** Hub-degree cap differential tests (VERDICT round 2, "Next round" #2):
  * a cap that no vertex exceeds must be bit-identical to the exact
  * operator, and a binding cap must cut exactly the expansions THROUGH
  * the hub while leaving the hub's own rows and level-1 edges intact.
  */
class SkewSpec extends SparkSpec {

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(14,
      for {
        a <- Gen.choose(1L, 9L)
        b <- Gen.choose(1L, 9L).suchThat(_ != a)
      } yield (math.min(a, b), math.max(a, b)))

  private def sampleEdges(seed: Long): List[(Long, Long)] =
    genEdges.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
      .filter { case (a, b) => a != b }

  private def graphOf(edges: List[(Long, Long)]): PropertyGraph = {
    import spark.implicits._
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    PropertyGraph(ids.toDF("id"), edges.toDF("src", "dst"))
  }

  /** Star: hub 0 — spokes 1..6, plus a spoke-spoke edge 1-2. */
  private lazy val star: PropertyGraph = {
    import spark.implicits._
    val edges = (1L to 6L).map(i => (0L, i)) :+ (1L, 2L)
    PropertyGraph((0L to 6L).toDF("id"), edges.toDF("src", "dst"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("non-binding cap is bit-identical: neighborhoods and betweenness") {
    implicit val s = spark
    for (seed <- Seq(1L, 7L, 42L, 99L, 1234L);
         edges = sampleEdges(seed) if edges.nonEmpty) {
      val g = graphOf(edges)
      // no vertex in the generator can exceed degree 8; 100 never binds
      assert(
        rows(Neighborhoods.neighbors(g, 2, Some(100L))) ==
        rows(Neighborhoods.neighbors(g, 2, None)), s"neighbors seed $seed")
      assert(
        rows(Betweenness.run(g, maxLen = 2, Some(100L))) ==
        rows(Betweenness.run(g, maxLen = 2, None)), s"betweenness seed $seed")
      assert(
        rows(Betweenness.run(g, maxLen = 3, Some(100L))) ==
        rows(Betweenness.run(g, maxLen = 3, None)), s"btw maxLen=3 seed $seed")
    }
  }

  test("binding cap cuts only expansion through the hub (neighborhoods)") {
    // Degrees: hub 0 -> 6; spokes 1,2 -> 2; spokes 3..6 -> 1. Cap 5
    // excludes only the hub as a mid.
    val capped = Neighborhoods.neighbors(star, 2, Some(5L)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    // spoke 3: exact 2-hop = {0} ∪ {1,2,4,5,6} via hub; capped = {0} only
    assert(capped(3L) == Set(0L))
    // spoke 1: direct {0,2}, via mid 2 (deg 2, allowed) adds 0; via hub cut
    assert(capped(1L) == Set(0L, 2L))
    // the hub itself keeps its full level-1 set and gains 2-hop via 1,2
    assert(capped(0L) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    val exact = Neighborhoods.neighbors(star, 2, None).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    assert(exact(3L) == Set(0L, 1L, 2L, 4L, 5L, 6L))
  }

  test("binding cap removes hub-mediated shortest paths (betweenness)") {
    implicit val s = spark
    // Exact: every spoke pair (i,j), i,j in 3..6 and mixed pairs, is at
    // distance 2 through the hub -> hub edges accumulate betweenness.
    // Capped at 5: the only distance-2 pairs left go through mids 1 or 2.
    val capped = Betweenness.run(star, maxLen = 2, Some(5L)).collect()
      .map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getLong(1)) -> r.getLong(1))
      .toMap
    // Under the cap the only allowed mids are 1 and 2, whose neighbor
    // pairs (0,2)/(2,0)/(0,1)/(1,0) are all already at distance 1 — so no
    // distance-2 pair survives and every directed edge carries exactly its
    // own direct path.
    assert(capped.values.forall(_ == 1L), s"capped counts: $capped")
    val exact = Betweenness.run(star, maxLen = 2, None).collect()
      .map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getLong(1)) -> r.getLong(1))
      .toMap
    // sanity: exact has hub edges carrying 2-hop mass, e.g. (0,3)
    assert(exact((0L, 3L)) > 1L)
  }
}
