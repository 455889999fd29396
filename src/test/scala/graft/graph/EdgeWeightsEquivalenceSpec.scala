package graft.graph

import graft.SparkSpec
import graft.queries.GraphQueries
import org.apache.spark.sql.functions._

/** Differential test: the optimized edge-weight plan must produce exactly
  * the reference-structural chain's results — on the hand-checked toy
  * graph and on the real derived graph at smoke scale.
  */
class EdgeWeightsEquivalenceSpec extends SparkSpec {

  private def assertSame(edgesR: org.apache.spark.sql.DataFrame,
      sims: org.apache.spark.sql.DataFrame, tau: Double): Unit = {
    val fast = EdgeWeights.run(edgesR, sims, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ref = EdgeWeightsReference.runReference(edgesR, sims, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fast == ref)
  }

  test("toy graph: fast == reference") {
    import spark.implicits._
    val g = PropertyGraph(
      Seq(1L, 2L, 3L, 4L, 5L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"))
    val edgesR = RMetrics.run(g, 0.45, 0.9)
    val sims = Seq((1L, 2L, 0.8), (2L, 3L, 0.1), (1L, 3L, 0.1), (3L, 4L, 0.9))
      .toDF("src", "dst", "similarity")
    assertSame(edgesR, sims, 0.5)
    assertSame(edgesR, sims, 0.05) // every value qualifies
    assertSame(edgesR, sims, 0.95) // none qualifies
  }

  test("derived sf0.001 graph: fast == reference") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val dir = "/root/testdata/sf0.001"
    val g = GraphQueries.derivedGraph(spark, dir)
    val edgesR = RMetrics.run(g, 0.5, 0.85).localCheckpoint()
    val sims = GraphQueries.similarities(spark, dir).localCheckpoint()
    assertSame(edgesR, sims, 0.3)
  }
}
