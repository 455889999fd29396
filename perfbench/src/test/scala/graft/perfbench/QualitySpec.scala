package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(11)
  private val ids = (0L until 5000L)

  test("NMI is 1 on identical partitions, whatever the label names") {
    val a = ids.map(v => v -> v % 17).toMap
    val relabelled = a.map { case (v, l) => v -> (l * 1000 + 3) }
    assert(math.abs(Quality.nmi(a, a) - 1.0) < 1e-12)
    assert(math.abs(Quality.nmi(a, relabelled) - 1.0) < 1e-12)
  }

  test("NMI is about 0 on independent partitions") {
    val a = ids.map(v => v -> rnd.nextInt(10).toLong).toMap
    val b = ids.map(v => v -> rnd.nextInt(10).toLong).toMap
    assert(Quality.nmi(a, b) < 0.01)
  }

  test("missing vertices become singletons") {
    val truth = Map(1L -> 0, 2L -> 0, 3L -> 1)
    val found = Map(1L -> 1L, 2L -> 1L)
    val full = Quality.withSingletons(truth, found)
    assert(full.keySet == truth.keySet)
    assert(full(3L) != 1L)
    assert(Quality.nmi(truth.map { case (k, v) => k -> v.toLong }, full) == 1.0)
  }

  test("the assignment hash ignores row order and sees every row") {
    val rows = (1L to 100L).map(v => Quality.pairHash(v, v / 10))
    assert(Quality.orderFree(rows.iterator) == Quality.orderFree(rows.reverseIterator))
    assert(Quality.orderFree(rows.iterator) != Quality.orderFree(rows.drop(1).iterator))
    assert(Quality.pairHash(1, 2) != Quality.pairHash(2, 1))
  }
}
