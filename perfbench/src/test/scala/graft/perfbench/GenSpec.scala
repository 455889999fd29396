package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val shape = GraphShape(blocks = 6, blockSize = 20, degIn = 8,
    degOut = 2, pAgree = 0.75, hubFrac = 0.05, hubFactor = 8)

  private def bytes(seed: Long): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("gen").toFile
    val g = Gen.write(shape, seed, dir)
    Seq(g.nodes, g.edges, g.truth).map(p => Files.readAllBytes(new File(p).toPath))
  }

  test("a seed gives byte-identical files") {
    val (a, b) = (bytes(7), bytes(7))
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  test("different seeds give different files") {
    val (a, b) = (bytes(7), bytes(8))
    a.zip(b).foreach { case (x, y) => assert(!x.sameElements(y)) }
  }

  test("edges are unique undirected pairs without self-loops, over known ids") {
    val dir = Files.createTempDirectory("gen").toFile
    val g = Gen.write(shape, 3, dir)
    val truth = Gen.readTruth(g.truth)
    assert(truth.size == shape.vertices)
    assert(truth.values.toSet == (0 until shape.blocks).toSet)
    val src = scala.io.Source.fromFile(g.edges)
    val pairs = try src.getLines().drop(1).map(_.split(",").map(_.toLong)).toSeq
      finally src.close()
    assert(pairs.size == g.edgeCount)
    assert(pairs.forall(p => p(0) != p(1) && truth.contains(p(0)) && truth.contains(p(1))))
    assert(pairs.map(p => (p.min, p.max)).toSet.size == pairs.size)
    // most edges stay inside their block
    val inside = pairs.count(p => truth(p(0)) == truth(p(1)))
    assert(inside > pairs.size / 2)
  }
}
