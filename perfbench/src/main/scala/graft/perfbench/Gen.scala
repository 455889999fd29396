package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Shape of one planted-community graph: a stochastic block model whose
  * vertices carry `Gen.Features` categorical features.
  *
  * @param blocks     number of planted blocks
  * @param blockSize  vertices per block
  * @param degIn      expected edges from a vertex into its own block
  * @param degOut     expected edges from a vertex to other blocks
  * @param pAgree     share of a block's vertices whose feature takes the
  *                   block's value (rounded to a count per feature)
  * @param hubFrac    share of vertices that are hubs (rounded to a count)
  * @param hubFactor  a hub's degree relative to an ordinary vertex
  */
final case class GraphShape(blocks: Int, blockSize: Int, degIn: Double,
    degOut: Double, pAgree: Double, hubFrac: Double = 0.0,
    hubFactor: Double = 1.0) {
  def vertices: Int = blocks * blockSize
}

/** What the generator wrote: the three CSV paths and their sizes. The
  * truth file (`id,block`) is read only by the benchmark, never by the
  * program.
  */
final case class Generated(nodes: String, edges: String, truth: String,
    vertices: Int, edgeCount: Int)

/** Seeded planted-community graph generator in the `GraphCsv` shape
  * (`id,f0..f3` nodes, `src,dst` edges, both with headers).
  *
  * Every draw comes from one `SplittableRandom(seed)` in a fixed order, so
  * a seed gives byte-identical files on any JVM. Ids are a seeded
  * permutation of `0 until n`, so a block is not a contiguous id range and
  * the min-id component labels carry no hint of the planted blocks.
  * Each undirected edge is written once, in a random orientation, and
  * self-loops and duplicates are never written.
  */
object Gen {
  val Features: Int = 4
  /** Values per feature; a disagreeing vertex draws uniformly from these. */
  val Values: Int = 24

  def featureNames: Seq[String] = (0 until Features).map(i => s"f$i")

  def write(shape: GraphShape, seed: Long, dir: File): Generated = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val n = shape.vertices
    val bs = shape.blockSize
    // id permutation (Fisher-Yates)
    val ids = Array.tabulate(n)(identity)
    for (i <- n - 1 until 0 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val blockValue = Array.fill(shape.blocks, Features)(rnd.nextInt(Values))
    // Exact counts where a draw per vertex would do: the number of hubs and
    // of agreeing vertices per block and feature are fixed, so graphs of
    // different seeds differ in which vertices, not in how many.
    val isHub = new Array[Boolean](n)
    pick(rnd, n, math.round(shape.hubFrac * n).toInt).foreach(isHub(_) = true)
    val agrees = Array.fill(shape.blocks, Features) {
      val in = new Array[Boolean](bs)
      pick(rnd, bs, math.round(shape.pAgree * bs).toInt).foreach(in(_) = true)
      in
    }

    val nodes = new File(dir, "nodes.csv")
    val truth = new File(dir, "truth.csv")
    withWriter(nodes) { nw =>
      withWriter(truth) { tw =>
        nw.write("id," + featureNames.mkString(",") + "\n")
        tw.write("id,block\n")
        for (v <- 0 until n) {
          val b = v / bs
          val fs = (0 until Features).map { f =>
            val x = if (agrees(b)(f)(v % bs)) blockValue(b)(f)
              else rnd.nextInt(Values)
            s"v$x"
          }
          nw.write(s"${ids(v)},${fs.mkString(",")}\n")
          tw.write(s"${ids(v)},$b\n")
        }
      }
    }

    // Edge endpoints are drawn per vertex; a hub draws hubFactor times as
    // many. Pairs are kept in a set keyed by the unordered pair so the
    // file holds each undirected edge once.
    val seen = new java.util.HashSet[java.lang.Long]()
    val edges = new File(dir, "edges.csv")
    var m = 0
    withWriter(edges) { ew =>
      ew.write("src,dst\n")
      def emit(u: Int, v: Int): Unit =
        if (u != v && seen.add(pairKey(u, v))) {
          if (rnd.nextBoolean()) ew.write(s"${ids(u)},${ids(v)}\n")
          else ew.write(s"${ids(v)},${ids(u)}\n")
          m += 1
        }
      for (v <- 0 until n) {
        val f = if (isHub(v)) shape.hubFactor else 1.0
        // Each undirected edge has two endpoints that may draw it, so a
        // vertex draws half its expected degree.
        val kIn = draws(rnd, f * shape.degIn / 2)
        val kOut = draws(rnd, f * shape.degOut / 2)
        val b = v / bs
        for (_ <- 0 until kIn) emit(v, b * bs + rnd.nextInt(bs))
        for (_ <- 0 until kOut) {
          val w = rnd.nextInt(n - bs)
          emit(v, if (w >= b * bs) w + bs else w)
        }
      }
    }
    Generated(nodes.getPath, edges.getPath, truth.getPath, n, m)
  }

  private def pairKey(u: Int, v: Int): java.lang.Long =
    (math.min(u, v).toLong << 32) | math.max(u, v).toLong

  /** `mean` rounded up or down at random, so the expectation is `mean`. */
  private def draws(rnd: SplittableRandom, mean: Double): Int = {
    val whole = math.floor(mean).toInt
    if (rnd.nextDouble() < mean - whole) whole + 1 else whole
  }

  /** `k` distinct indices of `0 until n` (partial Fisher-Yates). */
  private def pick(rnd: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- 0 until k) {
      val j = i + rnd.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).toSeq
  }

  private def withWriter[A](f: File)(body: BufferedWriter => A): A = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  /** `id -> block` from a truth file. */
  def readTruth(path: String): Map[Long, Int] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).map { l =>
      val i = l.indexOf(',')
      l.substring(0, i).toLong -> l.substring(i + 1).toInt
    }.toMap
    finally src.close()
  }
}
