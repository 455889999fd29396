package graft.perfbench

/** Detection quality and output fingerprints, computed in the benchmark
  * process from plain maps (the graphs here have at most tens of thousands
  * of vertices).
  */
object Quality {

  /** Normalized mutual information of two labelings of the same vertex
    * set, `I(A;B) / sqrt(H(A) H(B))`; 1.0 when both are a single cluster.
    */
  def nmi(a: Map[Long, Long], b: Map[Long, Long]): Double = {
    require(a.keySet == b.keySet, "labelings cover different vertex sets")
    val n = a.size.toDouble
    val joint = a.toSeq.groupMapReduce { case (v, la) => (la, b(v)) }(_ => 1L)(_ + _)
    val pa = a.values.groupMapReduce(identity)(_ => 1L)(_ + _)
    val pb = b.values.groupMapReduce(identity)(_ => 1L)(_ + _)
    def h(counts: Iterable[Long]) =
      -counts.iterator.map { c => val p = c / n; p * math.log(p) }.sum
    val (ha, hb) = (h(pa.values), h(pb.values))
    if (ha == 0.0 && hb == 0.0) return 1.0
    if (ha == 0.0 || hb == 0.0) return 0.0
    val mi = joint.iterator.map { case ((x, y), c) =>
      val pxy = c / n
      pxy * math.log(pxy * n * n / (pa(x).toDouble * pb(y)))
    }.sum
    mi / math.sqrt(ha * hb)
  }

  /** Detected labels over every generated vertex: a vertex missing from
    * the output becomes a singleton, labelled below every real id.
    */
  def withSingletons(truth: Map[Long, Int],
      found: Map[Long, Long]): Map[Long, Long] =
    truth.keysIterator.map(v => v -> found.getOrElse(v, -1L - v)).toMap

  /** 64-bit finalizer of SplitMix64; spreads nearby inputs apart. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Order-free hash of a multiset of rows: the wrapping sum of each row's
    * mixed hash, so row order and partitioning do not matter.
    */
  def orderFree(rows: Iterator[Long]): Long = rows.foldLeft(0L)(_ + mix(_))

  def pairHash(a: Long, b: Long): Long = mix(a * 0x100000001B3L ^ mix(b))
}

/** The correctness fingerprint of one HGN run, the part that is pinned.
  * Per-step deletion counts are left out: canonicalizing the edge form
  * changes what a step reports as deleted without changing the result, so
  * they are only compared between two runs of the same program.
  */
final case class Fingerprint(steps: Int, vertices: Long, edges: Long,
    communities: Long, assignmentHash: Long, nmi: Double) {
  def nmiRounded: String = f"$nmi%.6f"
  def render: String =
    s"""{"steps":$steps,"vertices":$vertices,"edges":$edges,""" +
      s""""communities":$communities,"assignment":"${java.lang.Long.toHexString(assignmentHash)}",""" +
      s""""nmi":$nmiRounded}"""
}
