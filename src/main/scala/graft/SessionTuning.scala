package graft

/** Data-derived session tuning — the round-7 scale lesson
  * ("partitions track DATA, not cores") promoted from a manual env knob
  * into engine policy.
  *
  * The measured calibration point (BASELINE.md round 7): g05 at ScaleUp
  * factor 30 (247 MB of on-disk parquet) OOMs a 8 GiB JVM under the
  * cores-count 32 shuffle partitions and completes at 128 — i.e. this
  * corpus needs one shuffle partition per ~2 MB of on-disk input for the
  * worst aggregate (synthetic parquet compresses far below its in-memory
  * expansion, and g05's per-edge state multiplies it further). The
  * heuristic therefore sizes from INPUT BYTES at that measured rate,
  * rounds UP to a power of two (err high — AQE coalesces excess
  * partitions for free, while too few OOM), and floors at the core count
  * so small inputs keep full parallelism. On a real cluster the same
  * policy applies with the constant re-measured for the corpus's
  * compression ratio; the point is that the engine derives the number
  * from data statistics instead of asking an operator to discover it at
  * 3 a.m.
  *
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` still overrides (explicit beats
  * derived), but is no longer REQUIRED at any measured scale.
  */
object SessionTuning {

  /** On-disk input bytes per shuffle partition — the g05-at-30x measured
    * rate (247 MB / 128 partitions ≈ 1.9 MB), kept at 2 MB.
    */
  val BytesPerShufflePartition: Long = 2L << 20

  /** Backstop for a pathological byte count; far above any local run. */
  val MaxPartitions: Int = 1 << 16

  /** Total byte size of every regular file under `dir`, recursively.
    * Missing/unreadable paths count 0 — sizing must never fail a run.
    */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.iterator.map(walk).sum).getOrElse(0L)
    try walk(new java.io.File(dir)) catch { case _: Exception => 0L }
  }

  private def nextPow2(n: Long): Long = {
    var p = 1L
    while (p < n) p <<= 1
    p
  }

  /** Derived partition count for `bytes` of on-disk input on `cores`
    * cores: `max(cores, nextPow2(ceil(bytes / 2MB)))`, capped.
    */
  def partitionsForBytes(bytes: Long, cores: Int): Int = {
    val need = (bytes + BytesPerShufflePartition - 1) / BytesPerShufflePartition
    math.min(MaxPartitions.toLong, math.max(cores.toLong, nextPow2(need)))
      .toInt
  }

  /** The shuffle-partition count a session reading `dataDir` should
    * start with: the env override if set, else derived from the
    * directory's on-disk size. At sf0.1 (18 MB) this stays at the core
    * count (bench comparability across rounds); at 30x it derives 128 —
    * the measured-working value — with no operator action.
    */
  def autoShufflePartitions(dataDir: String, cores: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") match {
      case Some(v) => v.trim.toInt
      case None => partitionsForBytes(dirBytes(dataDir), cores)
    }

  /** The full derived conf set for a session reading `dataDir` — the
    * partition count above PLUS, in data-sized mode (derived count
    * above the core count), the AQE-coalescing confs that stop AQE
    * from silently UNDOING it (VERDICT round 12 #2, measured at 100x:
    * `coalescePartitions` targets `advisoryPartitionSizeInBytes` over
    * COMPRESSED map-output bytes, and with `parallelismFirst=true` —
    * the default — repacks data-sized partitions back toward the core
    * count; an aggregate whose in-memory state expands far beyond its
    * compressed shuffle bytes then OOMs exactly as if the partition
    * count had never been raised):
    *
    *   - `parallelismFirst=false` — coalescing targets bytes-per-task,
    *     not core count;
    *   - `advisoryPartitionSizeInBytes` = the SAME 2 MB bytes-per-
    *     partition rate the partition count was derived from, so the
    *     two knobs agree: AQE may merge genuinely tiny partitions but
    *     cannot repack below the measured-safe state density.
    *
    * Below the data-sized threshold the pair is omitted — small inputs
    * keep stock AQE behavior (and bench comparability across rounds).
    * This is what makes the 100x g05 lesson engine policy instead of a
    * manual `SPARK_GRAFT_EXTRA_CONF` knob.
    */
  def autoConfs(dataDir: String, cores: Int): Seq[(String, String)] = {
    val parts = autoShufflePartitions(dataDir, cores)
    // No global preferSortMergeJoin=false: at sf0.1 on 4 cores it
    // measured no faster on g07/g08/g09/p14/p45 than Spark's default
    // (5 alternating runs each, within noise), and session-wide it
    // would let every catalog join hash-build a side the planner
    // underestimated. Joins that need a hash build say so with a hint.
    val base = Seq("spark.sql.shuffle.partitions" -> parts.toString)
    if (parts > cores)
      base ++ Seq(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          BytesPerShufflePartition.toString)
    else base
  }
}
