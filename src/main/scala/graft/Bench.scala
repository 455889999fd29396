package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against
  * `SPARK_GRAFT_SF_DIR` and prints the artifact line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`,
  * then a compact summary of it as the last stdout line.
  *
  * Each query runs once to warm up, then in batches of `RUNS` (3)
  * samples, each fully materialised through the `noop` sink. Contention
  * is judged inside the run: around each batch, other processes' CPU and
  * hypervisor steal are read from `/proc` ([[hostLoad]]); a batch is
  * disturbed when they average more than half a core over its wall time.
  * Another batch is sampled, up to [[MaxStabilityReruns]] times, while
  * the latest batch is disturbed or its median sits above 1.5x the
  * pooled minimum (0.2 s floor) — see [[resample]]. The headline is the
  * plain median of the last batch; the run is `contended` when some
  * query's last batch is still disturbed or unstable. A host that is
  * slower for the whole run, without steal or other processes' CPU,
  * slows every batch alike and is not detected. A query that throws
  * goes to `errors`, is left out of the total, and fails the run.
  */
object Bench {

  val MaxStabilityReruns: Int = 4

  private def runOnce(spark: SparkSession,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Unit =
    // Materialize every row and column without collecting to the driver.
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()

  /** Whole-machine busy and steal ticks, and this process's own CPU
    * ticks (its utime + stime plus those of its reaped children), at one
    * instant.
    */
  private[graft] final case class CpuTicks(busy: Long, steal: Long, self: Long)

  /** CPU seconds other processes and the hypervisor took over `wallS`. */
  private[graft] final case class HostLoad(otherCpuS: Double, stealS: Double,
      wallS: Double) {
    def disturbed: Boolean = (otherCpuS + stealS) / wallS > 0.5
  }

  /** Parses the texts of `/proc/stat` and `/proc/self/stat`. */
  private[graft] def parseTicks(procStat: String, selfStat: String): CpuTicks = {
    // cpu user nice system idle iowait irq softirq steal ...
    val f = procStat.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // After the parenthesised command name, utime, stime, cutime and
    // cstime are the 12th to 15th fields. The streaming queries fork
    // short-lived child processes; without cutime + cstime their CPU
    // reads as other processes' and marks the streaming batches
    // disturbed on a quiet machine.
    val rest = selfStat.substring(selfStat.lastIndexOf(')') + 2).split(" ")
    CpuTicks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L,
      rest.slice(11, 15).map(_.toLong).sum)
  }

  /** Other processes' CPU is the machine's busy time minus this
    * process's; ticks are USER_HZ (100 per second on Linux).
    */
  private[graft] def hostLoad(from: CpuTicks, to: CpuTicks, wallS: Double): HostLoad = {
    val self = (to.self - from.self) / 100.0
    HostLoad(math.max(0.0, (to.busy - from.busy) / 100.0 - self),
      (to.steal - from.steal) / 100.0, wallS)
  }

  /** None where `/proc` cannot be read: every batch then counts as
    * undisturbed.
    */
  private def readTicks(): Option[CpuTicks] = {
    def read(path: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    try Some(parseTicks(read("/proc/stat"), read("/proc/self/stat")))
    catch { case _: Exception => None }
  }

  private def median(batch: Seq[Double]): Double = {
    val s = batch.sorted; s(s.length / 2)
  }

  /** Whether a query needs another batch: its latest batch was
    * disturbed, or that batch's median sits above 1.5x the pooled minimum
    * by more than 0.2 s.
    */
  private[graft] def resample(batch: Seq[Double], pooledMin: Double,
      disturbed: Boolean): Boolean =
    disturbed || unstable(median(batch), pooledMin)

  private def unstable(med: Double, pooledMin: Double): Boolean =
    med > pooledMin * 1.5 && med - pooledMin > 0.2

  /** Normalized spelling of a data dir for the artifact's `sf` field. */
  private[graft] def normSfDir(sfDir: String): String =
    try java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString
    catch { case _: Exception => sfDir }

  /** Emit the artifact line on stdout AND to `SPARK_GRAFT_BENCH_OUT`
    * (VERDICT round 7 #8 / round 9 #7: the driver's log-tail capture of
    * a crashed run yielded `parsed: null` and cost a round of
    * diagnosis — every exit path must leave a parseable artifact).
    */
  private def emit(jsonLine: String): Option[String] = {
    println(jsonLine)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Some(outFile)
    } catch { case e: Exception =>
      System.err.println(s"[bench] warn: could not write $outFile: $e")
      None
    }
  }

  private def jsonSafe(s: String): String =
    s.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)

  def main(args: Array[String]): Unit =
    try realMain() catch {
      case e: Throwable =>
        // A failure OUTSIDE the per-query loop (a rejected setting,
        // session build, tuning) must still leave a JSON artifact, not
        // just a stack trace in a truncated log tail.
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        emit(s"""{"metric":"total","value":-1.000,"unit":"sec","queries":{},"fatal":"${
          jsonSafe(msg)}","sf":"$sfDir"}""")
        System.err.println(s"[bench] FAILURE: $msg")
        e.printStackTrace()
        sys.exit(1)
    }

  private def realMain(): Unit = {
    val sfDir = normSfDir(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runs >= 1, s"SPARK_GRAFT_BENCH_RUNS must be at least 1, got $runs")
    // Optional subset (comma-separated names) — used by the scale bench
    // to run only the heavy family against a generated 10x directory.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A typo'd subset name must fail loudly, not bench nothing and
    // exit 0 (the round-4 regression-loudness principle).
    val unknown = subset.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown SPARK_GRAFT_QUERIES name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.forall(_.contains(n)))
    val cpus = SessionTuning.cpus
    // Shuffle partitioning tracks DATA, not cores (measured: g05 at
    // ScaleUp factor 30 OOMs under cores-count partitioning) — derived
    // from the input directory's size by SessionTuning; the env var is
    // now an override, not a requirement.
    val autoConfs = SessionTuning.autoConfs(sfDir, cpus)
    System.err.println(s"[bench] derived confs: ${autoConfs.map {
      case (k, v) => s"$k=$v" }.mkString(", ")} " +
      s"(input ${SessionTuning.dirBytes(sfDir) >> 20} MB, $cpus cores)")
    // Extra session confs for scale experiments, e.g.
    // SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.coalescePartitions.enabled=false;spark.io.compression.codec=zstd".
    // Semicolon-separated k=v pairs, applied at BUILDER time (core confs
    // like the compression codec are immutable after session creation) —
    // the 100x stress lesson (SCALE.md): AQE's coalescing decides from
    // COMPRESSED map-output sizes and (with parallelismFirst=true, the
    // default) happily repacks data-sized shuffle partitions back down
    // toward the core count, multiplying per-task aggregate STATE far
    // past what the compressed bytes suggest; pinning coalescing off for
    // a stress run keeps partition count tracking data.
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(s"bad SPARK_GRAFT_EXTRA_CONF entry (need k=v): $kv")
        }
      }
    extraConf.foreach { case (k, v) =>
      System.err.println(s"[bench] extra conf: $k=$v") }
    val spark = extraConf.foldLeft(SessionTuning.localBuilder(sfDir)) {
      case (b, (k, v)) => b.config(k, v) }
      // Shuffle files are only deleted when ContextCleaner sees their
      // plan get GC'd — and a large-heap driver may never GC across a
      // whole bench session, so repeated heavy queries ACCUMULATE every
      // run's shuffle spill on disk until the device fills (measured:
      // the 100x stress run died ENOSPC with 79 GB free at start under
      // the 30-minute default). One-minute periodic GC bounds standing
      // spill to roughly one query's working set.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("bench-ckpt").toString)

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val mins = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val stabilized = scala.collection.mutable.LinkedHashMap[String, Int]()
    val disturbed = scala.collection.mutable.ArrayBuffer[String]()
    val (runTicks, runWall) = (readTicks(), System.nanoTime())
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        runOnce(spark, fn, sfDir) // warmup
        // One batch of `runs` samples, and whether other processes or
        // steal disturbed it.
        def batch(): (Vector[Double], Boolean) = {
          val (t0, w0) = (readTicks(), System.nanoTime())
          val b = (1 to runs).toVector.map { _ =>
            val t = System.nanoTime()
            runOnce(spark, fn, sfDir)
            (System.nanoTime() - t) / 1e9
          }
          val load = for (a <- t0; z <- readTicks())
            yield hostLoad(a, z, (System.nanoTime() - w0) / 1e9)
          (b, load.exists(_.disturbed))
        }
        var (lastBatch, lastDisturbed) = batch()
        var samples = lastBatch
        var extra = 0
        while (extra < MaxStabilityReruns &&
            resample(lastBatch, samples.min, lastDisturbed)) {
          val (b, d) = batch()
          lastBatch = b; lastDisturbed = d
          samples = samples ++ b
          extra += 1
        }
        if (extra > 0) stabilized(name) = extra
        if (lastDisturbed) disturbed += name
        times(name) = median(lastBatch)
        mins(name) = samples.min
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\n\\r\\t]", " ").take(200)
      }
    }
    val host = for (a <- runTicks; z <- readTicks())
      yield hostLoad(a, z, (System.nanoTime() - runWall) / 1e9)
    val unstableNames = times.keys.toSeq.filter(n => unstable(times(n), mins(n)))
    val contended = disturbed.nonEmpty || unstableNames.nonEmpty
    def jnum(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
    def jarr(xs: Seq[String]): String =
      xs.map(x => s""""$x"""").mkString("[", ",", "]")
    val es = errors.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val st = stabilized.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val hj = host.fold("null")(h =>
      s"""{"other_cpu_s":${jnum(h.otherCpuS)},"steal_s":${jnum(h.stealS)}}""")
    val total = times.values.sum
    val jsonLine = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":${jmap(times)},"min_queries":${jmap(mins)},"contended":$contended,"contention":{"disturbed":${jarr(disturbed.toSeq)},"unstable":${jarr(unstableNames)}},"stability_reruns":$st,"host":$hj,"errors":$es,"sf":"$sfDir"}"""
    val written = emit(jsonLine)
    // Tail-capture contract (round-19 VERDICT #2): the full artifact line
    // above grew to ~4 KB at 127 queries and has overflowed the driver's
    // 2000-char stdout-tail capture since round 14 (every BENCH_r*.json
    // since carries `parsed: null`). Print a COMPACT summary line as the
    // LAST stdout line — total/n/errors/contended fit any tail window —
    // so a tail-parser always finds one complete JSON object. The full
    // per-query map stays in the line above and in the file `emit` wrote.
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${times.size},"errors":${errors.size},"contended":$contended,"queries_in":${written.fold("null")(w => s""""$w"""")},"sf":"$sfDir"}""")
    spark.stop()
    // Regression loudness (VERDICT round 4 #3): an erroring query must
    // fail the run, not just fill a JSON field nobody diffs. The JSON
    // line above is already on stdout for the driver either way.
    if (errors.nonEmpty) {
      System.err.println(s"[bench] FAILURE: ${errors.size} of " +
        s"${names.size} queries threw: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
