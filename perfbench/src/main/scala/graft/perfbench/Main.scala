package graft.perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Hgn
import graft.config.HgnConfig
import graft.graph.PropertyGraph
import org.apache.spark.perfbench.Listeners

/** One benchmark workload: the graph it generates from the seed, whether
  * the measured run is a warm start from a persisted init cache, and the
  * run_options step cap.
  */
final case class Workload(name: String, shape: GraphShape, warmStart: Boolean,
    maxSteps: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    // Init and the hub-inflated first step dominate; the loop tail is short.
    // Left alone, a tail of a few hub edges runs 3 to 7 steps depending on
    // the seed, so the run is capped at 3 steps (the program's own
    // max_steps option); some seeds reach the fixpoint by then.
    Workload("hgn_cold_hubs",
      GraphShape(blocks = 30, blockSize = 50, degIn = 14, degOut = 3,
        pAgree = 0.75, hubFrac = 0.005, hubFactor = 8),
      warmStart = false, maxSteps = 3),
    // Init is read from the cache; a long cascade of steps and a sink
    // writing many communities dominate. Left alone the cascade ends after
    // 8 to 12 steps depending on the seed, which would make the wall time
    // depend on the seed more than on the code, so the run is capped at 5.
    Workload("hgn_warm_tail",
      GraphShape(blocks = 45, blockSize = 30, degIn = 10, degOut = 3,
        pAgree = 0.40),
      warmStart = true, maxSteps = 5))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))
}

/** Result of one operation: wall time, fingerprint, per-step selection
  * counts and the CPU time the process spent.
  */
final case class Outcome(seconds: Double, fp: Fingerprint, selected: Seq[Long],
    cpuSeconds: Double)

/** The program's own Spark work in one run, without the traced run's
  * [[Mirror.Stats]] row counts: how many queries it executed and a hash of
  * their analyzed plans. Job and exchange counts are no measure of it:
  * AQE drops a shuffle it has not started once it turns a join into a
  * broadcast, and which stage finishes first varies from run to run.
  */
final case class Structure(queries: Long, analyzed: Long) {
  override def toString: String =
    s"$queries queries, analyzed plans ${java.lang.Long.toHexString(analyzed)}"
}

object Structure {
  def of(plans: PlanShape): Structure = Structure(plans.queries, plans.analyzed)
}

object Main {
  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** The run_options of the reference's Hamsterster configuration, with
    * the workload's step cap.
    */
  def config(dir: File, g: Generated, warmStart: Boolean,
      maxSteps: Int): HgnConfig =
    HgnConfig.parse(
      s"""input:
         |  nodes_path: ${g.nodes}
         |  edges_path: ${g.edges}
         |  feature_names: [${Gen.featureNames.mkString(", ")}]
         |run_options:
         |  cached_init_step: $warmStart
         |  features_to_check: [${Gen.featureNames.mkString(", ")}]
         |  feature_min_avg: 0.33
         |  r_lvl1_thres: 0.50
         |  r_lvl2_thres: 0.85
         |  max_edge_weight: 0.50
         |  betweenness_thres: 10
         |  max_sp_length: 2
         |  max_steps: $maxSteps
         |  min_comp_size: 100
         |output:
         |  dir: ${new File(dir, "out").getPath}
         |  save_communities_to_csvs: true
         |""".stripMargin)

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(work, "ckpt").getPath)
    spark
  }

  /** Drops everything a run left cached, so each repetition starts alike. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private val StepLine = """\[hgn\] step (\d+): deleted (\d+) edges.*""".r

  /** Runs `body` with Scala's stdout teed into a buffer; returns the
    * selection count of every `[hgn] step` line the program printed.
    */
  def capturingSteps[A](body: => A): (A, Seq[Long]) = {
    val buf = new ByteArrayOutputStream()
    val out = Console.out
    val tee = new PrintStream(new java.io.OutputStream {
      def write(b: Int): Unit = { buf.write(b); out.write(b) }
      override def write(b: Array[Byte], o: Int, l: Int): Unit = {
        buf.write(b, o, l); out.write(b, o, l)
      }
    }, true)
    val a = Console.withOut(tee)(body)
    tee.flush()
    val steps = buf.toString("UTF-8").linesIterator.collect {
      case StepLine(_, n) => n.toLong
    }.toSeq
    (a, steps)
  }

  /** Fingerprint of a finished run: read the communities the sink wrote. */
  def fingerprint(conf: HgnConfig, result: PropertyGraph, steps: Int,
      truth: Map[Long, Int])(implicit spark: SparkSession): Fingerprint = {
    val rows = spark.read.option("header", "true")
      .csv(s"${conf.outputDir}/communities")
      .select(col("id").cast("long"), col("component").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val found = rows.toMap
    require(found.size == rows.length, "a vertex appears in two communities")
    val planted = truth.map { case (v, b) => v -> b.toLong }
    Fingerprint(
      steps = steps,
      vertices = result.vertices.count(),
      edges = result.edges.count(),
      communities = found.values.toSet.size.toLong,
      assignmentHash = Quality.orderFree(rows.iterator.map { case (v, c) =>
        Quality.pairHash(v, c) }),
      nmi = Quality.nmi(planted, Quality.withSingletons(truth, found)))
  }

  final case class Args(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: File, result: File, pins: Pins)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(Workload(need("--workload")), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      new File(need("--work")), new File(need("--result")),
      Pins.read(new File(need("--pins"))))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val json = new Bench(a).run()
    java.nio.file.Files.write(a.result.toPath, json.getBytes("UTF-8"))
  }
}

/** One benchmark process: set-up, then the measured operations. */
final class Bench(a: Main.Args) {
  import Main._

  private val wl = a.workload
  /** Every planted graph here is recovered far better than this; a lower
    * score means detection broke, whatever the pins say.
    */
  private val MinNmi = 0.6
  private val t0 = System.nanoTime()
  implicit val spark: SparkSession = session(a.work)
  private val sc = spark.sparkContext
  private val sessionS = (System.nanoTime() - t0) / 1e9
  private val heap = new HeapWatch
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  private val graphDir = new File(a.work, "graph")
  private var graph: Generated = _
  private var conf: HgnConfig = _
  private var truth: Map[Long, Int] = _
  private var attempted = 0
  private var failed = 0
  private val pin = a.pins.lookup(wl.name, a.seed)
  private var reference: Option[String] = pin

  /** Generates the measured graph, reads it once through the program's
    * CSV sources and, on a warm start, persists its init cache through the
    * program's init functions. Returns its wall seconds.
    */
  private def setUp(persistInit: Boolean): Double = {
    val s0 = System.nanoTime()
    graph = Gen.write(wl.shape, a.seed, graphDir)
    conf = config(graphDir, graph, wl.warmStart, wl.maxSteps)
    truth = Gen.readTruth(graph.truth)
    val mirror = new Mirror(new Tracer(sc), new MirrorStats)
    if (persistInit) mirror.precompute(conf)
    else mirror.load(conf).edges.count()
    release(spark)
    (System.nanoTime() - s0) / 1e9
  }

  /** One untraced `Hgn.run`: the result, the selection count of every step
    * and the CPU it took.
    */
  private def runProgram(): (PropertyGraph, Seq[Long], HostCpu.Interval) = {
    val cpu0 = HostCpu.now()
    val (result, selected) = capturingSteps(Hgn.run(conf))
    (result, selected, cpu0.until(HostCpu.now()))
  }

  private def outcome(result: PropertyGraph, selected: Seq[Long],
      cpu: HostCpu.Interval): Outcome = {
    val fp = fingerprint(conf, result, selected.size, truth)
    release(spark)
    Outcome(cpu.wallS, fp, selected, cpu.selfCpuS)
  }

  private def untraced(): Outcome = {
    val (result, selected, cpu) = runProgram()
    outcome(result, selected, cpu)
  }

  /** Runs `body` with fresh job and plan counters attached and returns
    * what they counted once every listener event is in.
    */
  private def watched[A](body: PlanCounters => A): (A, Map[String, Counters], PlanShape) = {
    val counters = new SparkCounters
    val plans = new PlanCounters
    sc.addSparkListener(counters)
    spark.listenerManager.register(plans)
    try {
      val out = body(plans)
      Listeners.drain(spark)
      (out, counters.snapshot(), plans.snapshot())
    } finally {
      sc.removeSparkListener(counters)
      spark.listenerManager.unregister(plans)
    }
  }

  /** Counts one operation; it fails when its fingerprint differs from the
    * pin (or from the first operation of this run), when detection quality
    * collapsed, or when `agrees` is false.
    */
  private def check(o: Outcome, what: String, agrees: Boolean = true): Boolean = {
    attempted += 1
    val got = o.fp.render
    val ok = reference.forall(_ == got) && o.fp.nmi >= MinNmi && o.fp.steps >= 2 &&
      agrees
    if (reference.isEmpty) reference = Some(got)
    if (!ok) {
      failed += 1
      log(s"FAILED $what: $got" +
        reference.filter(_ != got).map(r => s" expected $r").getOrElse(""))
    }
    ok
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(): String = {
    log(f"${wl.name} seed=${a.seed} session start ${sessionS}%.2f s, " +
      s"${Runtime.getRuntime.availableProcessors} cores")
    val correct = if (a.trace) traced() else untracedRun()
    if (pin.isEmpty) log(s"no pin for this seed; measured: " +
      reference.map(r => s"${wl.name} ${a.seed} $r").getOrElse("-"))
    spark.stop()
    Report.json(correct && failed == 0, attempted, failed, metrics.toSeq)
  }

  /** Sets up several times and reports the median (the first set-up also
    * pays for JIT compilation of the init path), then repeats the operation
    * for the run's seconds, at least once.
    */
  private def untracedRun(): Boolean = {
    val setups = (1 to 3).map(_ => setUp(persistInit = wl.warmStart))
    log(s"set-up seconds ${setups.map(s => f"$s%.2f").mkString(" ")}; " +
      s"graph ${graph.vertices} vertices, ${graph.edgeCount} edges")
    put("setup_s", median(setups), "s")
    heap.reset()
    val cpu0 = HostCpu.now()
    val start = System.nanoTime()
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    while (outcomes.isEmpty || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val o = untraced()
      check(o, "run")
      outcomes += o
      log(f"run ${outcomes.size}: ${o.seconds}%.3f s ${o.fp.render}")
    }
    logContention(cpu0.until(HostCpu.now()))
    put("hgn_s", median(outcomes.map(_.seconds).toSeq), "s")
    put("hgn_cpu_s", median(outcomes.map(_.cpuSeconds).toSeq), "s")
    put("nmi", outcomes.head.fp.nmi, "ratio")
    put("peak_heap_mb", heap.peakMb, "MB")
    failed == 0
  }

  private def sinkFiles(dir: File): Long =
    java.nio.file.Files.walk(dir.toPath).filter(_.toString.endsWith(".csv")).count()

  private def logContention(cpu: HostCpu.Interval): Unit =
    log(f"contention: other processes ${cpu.otherCpuS}%.2f cpu-s and steal " +
      f"${cpu.stealS}%.2f s over ${cpu.wallS}%.2f s, own utilisation " +
      f"${cpu.cpuUtil}%.3f, gc ${cpu.gcS}%.2f s" +
      (if (cpu.disturbed) " -- DISTURBED RUN" else ""))

  /** One traced operation and one untraced operation after it. The two
    * must agree on the fingerprint, which must match the pin, on the
    * per-step selection counts, and on the [[Structure]] of their Spark
    * work. On a warm start the init layers run only in the precompute of
    * the init cache, which supplies their spans and counters and stays out
    * of the run's CPU, GC, overhead and structure figures. Then the
    * catalog's graph family, one span per query.
    *
    * The overhead is the work tracing adds (the row counts in
    * [[Mirror.Stats]] spans) relative to the rest of the traced operation;
    * a wall-time comparison with the untraced operation would mostly
    * measure the JIT compilation the first of the two paid for.
    */
  private def traced(): Boolean = {
    setUp(persistInit = false)
    val stats = new MirrorStats
    val initTracer = new Tracer(sc)
    val (_, initGroups, _) = watched { plans =>
      if (wl.warmStart) new Mirror(initTracer, stats, Some(plans)).precompute(conf)
    }
    release(spark)
    val tracer = new Tracer(sc)
    val ((result, cpu), groups, shape) = watched { plans =>
      val cpu0 = HostCpu.now()
      val g = new Mirror(tracer, stats, Some(plans)).run(conf)
      (g, cpu0.until(HostCpu.now()))
    }
    val tracedOp = Outcome(cpu.wallS,
      fingerprint(conf, result, stats.selected.size, truth), stats.selected.toSeq,
      cpu.selfCpuS)
    stats.sinkFiles = sinkFiles(new File(conf.outputDir, "communities"))
    release(spark)
    val ((plainResult, plainSelected, plainCpu), _, plainShape) =
      watched(_ => runProgram())
    val plain = outcome(plainResult, plainSelected, plainCpu)

    val sameSteps = tracedOp.selected == plain.selected
    if (!sameSteps) log(s"FAILED traced selections ${tracedOp.selected.mkString(",")} " +
      s"differ from untraced ${plain.selected.mkString(",")}")
    val (ts, us) = (Structure.of(shape), Structure.of(plainShape))
    if (ts != us) log(s"FAILED traced run ran other Spark work than the program: $ts, untraced $us")
    else log(s"traced and untraced runs agree: ${plain.selected.mkString(",")} selected, $ts")
    var ok = check(plain, "untraced run")
    ok &= check(tracedOp, "traced run", sameSteps && ts == us)
    log(f"traced run ${cpu.wallS}%.3f s, untraced ${plain.seconds}%.3f s")
    logContention(cpu)
    val unattributed = groups.get(SparkCounters.Unattributed).map(_.tasks).getOrElse(0L)
    log(s"tasks outside any layer span: $unattributed of ${groups.values.map(_.tasks).sum}")
    log("shares of the traced run: " + Report.shares(tracer).map { case (k, v) =>
      f"$k ${v * 100}%.1f%%" }.mkString(", "))
    val root = tracer.spans.filter(_.name == "hgn").last
    val coverage = 1.0 - (tracer.selfSeconds(root) +
      tracer.spans.filter(_.name == "step").map(tracer.selfSeconds).sum) / root.seconds
    if (coverage < 0.9) {
      log(f"FAILED layer spans cover only ${coverage * 100}%.1f%% of the traced run")
      ok = false
    }
    val init = if (wl.warmStart) initTracer else tracer
    Report.perLayer(tracer, init, stats, groups,
      if (wl.warmStart) initGroups else groups, shape, cpu, put)
    val statsSecs = tracer.total(Mirror.Stats)
    put("trace.overhead_ratio", statsSecs / (cpu.wallS - statsSecs), "ratio")
    put("trace.coverage", coverage, "ratio")

    // The catalog's graph family on seeded tables; each query is one more
    // operation, failed if it throws or its result differs from the pin.
    val catalog = Catalog.write(spark, a.seed, new File(a.work, "catalog"))
    val qt = new Tracer(sc)
    for (q <- Catalog.Queries) {
      attempted += 1
      val key = s"query.$q"
      try {
        val (rows, hash) = qt.span(key)(Catalog.fingerprint(
          graft.SparkEntry.queries(q)(spark, catalog).collect()))
        val got = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}"}"""
        log(f"query $q: $got, ${qt.total(key)}%.3f s")
        a.pins.lookup(key, a.seed) match {
          case Some(p) if p != got =>
            log(s"FAILED query $q: $got expected $p"); failed += 1; ok = false
          case Some(_) => ()
          case None => log(s"no pin for this seed; measured: $key ${a.seed} $got")
        }
      } catch { case e: Exception =>
        log(s"FAILED query $q: $e"); failed += 1; ok = false
      }
      put(s"${key}_s", qt.total(key), "s")
    }
    ok
  }
}
