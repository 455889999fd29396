package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Hgn
import graft.config.HgnConfig
import graft.graph.{Betweenness, Communities, EdgeWeights, HgnPipeline, PropertyGraph, RMetrics}
import graft.ml.{Cosine, DummyVectors}
import graft.plans.Lineage
import graft.sources.{GraphCsv, Sinks}

/** Per-run counts the traced mirror takes at layer boundaries. */
final class MirrorStats {
  var cuts = 0L
  var peakCachedMb = 0.0
  var betweennessRows = 0L
  val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
  var removed = 0L
  var rmetricsRows = 0L
  var keepitRows = 0L
  var weightsRows = 0L
  var sinkFiles = 0L
}

/** `Hgn.run` and `HgnPipeline.run`/`iterate` replayed through the same
  * public functions, in the same order, each result forced by
  * `Lineage.cut` where the program forces it, with a [[Tracer]] span
  * around every call. Counting rows for the statistics is extra work, so
  * it runs in [[Mirror.Stats]] spans, shows up as tracing overhead, and is
  * left out of `plans` (and, by its job group, out of the job counts).
  *
  * Any change to the program's control flow must be mirrored here. Every
  * traced run is compared with an untraced `Hgn.run` in the same process:
  * fingerprint, per-step selection counts, and the number of Spark jobs
  * and shuffle exchanges outside [[Mirror.Stats]]. A mirror that keeps the
  * results but runs other Spark work than the program fails that check.
  */
final class Mirror(tracer: Tracer, stats: MirrorStats,
    plans: Option[PlanCounters] = None)(implicit spark: SparkSession) {
  import tracer.span

  private def cut(df: DataFrame): DataFrame = {
    stats.cuts += 1
    val out = Lineage.cut(df)
    val mb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    if (mb > stats.peakCachedMb) stats.peakCachedMb = mb
    out
  }

  private def counted(body: => Unit): Unit =
    span(Mirror.Stats)(plans.fold(body)(_.excluding(spark)(body)))

  def load(conf: HgnConfig): PropertyGraph = PropertyGraph(
    GraphCsv.loadNodes(spark, conf.nodesPath, conf.featureNames,
      conf.nodesDelimiter, conf.nodesHasHeader, conf.nodesEncoding),
    GraphCsv.loadEdges(spark, conf.edgesPath, conf.edgesHaveWeights,
      conf.edgesDelimiter, conf.edgesHasHeader))

  /** The init step of `Hgn.run`: dummy vectors, cosine similarities and
    * betweenness. With `persist` it writes the warm-start cache exactly
    * as a `cached_init_step` run does.
    */
  def init(conf: HgnConfig, g: PropertyGraph, persist: Boolean): (DataFrame, DataFrame) = {
    val vectors = span("ml.dummy")(DummyVectors.create(g.vertices, conf.featuresToCheck))
    val s0 = Cosine.edgeSimilarities(g.edges, vectors).select("src", "dst", "similarity")
    val b0 = Betweenness.run(g, conf.params.maxSpLength, conf.params.maxMidDegree)
    if (persist) {
      val initDir = s"${conf.outputDir}/init"
      new File(initDir, "params.json").delete()
      val s = span("ml.cosine")(Sinks.reload(s0, initDir, "similarities"))
      val b = span("betweenness")(Sinks.reload(b0, initDir, "betweenness"))
      java.nio.file.Files.write(new File(initDir, "params.json").toPath,
        Hgn.paramsFingerprint(conf).getBytes("UTF-8"))
      counted(stats.betweennessRows = b.count())
      (s, b)
    } else {
      val s = span("ml.cosine")(cut(s0))
      val b = span("betweenness")(cut(b0))
      counted(stats.betweennessRows = b.count())
      (s, b)
    }
  }

  /** Writes the warm-start cache for `conf`, traced. */
  def precompute(conf: HgnConfig): Unit = init(conf, load(conf), persist = true)

  /** One traced `Hgn.run(conf)`; returns the final graph. */
  def run(conf: HgnConfig): PropertyGraph = span("hgn") {
    val initial = load(conf)
    val (sims, btw0) =
      if (conf.cachedInitStep) span("sources.init_read") {
        Hgn.cachedInit(s"${conf.outputDir}/init", Hgn.paramsFingerprint(conf))
          .getOrElse(sys.error("warm start expected a valid init cache"))
      } else init(conf, initial, persist = false)
    val p = conf.params
    // HgnPipeline.run
    val btw = span("sources.init_read")(cut(btw0))
    var g = span("sources.load")(
      PropertyGraph(cut(initial.vertices), cut(initial.edges)))
    var converged = false
    var step = 0
    while (!converged && step < p.maxSteps) {
      step += 1
      span("step") {
        // HgnPipeline.iterate
        val edgesR = span("rmetrics")(cut(RMetrics.run(g, p.rLvl1Thres,
          p.rLvl2Thres, p.maxMidDegree, p.splitTwoHop)))
        val weights = span("weights")(cut(
          EdgeWeights.run(edgesR, sims, p.featureMinAvg)))
        counted {
          stats.rmetricsRows += edgesR.count()
          stats.keepitRows += edgesR.filter(col("keepit")).count()
          stats.weightsRows += weights.count()
        }
        val before = g
        span("delete") {
          val toDelete = cut(HgnPipeline.edgesToDelete(
            weights, btw, p.maxEdgeWeight, p.betweennessThres))
          val n = toDelete.count()
          stats.selected += n
          if (n == 0) converged = true
          else {
            val next = HgnPipeline.deleteEdges(g, toDelete, edgesR)
            g = PropertyGraph(cut(next.vertices), cut(next.edges.distinct()))
          }
        }
        if (!converged) counted(stats.removed += before.edges.count() - g.edges.count())
      }
    }
    if (conf.saveCommunities) {
      // `Sinks.saveCommunitiesCsv` calls this itself when given no
      // components: its rounds run eagerly, the final labelling is part of
      // the sink's write.
      val comps = span("cc")(Communities.connectedComponents(g))
      span("sources.sink")(Sinks.saveCommunitiesCsv(
        g, s"${conf.outputDir}/communities", Some(comps)))
    }
    g
  }
}

object Mirror {
  /** The span, and job group, of the row counts taken for the statistics. */
  val Stats = "trace.stats"
}
