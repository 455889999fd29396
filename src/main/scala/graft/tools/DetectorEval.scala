package graft.tools

import graft.Hgn
import graft.config.HgnConfig
import graft.graph.{Communities, LabelProp, Modularity, PropertyGraph}
import graft.sources.GraphCsv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Detector-comparison CLI (VERDICT round 12 #7): run the engine's
  * community detectors on a config-given graph and emit the
  * g16-style modularity table as JSON — the reproducible form of the
  * round-12 Hamsterster finding (plain LPA scoring 4.4× the HGN
  * deletion-loop's Q on that graph), pointable at any user graph.
  *
  *   sbt "runMain graft.tools.DetectorEval confs/quakers.yml [lpaIters] [out.json]"
  *
  * Detectors compared on the ORIGINAL edge set (partition quality of
  * the input network — the standard convention; vertices the HGN loop
  * isolated keep singleton labels):
  *   - `hgn`       — the reference's deletion-loop communities
  *     ([[Hgn.run]] to convergence, connected components of survivors);
  *   - `cc`        — raw connected components of the input;
  *   - `lpa`       — synchronous label propagation, `lpaIters` rounds;
  *   - `singleton` — every vertex its own community (Q ≤ 0 baseline).
  *
  * Output row per detector: `q_micro` (modularity ×1e6, exact integer
  * arithmetic — see [[Modularity.score]]), `n_communities`,
  * `e_intra_total`, `m`. JSON goes to stdout (one line; progress lines
  * are stderr-prefixed `[detector-eval]`) and optionally to a file.
  */
object DetectorEval {

  /** One detector's scored row. */
  final case class Score(labeling: String, q_micro: Long,
      n_communities: Long, e_intra_total: Long, m: Long)

  /** The comparison body, session-agnostic so the spec can pin it on
    * the shared test session: runs the four detectors on `conf`'s graph
    * and scores each against the ORIGINAL canonical edge set.
    */
  def run(conf: HgnConfig, lpaIters: Int)(
      implicit spark: SparkSession): Seq[Score] = {
    val nodes0 = GraphCsv.loadNodes(spark, conf.nodesPath, conf.featureNames,
      conf.nodesDelimiter, conf.nodesHasHeader, conf.nodesEncoding)
    val edges0 = GraphCsv.loadEdges(spark, conf.edgesPath,
      conf.edgesHaveWeights, conf.edgesDelimiter, conf.edgesHasHeader)
    val g0 = PropertyGraph(nodes0, edges0)
    val canon = graft.plans.Lineage.cut(g0.canonicalEdges)
    val v0 = g0.vertices.select(col("id"))

    System.err.println(s"[detector-eval] running HGN deletion loop")
    val g = Hgn.run(conf)
    val comp = Communities.connectedComponents(g)
    val hgnLabels = v0
      .join(comp.select(col("id"), col("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("label"))

    val labelings = Seq(
      "hgn" -> hgnLabels,
      "cc" -> Communities.connectedComponents(g0)
        .select(col("id"), col("component").as("label")),
      "lpa" -> LabelProp.run(v0, canon, lpaIters),
      "singleton" -> v0.select(col("id"), col("id").as("label")))

    labelings.map { case (tag, l) =>
      System.err.println(s"[detector-eval] scoring $tag")
      val r = Modularity.score(l, canon).collect()(0)
      Score(tag, r.getAs[Long]("q_micro"), r.getAs[Long]("n_communities"),
        r.getAs[Long]("e_intra_total"), r.getAs[Long]("m"))
    }
  }

  /** The emitted artifact: detectors sorted best-Q-first. */
  def toJson(confPath: String, lpaIters: Int, rows: Seq[Score]): String = {
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    s"""{"graph":${js(confPath)},"lpa_iters":$lpaIters,""" +
      """"detectors":[""" + rows.sortBy(-_.q_micro).map { s =>
        s"""{"labeling":${js(s.labeling)},"q_micro":${s.q_micro},""" +
          s""""n_communities":${s.n_communities},""" +
          s""""e_intra_total":${s.e_intra_total},"m":${s.m}}"""
      }.mkString(",") + "]}"
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: DetectorEval <conf.yml> [lpaIters] [out.json]")
    val confPath = args(0)
    val lpaIters = args.lift(1).map(_.toInt).getOrElse(3)
    val outPath = args.lift(2)
    val conf = HgnConfig.fromFile(confPath).copy(saveCommunities = false)
    implicit val spark: SparkSession =
      Hgn.session("detector-eval", conf.sparkConf)
    spark.sparkContext.setLogLevel("WARN")
    val json = toJson(confPath, lpaIters, run(conf, lpaIters))
    println(json)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[detector-eval] wrote $p")
    }
    spark.stop()
  }
}
