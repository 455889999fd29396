package graft.perfbench

/** The result line and the per-layer metrics of a traced run. */
object Report {

  /** The one-line JSON summary: `correct`, `attempted`, `failed` and every
    * metric by name with its unit. Values are printed with all digits.
    */
  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String = {
    def num(v: Double) =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a number")
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** The Spark layers whose task counters are reported one by one. */
  val SparkSpans: Seq[String] =
    Seq("betweenness", "rmetrics", "weights", "delete", "cc", "sources.sink")

  /** Task counters summed over every job group but [[Mirror.Stats]]. */
  def programJobs(groups: Map[String, Counters]): Counters =
    groups.removed(Mirror.Stats).values.foldLeft(new Counters)(_ add _)

  /** Each part of a traced run as a share of its wall: the CSV load, the
    * init layers (or the init-cache read), the first step, the later steps,
    * connected components, the sink, and the rest.
    */
  def shares(t: Tracer): Seq[(String, Double)] = {
    val wall = t.total("hgn")
    val steps = t.spans.filter(_.name == "step").map(_.seconds)
    val parts = Seq(
      "load" -> t.total("sources.load"),
      "init" -> Seq("ml.dummy", "ml.cosine", "betweenness", "sources.init_read")
        .map(t.total).sum,
      "step1" -> steps.headOption.getOrElse(0.0),
      "step_tail" -> steps.drop(1).sum,
      "cc" -> t.total("cc"),
      "sink" -> t.total("sources.sink"))
    (parts :+ ("other" -> (wall - parts.map(_._2).sum))).map { case (k, v) => k -> v / wall }
  }

  /** `t` traced the run; `init` and `initGroups` are where the init layers
    * ran, the run itself or, on a warm start, the precompute of its cache.
    */
  def perLayer(t: Tracer, init: Tracer, st: MirrorStats,
      groups: Map[String, Counters], initGroups: Map[String, Counters],
      plan: PlanShape, cpu: HostCpu.Interval,
      put: (String, Double, String) => Unit): Unit = {
    def steps = t.spans.filter(_.name == "step")
    def firstIn(layer: String) = {
      val first = steps.head.id
      t.spans.filter(s => s.name == layer && s.parent.contains(first)).map(_.seconds).sum
    }
    put("sources.load_s", t.total("sources.load"), "s")
    put("sources.init_read_s", t.total("sources.init_read"), "s")
    put("sources.sink_s", t.total("sources.sink"), "s")
    put("sources.sink_files", st.sinkFiles.toDouble, "count")
    put("ml.dummy_s", init.total("ml.dummy"), "s")
    put("ml.cosine_s", init.total("ml.cosine"), "s")
    put("betweenness_s", init.total("betweenness"), "s")
    put("betweenness.rows", st.betweennessRows.toDouble, "count")
    put("rmetrics_s", t.total("rmetrics"), "s")
    put("rmetrics.step1_s", firstIn("rmetrics"), "s")
    put("rmetrics.keepit_ratio", st.keepitRows.toDouble / st.rmetricsRows, "ratio")
    put("weights_s", t.total("weights"), "s")
    put("weights.step1_s", firstIn("weights"), "s")
    put("weights.rows", st.weightsRows.toDouble, "count")
    put("steps", steps.size.toDouble, "count")
    put("step1_s", steps.head.seconds, "s")
    val tail = steps.drop(1).map(_.seconds).sorted
    put("step_tail_s", if (tail.isEmpty) 0.0 else tail(tail.size / 2), "s")
    put("delete_s", t.total("delete"), "s")
    put("delete.selected", st.selected.sum.toDouble, "count")
    put("delete.removed", st.removed.toDouble, "count")
    put("delete.useful_ratio", st.removed.toDouble / math.max(st.selected.sum, 1L), "ratio")
    put("lineage.cuts", st.cuts.toDouble, "count")
    put("lineage.peak_cached_mb", st.peakCachedMb, "MB")
    put("cc_s", t.total("cc"), "s")
    for (s <- SparkSpans) {
      val c = (if (s == "betweenness") initGroups else groups).getOrElse(s, new Counters)
      val key = s.stripPrefix("sources.")
      put(s"spark.$key.cpu_s", c.cpuSeconds, "s")
      put(s"spark.$key.shuffle_mb", c.shuffleMb, "MB")
      put(s"spark.$key.spill_mb", c.spillMb, "MB")
    }
    val all = programJobs(groups)
    put("spark.tasks", all.tasks.toDouble, "count")
    put("spark.jobs", all.jobs.toDouble, "count")
    put("spark.exchanges", plan.exchanges.toDouble, "count")
    put("spark.smj", plan.smj.toDouble, "count")
    put("spark.shj", plan.shj.toDouble, "count")
    put("spark.bhj", plan.bhj.toDouble, "count")
    put("jvm.gc_s", cpu.gcS, "s")
    put("host.other_cpu_s", cpu.otherCpuS, "s")
    put("host.steal_s", cpu.stealS, "s")
    put("host.cpu_util", cpu.cpuUtil, "ratio")
  }
}
