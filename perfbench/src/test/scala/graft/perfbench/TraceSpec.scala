package graft.perfbench

import org.apache.spark.perfbench.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  /** Counts every task and its CPU, with no notion of groups. */
  private class Totals extends SparkListener {
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      cpuNs += e.taskMetrics.executorCpuTime
      shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  test("span attribution sums to the listener's totals") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    try {
      val sc = spark.sparkContext
      val counters = new SparkCounters
      val plans = new PlanCounters
      val totals = new Totals
      sc.addSparkListener(counters)
      sc.addSparkListener(totals)
      spark.listenerManager.register(plans)
      val tracer = new Tracer(sc)
      val df = spark.range(0, 20000).withColumn("k", col("id") % 97)
      tracer.span("outer") {
        df.groupBy("k").count().collect()
        tracer.span("inner") {
          df.join(df.select(col("k").as("k2")).distinct(), col("k") === col("k2")).count()
        }
      }
      df.count() // outside any span
      Listeners.drain(spark)
      val counted = plans.snapshot()
      plans.excluding(spark)(df.groupBy("k").count().collect())
      assert(plans.snapshot() == counted)

      val groups = counters.snapshot()
      assert(groups.keySet == Set("outer", "inner", SparkCounters.Unattributed))
      Seq("outer", "inner").foreach(g => assert(groups(g).tasks > 0, g))
      val sum = groups.values.foldLeft(new Counters)(_ add _)
      assert(sum.tasks == totals.tasks)
      assert(sum.cpuNs == totals.cpuNs)
      assert(sum.shuffleWriteBytes == totals.shuffleWrite)
      assert(groups("inner").shuffleWriteBytes > 0)
      val shape = plans.snapshot()
      assert(shape.exchanges > 0)
      assert(shape.smj + shape.shj + shape.bhj >= 1)

      val spans = tracer.spans
      val outer = spans.find(_.name == "outer").get
      val inner = spans.find(_.name == "inner").get
      assert(inner.parent.contains(outer.id))
      assert(math.abs(tracer.selfSeconds(outer) - (outer.seconds - inner.seconds)) < 1e-9)
      // the job group is restored after each span
      assert(sc.getLocalProperty(SparkCounters.GroupKey) == null)
    } finally spark.stop()
  }

  test("the analyzed-plan structure repeats and sees a dropped distinct") {
    val spark = SparkSession.builder().master("local[2]").appName("plan-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def structure(distinct: Boolean): Structure = {
        val plans = new PlanCounters
        spark.listenerManager.register(plans)
        val df = spark.range(0, 1000).withColumn("k", col("id") % 7)
        (if (distinct) df.select("k").distinct() else df.select("k")).count()
        Listeners.drain(spark)
        spark.listenerManager.unregister(plans)
        Structure.of(plans.snapshot())
      }
      val once = structure(distinct = true)
      assert(once.queries == 1)
      assert(structure(distinct = true) == once)
      assert(structure(distinct = false) != once)
    } finally spark.stop()
  }

  test("host CPU intervals are non-negative and bounded by the wall") {
    val a = HostCpu.now()
    var x = 0L
    val end = System.nanoTime() + 200000000L
    while (System.nanoTime() < end) x += 1
    val i = a.until(HostCpu.now())
    assert(i.wallS > 0.15 && i.selfCpuS >= 0 && i.otherCpuS >= 0)
    assert(i.cpuUtil <= 1.0 + 1e-9)
  }

  test("the result line is one JSON object with every metric and its unit") {
    val line = Report.json(correct = true, attempted = 3, failed = 1,
      Seq("hgn_s" -> (1.2345678901234 -> "s"), "steps" -> (4.0 -> "count")))
    assert(line == """{"correct": true, "attempted": 3, "failed": 1, "metrics": """ +
      """{"hgn_s": {"value": 1.2345678901234, "unit": "s"}, "steps": {"value": 4, "unit": "count"}}}""")
  }
}
