package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's index. */
final case class Span(id: Int, name: String, parent: Option[Int],
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from outside the program, around calls to each module's
  * public functions. While a span is open its name is the Spark job group,
  * so [[SparkCounters]] attributes every task it runs to that layer.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var next = 0

  def span[A](name: String)(body: => A): A = {
    val id = next
    next += 1
    val parentGroup = Option(sc.getLocalProperty(SparkCounters.GroupKey))
    open = (id, name, System.nanoTime()) :: open
    sc.setJobGroup(name, name)
    try body
    finally {
      val (_, _, t0) = open.head
      val parent = open.tail.headOption.map(_._1)
      open = open.tail
      done += Span(id, name, parent, t0, System.nanoTime())
      parentGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Seconds per span name, summed over every span of that name. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent.contains(s.id)).map(_.seconds).sum
}

/** Task counters of one job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def add(o: Counters): Counters = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    this
  }
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
  def cpuSeconds: Double = cpuNs / 1e9
}

/** Spark listener that sums task metrics per job group. A stage belongs to
  * the group of the job that submitted it; tasks of jobs without a group
  * land in [[SparkCounters.Unattributed]], so the groups always sum to the
  * totals.
  */
final class SparkCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, Counters]

  private def acc(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.GroupKey)))
      .getOrElse(SparkCounters.Unattributed)
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(Option(stageGroup.get(e.stageId)).getOrElse(SparkCounters.Unattributed))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** A copy of the counters of every group seen so far. */
  def snapshot(): Map[String, Counters] = synchronized {
    groups.map { case (g, c) => g -> new Counters().add(c) }.toMap
  }
}

object SparkCounters {
  val GroupKey = "spark.jobGroup.id"
  val Unattributed = "(none)"
}

/** Plan shape of every successful query: shuffles and the join strategy
  * the planner (and AQE) settled on, and the analyzed plans themselves.
  * The final physical plans depend on which stage AQE saw finish first;
  * the analyzed plans depend only on the DataFrame code that built them.
  */
final class PlanCounters extends QueryExecutionListener {
  private var shape = PlanShape()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val s = shape.copy(queries = shape.queries + 1,
      analyzed = shape.analyzed + Quality.mix(PlanCounters.signature(funcName, qe)))
    shape = PlanCounters.nodes(qe.executedPlan).foldLeft(s) {
      case (a, _: ShuffleExchangeLike) => a.copy(exchanges = a.exchanges + 1)
      case (a, _: SortMergeJoinExec) => a.copy(smj = a.smj + 1)
      case (a, _: ShuffledHashJoinExec) => a.copy(shj = a.shj + 1)
      case (a, _: BroadcastHashJoinExec) => a.copy(bhj = a.bhj + 1)
      case (a, _) => a
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
  def snapshot(): PlanShape = synchronized(shape)

  /** Runs `body` without counting the queries it executes. Listener events
    * arrive asynchronously, so the bus is drained on both sides.
    */
  def excluding[A](spark: SparkSession)(body: => A): A = {
    Listeners.drain(spark)
    val before = snapshot()
    try body
    finally {
      Listeners.drain(spark)
      synchronized { shape = before }
    }
  }
}

/** Shuffles and join strategies summed over the final plans of queries;
  * the number of queries and an order-free hash of their analyzed plans.
  */
final case class PlanShape(exchanges: Long = 0, smj: Long = 0, shj: Long = 0,
    bhj: Long = 0, queries: Long = 0, analyzed: Long = 0)

object PlanCounters {
  /** The action and the operator names of its analyzed plan, in pre-order,
    * as a 64-bit hash.
    */
  def signature(funcName: String, qe: QueryExecution): Long =
    scala.util.hashing.MurmurHash3.stringHash(
      (funcName +: qe.analyzed.collect { case p => p.nodeName }).mkString(",")).toLong


  /** Every operator of a final plan, looking through AQE wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Heap after each collection, from the GC notifications of every
  * collector; `peakMb` is the largest post-GC heap since the last reset.
  */
final class HeapWatch {
  private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.this.synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized(peak / 1048576.0)
}

/** CPU time spent by the whole machine, by this process, and stolen by
  * the hypervisor, from `/proc`. Busy time minus this process's CPU is what
  * other processes took; together with steal it says whether the run
  * shared its cores. A run is flagged as disturbed when the two average
  * over half a core.
  */
final case class HostCpu(busyTicks: Long, stealTicks: Long, selfTicks: Long,
    wallNs: Long, gcMs: Long) {
  def until(later: HostCpu): HostCpu.Interval = {
    val hz = 100.0 // USER_HZ on Linux
    val wall = (later.wallNs - wallNs) / 1e9
    val self = (later.selfTicks - selfTicks) / hz
    val other = math.max(0.0, (later.busyTicks - busyTicks) / hz - self)
    HostCpu.Interval(wall, self, other, (later.stealTicks - stealTicks) / hz,
      (later.gcMs - gcMs) / 1000.0)
  }
}

object HostCpu {
  final case class Interval(wallS: Double, selfCpuS: Double,
      otherCpuS: Double, stealS: Double, gcS: Double) {
    def cpuUtil: Double = selfCpuS / (wallS * Runtime.getRuntime.availableProcessors)
    def disturbed: Boolean = (otherCpuS + stealS) / wallS > 0.5
  }

  private def read(path: String): String = {
    val s = scala.io.Source.fromFile(path)
    try s.mkString finally s.close()
  }

  def now(): HostCpu = {
    // cpu user nice system idle iowait irq softirq steal ...
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1)
      .map(_.toLong)
    val steal = if (f.length > 7) f(7) else 0L
    // fields after the parenthesised command: utime is the 12th, stime 13th
    val st = read("/proc/self/stat")
    val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
    val self = rest(11).toLong + rest(12).toLong
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    HostCpu(f(0) + f(1) + f(2) + f(5) + f(6), steal, self, System.nanoTime(), gc)
  }
}
