package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: spans around the harness's calls into the
  * library's public functions, with Spark's own counters attributed
  * to the span that issued them.
  *
  * Before each call the span id goes into a SparkContext local
  * property; jobs carry their submitter's local properties, so the
  * SparkListener maps job -> span and stage -> span and charges every
  * task's metrics to it. Jobs submitted from threads that did not
  * inherit the property (none are expected) fall back to the innermost
  * open span. Planning phases and plan sizes come from the
  * QueryExecution tracker, streaming durations from query progress
  * events. Everything stays in memory; Main writes it out once, at the end.
  *
  * When tracing is on, a call returning a DataFrame is
  * localCheckpointed inside its span ([[frame]]), so that the work it
  * describes executes, and is charged, there. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var enabled = false
  private val lock = new Object

  /** With tracing off: after each call, full collections and a reading
    * of the heap in use, so that [[liveHeapPeakBytes]] is the live heap
    * at the boundaries between library calls (persisted intermediates,
    * results held by the caller). [[liveProbeNs]] is the time it took. */
  var liveProbe = false
  var liveHeapPeakBytes = 0L
  var liveProbeNs = 0L

  private def sampleLive(): Unit = {
    val t0 = System.nanoTime()
    // a collection hands dropped RDDs, shuffles and broadcasts to Spark's
    // ContextCleaner, which frees their blocks from its own thread: so
    // collect again, after a short pause, until the reading stops falling
    var prev = Long.MaxValue
    var used = heapAfterGc()
    var rounds = 1
    while (rounds < 5 && used < prev - SettledBytes) {
      Thread.sleep(50)
      prev = used
      used = heapAfterGc()
      rounds += 1
    }
    liveHeapPeakBytes = math.max(liveHeapPeakBytes, used)
    liveProbeNs += System.nanoTime() - t0
  }

  private def heapAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.Map[Int, Long]()
  var unattributedJobs = 0L
  var totalJobs = 0L
  var planningMs = 0L
  var planNodesMax = 0L
  var planCharsMax = 0L
  var cachePeakBytes = 0L
  val streamMs = mutable.Map[String, Long]().withDefaultValue(0L)
  var streamProgress = 0L

  private def count(id: Int): Counters =
    counters.getOrElseUpdate(id, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (!enabled) return
      val fromProp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt)
      val id = fromProp.orElse(open.headOption).getOrElse(-1)
      totalJobs += 1
      if (id < 0) unattributedJobs += 1
      else {
        count(id).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(id => count(id).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = count(id)
        c.tasks += 1
        if (!e.taskInfo.successful) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.execRunMs += m.executorRunTime
          c.execCpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.written += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        if (!enabled) return
        planningMs += qe.tracker.phases.values.map(_.durationMs).sum
        val plan = qe.executedPlan
        planNodesMax = math.max(planNodesMax, PlanWalk.nodes(plan).toLong)
        planCharsMax = math.max(planCharsMax, plan.treeString.length.toLong)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        if (!enabled) return
        val d = e.progress.durationMs
        if (d.containsKey("addBatch")) {
          streamProgress += 1
          Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit")
            .foreach(k => if (d.containsKey(k)) streamMs(k) += d.get(k).longValue)
        }
      }
  }

  /** Register the listeners and start recording. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Run `body` as span `name` (a no-op wrapper when tracing is off). */
  def call[T](name: String)(body: => T): T = {
    if (!enabled) {
      val r = body
      if (liveProbe) sampleLive()
      return r
    }
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val id = lock.synchronized {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime())
      spans += s
      open.push(s.id)
      s.id
    }
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      sc.setLocalProperty(SpanKey, prev)
      val storage = sc.getRDDStorageInfo.map(_.memSize).sum
      lock.synchronized {
        spans(id).end = System.nanoTime()
        open.pop()
        cachePeakBytes = math.max(cachePeakBytes, storage)
      }
    }
  }

  /** [[call]] for a call that returns a lazy frame: when tracing, the
    * frame is materialized inside the span. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    call(name) { val df = body; if (enabled) df.localCheckpoint() else df }

  /** Wait for the listener bus so every event of finished work is in. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    enabled = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-name totals over every span recorded. Self time = a span's
    * duration minus the part of it its child spans cover. */
  def byName: Map[String, SpanStat] = lock.synchronized {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (name, ss) =>
      val cs = ss.map(s => counters.getOrElse(s.id, new Counters))
      name -> SpanStat(
        ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9,
        cs.map(_.jobs).sum, cs.map(_.execCpuNs).sum / 1e9, cs.map(_.shuffleWrite).sum / MB)
    }
  }

  private def rootName(id: Int): String = {
    var s = spans(id)
    while (s.parent >= 0) s = spans(s.parent)
    s.name
  }

  /** Counters summed over every span under root spans named `root`. */
  def totalsUnder(root: String): Counters = lock.synchronized {
    val t = new Counters
    counters.foreach { case (id, c) =>
      if (rootName(id) == root) {
        t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
        t.taskFailures += c.taskFailures; t.execRunMs += c.execRunMs
        t.execCpuNs += c.execCpuNs; t.shuffleWrite += c.shuffleWrite
        t.spill += c.spill; t.gcMs += c.gcMs; t.written += c.written
      }
    }
    t
  }

  /** Bytes written by tasks of spans named `name`. */
  def writtenBy(name: String): Long = lock.synchronized {
    spans.filter(_.name == name).flatMap(s => counters.get(s.id)).map(_.written).sum
  }

  /** Wall time inside [from, to] (ns, System.nanoTime) during which no
    * job was running. Job times are wall-clock ms, so the window is
    * converted with the offset between the two clocks. */
  def noJobSeconds(fromNs: Long, toNs: Long): Double = lock.synchronized {
    val off = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val lo = fromNs / 1000000L + off
    val hi = toNs / 1000000L + off
    val iv = jobIntervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (hi - lo) - covered) / 1e3
  }

  /** Summed duration of the root spans named `name` (all roots if None). */
  def rootSeconds(name: Option[String]): Double = lock.synchronized {
    spans.filter(s => s.parent < 0 && name.forall(_ == s.name))
      .map(s => s.end - s.start).sum / 1e9
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0
  private val SettledBytes = 1L << 20

  /** Peak use so far of the JVM's non-heap pools: metaspace (loaded and
    * generated classes), compressed class space, code cache. */
  def nonHeapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum

  final case class Span(id: Int, name: String, parent: Int, start: Long) {
    var end: Long = -1L
  }

  final class Counters {
    var jobs, stages, tasks, taskFailures = 0L
    var execRunMs, execCpuNs, shuffleWrite, spill, gcMs, written = 0L
  }

  final case class SpanStat(selfS: Double, jobs: Long, execCpuS: Double, shuffleWriteMb: Double)
}

/** Node count of an executed plan, looking through adaptive
  * execution's wrapper and into subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(plan) { case p => p }.size
}
