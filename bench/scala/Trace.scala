package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into one layer, timed from the benchmark's
  * side of the boundary. Times are wall-clock milliseconds (the clock the
  * Spark listener events carry) plus a nanosecond duration for precision.
  */
final case class Span(
    id: Int,
    name: String,
    parent: Option[Int],
    runId: String,
    startMs: Long,
    endMs: Long,
    nanos: Long,
    gcMs: Long) {
  def seconds: Double = nanos / 1e9
}

/** What the Spark listeners saw for one span's job group. */
final class EngineStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var scanBytes = 0L
  var scanFiles = 0L
  var planningMs = 0L
  /** (start, end) wall-clock ms of every job, for the no-job-running gap. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: EngineStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    scanBytes += o.scanBytes; scanFiles += o.scanFiles; planningMs += o.planningMs
    jobIntervals ++= o.jobIntervals
  }
}

/** Span recorder for the traced run. Spans nest on the calling thread (the
  * benchmark is one closed-loop client); each open span's id is the Spark
  * job group, so the listener attributes every job, stage and task to the
  * innermost span that caused it. Everything stays in memory until the run
  * ends.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String)]
  private var nextId = 0
  private val listener = new EngineListener
  sc.addSparkListener(listener)
  spark.listenerManager.register(listener.planning)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    open.push((id, name))
    sc.setJobGroup(Tracer.group(runId, id), name, interruptOnCancel = false)
    val g0 = gcMs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      val w1 = System.currentTimeMillis()
      spans += Span(id, name, parent, runId, w0, w1, nanos, gcMs() - g0)
      open.pop()
      open.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(Tracer.group(runId, pid), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Engine statistics per span id, once the listener bus has drained. */
  def engine(): Map[Int, EngineStats] = {
    listener.drain(sc)
    val bySpan = mutable.Map.empty[Int, EngineStats]
    listener.byGroup.asScala.foreach { case (g, st) =>
      Tracer.spanOf(runId, g).foreach(id => bySpan.getOrElseUpdate(id, new EngineStats).add(st))
    }
    // planning phases carry wall-clock times, not a job group: give each
    // to the innermost span open when it started
    listener.planningPhases.asScala.foreach { case (startMs, ms) =>
      Trace.innermost(spans.toSeq, startMs).foreach { s =>
        bySpan.getOrElseUpdate(s.id, new EngineStats).planningMs += ms
      }
    }
    bySpan.toMap
  }
}

object Tracer {
  def group(runId: String, id: Int): String = s"graftbench-$runId-$id"
  def spanOf(runId: String, group: String): Option[Int] =
    if (group.startsWith(s"graftbench-$runId-"))
      group.stripPrefix(s"graftbench-$runId-").toIntOption
    else None
}

/** Pure span arithmetic, kept apart from Spark so it can be tested alone. */
object Trace {

  /** Total length of the union of closed intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time in seconds: its duration minus the part of its
    * interval its direct children cover.
    */
  def selfSeconds(all: Seq[Span], span: Span): Double = {
    val kids = all.filter(_.parent.contains(span.id))
    val coveredMs = covered(kids.map(k => (k.startMs.max(span.startMs), k.endMs.min(span.endMs))))
    // children cover at most the parent; scale by the precise duration
    val wallMs = (span.endMs - span.startMs).max(1L)
    span.seconds * (1.0 - coveredMs.toDouble / wallMs).max(0.0)
  }

  /** The innermost span whose interval holds `atMs`. */
  def innermost(all: Seq[Span], atMs: Long): Option[Span] = {
    val holding = all.filter(s => s.startMs <= atMs && atMs <= s.endMs)
    def depth(s: Span): Int = s.parent.flatMap(p => all.find(_.id == p)).map(depth(_) + 1).getOrElse(0)
    if (holding.isEmpty) None else Some(holding.maxBy(s => (depth(s), s.startMs)))
  }

  /** Every span id in the subtree rooted at `root`. */
  def subtree(all: Seq[Span], root: Int): Set[Int] = {
    val kids = all.filter(_.parent.contains(root)).map(_.id)
    kids.flatMap(subtree(all, _)).toSet ++ kids + root
  }
}

/** Spark listener that sums engine counters per job group. Only the traced
  * run registers it.
  */
final class EngineListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, EngineStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  /** accumulator id -> "files" or "bytes" of a file scan's SQL metrics */
  private val scanAccums = new ConcurrentHashMap[Long, String]()
  val planningPhases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def stats(g: String): EngineStats = byGroup.computeIfAbsent(g, _ => new EngineStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      jobGroup.put(e.jobId, grp)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroup.put(_, grp))
      stats(grp).synchronized { stats(grp).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val st = stats(g)
      st.synchronized { st.jobIntervals += ((jobStart.get(e.jobId).longValue, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val st = stats(g)
      st.synchronized { st.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      val st = stats(g)
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.executorRunMs += m.executorRunTime
          st.executorCpuNs += m.executorCpuTime
          st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled
          st.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  private def registerScans(exec: Long, info: SparkPlanInfo): Unit = {
    def walk(p: SparkPlanInfo): Unit = {
      p.metrics.foreach { m =>
        if (m.name == "number of files read") scanAccums.put(m.accumulatorId, "files")
        else if (m.name == "size of files read") scanAccums.put(m.accumulatorId, "bytes")
      }
      p.children.foreach(walk)
    }
    walk(info)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      e.jobGroupId.foreach(g => execGroup.put(e.executionId, g))
      registerScans(e.executionId, e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      registerScans(e.executionId, e.sparkPlanInfo)
    case e: SparkListenerDriverAccumUpdates =>
      Option(execGroup.get(e.executionId)).foreach { g =>
        val st = stats(g)
        st.synchronized {
          e.accumUpdates.foreach { case (id, v) =>
            scanAccums.get(id) match {
              case "files" => st.scanFiles += v
              case "bytes" => st.scanBytes += v
              case _ =>
            }
          }
        }
      }
    case _ =>
  }

  /** Analysis + optimization + planning time of every query that ran. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => planningPhases.add((p.startTimeMs, p.durationMs)))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BusDrain(sc)
}
