package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Caches

/** The benchmark's JVM side. `run.py` generates the inputs, writes a plan
  * (java properties) and starts this main with the plan's path; the main
  * sets up, drives one workload closed-loop for the planned seconds,
  * checks every output and writes `result.json` next to the plan.
  *
  * With tracing off nothing but the timed calls runs. With tracing on,
  * untraced operations alternate with traced ones, which run each layer
  * under a span with its output forced at the boundary; the difference of
  * the two medians, over warm operations, is the tracing overhead.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    Memory.watch()
    val t0 = System.nanoTime()
    val spark = Sessions.local("graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try {
        val w: Workload = plan("workload") match {
          case "medallion_full" => new Medallion(spark, plan)
          case "index_ingest" => new IndexIngest(spark, plan)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Runner.drive(spark, plan, w, sessionS)
      } finally spark.stop()
    Files.write(Paths.get(plan("run_dir"), "result.json"), result.getBytes(StandardCharsets.UTF_8))
  }
}

/** Key/value plan written by run.py. */
final class Plan(props: java.util.Properties) {
  def apply(k: String): String =
    Option(props.getProperty(k)).getOrElse(throw new NoSuchElementException(s"plan has no $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def get(k: String): Option[String] = Option(props.getProperty(k))
  def dir(k: String): String = s"${apply("run_dir")}/${apply(k)}"
  def cpus: Int = int("cpus")
  def seconds: Double = apply("seconds").toDouble
  def trace: Boolean = apply("trace") == "1"
}

object Plan {
  def load(path: String): Plan = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    new Plan(p)
  }
}

/** Per-operation part timings (wall and process CPU seconds), committed
  * only when the operation passes.
  */
final class Parts {
  private val pending = mutable.LinkedHashMap.empty[String, (Double, Double)]
  private val kept = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = Stats.processCpuS()
    try body
    finally {
      val (w, c) = pending.getOrElse(name, (0.0, 0.0))
      pending(name) = (w + (System.nanoTime() - t0) / 1e9, c + Stats.processCpuS() - c0)
    }
  }
  def commit(ok: Boolean): Unit = {
    if (ok) pending.foreach { case (k, v) => kept.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    pending.clear()
  }
  def wallMedians: Seq[Double] = kept.values.map(v => Stats.median(v.map(_._1).toSeq)).toSeq
  /** Floored at 1 ms so a part too short to register CPU keeps the mean defined. */
  def cpuMedians: Seq[Double] = kept.values.map(v => Stats.median(v.map(_._2).toSeq).max(1e-3)).toSeq
}

/** One workload: standing state built in `prepare`, one timed closed-loop
  * operation in `op`, its untimed output check in `check`. Operations are
  * numbered 0, 1, ...; operation 0 is the run's first, cold pass.
  */
trait Workload {
  def name: String
  /** Build the standing state the operations need (untimed, part of setup). */
  def prepare(): Unit
  /** Untimed bookkeeping right before operation `i`. */
  def before(i: Int): Unit = ()
  /** One timed operation; returns what the check needs. */
  def op(ctx: Ctx, i: Int): Any
  /** Problems found in one operation's output (empty = correct). */
  def check(i: Int, out: Any): Seq[String]
  /** Workload-specific metrics, after the run. */
  def extra(): Map[String, Double] = Map.empty
}

/** What an operation runs under: the part timer, and the tracer when the
  * operation is a traced one.
  */
final class Ctx(val parts: Parts, val tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
}

object Runner {

  private val t0 = System.nanoTime()
  /** Progress line in the JVM log, seconds since the run started. */
  def note(msg: String): Unit = System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%8.2f $msg")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def drive(spark: SparkSession, plan: Plan, w: Workload, sessionS: Double): String = {
    val t0 = System.nanoTime()
    note("prepare")
    w.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9
    note("measure")
    Caches.release(blocking = true)
    spark.catalog.clearCache()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val plain = new Ops
    val plainParts = new Parts
    val traced = new Ops
    val tracedParts = new Parts
    val tracer = if (plan.trace) Some(new Tracer(spark, plan("seed"))) else None
    val tracedRoots = mutable.ArrayBuffer.empty[Int]
    val minOps = plan.int("min_ops")
    val maxOps = plan.int("max_ops")
    val plainCtx = new Ctx(plainParts, None)
    val tracedCtx = new Ctx(tracedParts, tracer)
    // tracing on: untraced and traced operations alternate, starting with
    // the untraced cold pass, and at least one of each follows it, so the
    // overhead compares warm operations only
    val floor = if (tracer.isEmpty) minOps else 3
    val start = System.nanoTime()
    var i = 0
    while (((System.nanoTime() - start) / 1e9 < plan.seconds || i < floor) && i < maxOps) {
      val (ops, ctx) = if (tracer.isDefined && i % 2 == 1) (traced, tracedCtx) else (plain, plainCtx)
      val k = i
      val before = ctx.tracer.map(_.recorded.size)
      w.before(k)
      val ok = ops.run(s"${w.name}#$k")(ctx.span("op")(w.op(ctx, k)))(w.check(k, _))
      ctx.parts.commit(ok)
      note(s"op $k ok=$ok")
      ctx.tracer.foreach(t => t.recorded.drop(before.get).find(_.parent.isEmpty).foreach(tracedRoots += _.id))
      Caches.release(blocking = true)
      spark.catalog.clearCache()
      i += 1
    }
    note("done")

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (plain.latencies.nonEmpty) {
      e2e("op_cpu_s") = Stats.median(plain.cpuSeconds)
      e2e("part_cpu_geomean_s") = Stats.geomean(plainParts.cpuMedians)
      layers("op_wall_s") = Stats.median(plain.latencies)
      layers("part_geomean_s") = Stats.geomean(plainParts.wallMedians)
    }
    e2e("setup_s") = setupS
    e2e("peak_live_mb") = Memory.peakLiveMb
    layers("peak_rss_mb") = Memory.vmHwmMb()
    layers("sessions.session_s") = sessionS
    layers("setup.prepare_s") = prepareS
    tracer.foreach { t =>
      Layers.fill(layers, t, tracedRoots.toSeq, traced, plain, spark)
      // the top-level span must be fully accounted for by self + children
      val wall = layers("trace.op_wall_s")
      val acct = layers("trace.op_self_s") + layers("trace.op_children_s")
      if (math.abs(acct - wall) > 0.01 * wall) traced.failAll(s"traced op: self + children = $acct s, wall = $wall s")
    }
    layers ++= w.extra()
    val attempted = plain.attempted + traced.attempted
    val failed = plain.failed + traced.failed
    val problems = plain.problems ++ traced.problems
    layers("ops_failed_ratio") = failed.toDouble / attempted.max(1)
    Json.result(attempted, failed, problems, e2e.toMap, layers.toMap,
      plain.latencies, traced.latencies, tracer.map(_.recorded).getOrElse(Nil))
  }
}

/** The JVM's memory: the program's live memory at its peak, and the
  * process's peak resident set.
  */
object Memory {
  @volatile private var peakBytes = 0L

  /** Live memory after a collection: every pool's usage right after it
    * (heap that survived, metaspace, code cache). It leaves out the free
    * heap the collector keeps, so its maximum over the run follows what the
    * program held rather than how far the collector grew the heap.
    */
  def watch(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { peakBytes = peakBytes.max(live) }
          }
        }, null, null)
      case _ =>
    }

  def peakLiveMb: Double = peakBytes / (1024.0 * 1024.0)

  def vmHwmMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Per-layer metrics of the traced operations. */
object Layers {
  def fill(
      out: mutable.Map[String, Double],
      t: Tracer,
      roots: Seq[Int],
      traced: Ops,
      plain: Ops,
      spark: SparkSession): Unit = {
    val spans = t.recorded
    val engine = t.engine()
    val n = roots.size.max(1)
    val inRoots: Map[Int, Set[Int]] = roots.map(r => r -> Trace.subtree(spans, r)).toMap
    // per-name span time, summed within an operation, median over operations
    def perOp(pred: Span => Boolean): Double =
      if (roots.isEmpty) 0.0
      else Stats.median(roots.map(r => spans.filter(s => inRoots(r)(s.id) && pred(s)).map(_.seconds).sum))
    val names = spans.map(_.name).distinct
    names.filter(_ != "op").foreach(nm => out(nm) = perOp(_.name == nm))
    // engine totals per operation (mean over traced operations)
    val total = new EngineStats
    roots.foreach(r => inRoots(r).foreach(id => engine.get(id).foreach(total.add)))
    val rootSpans = spans.filter(s => roots.contains(s.id))
    val wallS = rootSpans.map(_.seconds).sum
    val gapMs = rootSpans.map { r =>
      val jobs = inRoots(r.id).toSeq.flatMap(id => engine.get(id).toSeq.flatMap(_.jobIntervals))
        .map { case (a, b) => (a.max(r.startMs), b.min(r.endMs)) }.filter(x => x._2 > x._1)
      (r.endMs - r.startMs) - Trace.covered(jobs)
    }.sum
    out("spark.planning_s") = total.planningMs / 1000.0 / n
    out("spark.jobs") = total.jobs.toDouble / n
    out("spark.stages") = total.stages.toDouble / n
    out("spark.tasks") = total.tasks.toDouble / n
    out("spark.executor_run_s") = total.executorRunMs / 1000.0 / n
    out("spark.executor_cpu_s") = total.executorCpuNs / 1e9 / n
    out("spark.gc_s") = rootSpans.map(_.gcMs).sum / 1000.0 / n
    out("spark.busy_share") =
      if (wallS > 0) total.executorRunMs / 1000.0 / (wallS * spark.sparkContext.defaultParallelism) else 0.0
    out("spark.driver_gap_s") = gapMs / 1000.0 / n
    out("spark.shuffle_read_bytes") = total.shuffleReadBytes.toDouble / n
    out("spark.shuffle_write_bytes") = total.shuffleWriteBytes.toDouble / n
    out("spark.spill_bytes") = total.spillBytes.toDouble / n
    out("spark.scan_bytes") = total.scanBytes.toDouble / n
    out("spark.scan_files") = total.scanFiles.toDouble / n
    out("spark.output_bytes") = total.outputBytes.toDouble / n
    val self = rootSpans.map(s => Trace.selfSeconds(spans, s)).sum
    val kids = rootSpans.map(r => spans.filter(_.parent.contains(r.id)).map(_.seconds).sum).sum
    out("trace.op_wall_s") = wallS / n
    out("trace.op_self_s") = self / n
    out("trace.op_children_s") = kids / n
    if (traced.latencies.nonEmpty && plain.latencies.size > 1)
      out("trace.overhead_s") = Stats.median(traced.latencies) - Stats.median(plain.latencies.drop(1))
    names.filter(_.startsWith("catalog.")).foreach { nm =>
      val ids = spans.filter(s => s.name == nm).map(_.id)
      out(s"${nm.stripSuffix(".s")}.jobs") = ids.flatMap(engine.get).map(_.jobs).sum.toDouble / ids.size.max(1)
    }
  }
}

/** Directory snapshots: which files an operation wrote. */
object Dirs {
  final case class Written(bytes: Long, files: Long, dirs: Set[String])

  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def keys(root: String): Set[AnyRef] =
    walk(root).map(p => Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet

  /** Data files (not checksums or markers) under `root` absent from `before`. */
  def written(root: String, before: Set[AnyRef]): Written = {
    val fresh = walk(root).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") &&
        !before.contains(Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
    }
    Written(fresh.map(Files.size).sum, fresh.size.toLong, fresh.map(_.getParent.toString).toSet)
  }

  def rmrf(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

}

/** Order-independent digests of frames, for output checks. */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(lit(0xFFFFFFFL))))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def result(
      attempted: Int,
      failed: Int,
      problems: Seq[String],
      e2e: Map[String, Double],
      layers: Map[String, Double],
      plain: Seq[Double],
      traced: Seq[Double],
      spans: Seq[Span]): String = {
    val spanJson = spans.map { s =>
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent.map(_.toString).getOrElse("null")},""" +
        s""""run":${str(s.runId)},"start_ms":${s.startMs},"end_ms":${s.endMs},"s":${num(s.seconds)}}"""
    }.mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""problems":${problems.take(50).map(str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)},""" +
      s""""samples_s":${plain.map(num).mkString("[", ",", "]")},""" +
      s""""tail_s":${Stats.tailPercentile(plain).map { case (p, v) => s"[$p,${num(v)}]" }.getOrElse("null")},""" +
      s""""traced_samples_s":${traced.map(num).mkString("[", ",", "]")},""" +
      s""""spans":$spanJson}"""
  }
}
