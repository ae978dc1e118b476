package graft.bench

/** Sample statistics the benchmark reports. */
object Stats {

  /** CPU seconds the whole JVM has used: executor and driver threads, GC, JIT. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean; every value must be positive. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest whole percentile p that still has at least ten samples
    * above it, with its nearest-rank value — the tail a timing is reported
    * with. None when there are too few samples (fewer than 11) for any
    * percentile to have ten samples beyond it.
    */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1) // nearest-rank index, 1-based
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= 10 => (p, s(rank - 1)) }
  }
}

/** Timed operations of one workload. An operation that threw or failed its
  * output check is counted as attempted and failed and never becomes a
  * latency sample.
  */
final class Ops {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var tried = 0

  /** Run `op` timed (wall and process CPU seconds), then `check` untimed
    * on its result; returns whether the operation passed.
    */
  def run[T](label: String)(op: => T)(check: T => Seq[String]): Boolean = {
    tried += 1
    val c0 = Stats.processCpuS()
    val t0 = System.nanoTime()
    val result =
      try Right(op)
      catch { case e: Throwable => Left(s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = Stats.processCpuS() - c0
    val problems = result match {
      case Left(msg) => Seq(msg)
      case Right(v) =>
        try check(v).map(p => s"$label: $p")
        catch { case e: Throwable => Seq(s"$label check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    if (problems.isEmpty) samples += ((secs, cpu))
    else failures ++= problems
    problems.isEmpty
  }

  /** Mark already-counted ops as failed by a check that spans the run. */
  def failAll(problem: String): Unit = {
    failures += problem
    samples.clear()
  }

  def attempted: Int = tried
  def failed: Int = tried - samples.size
  def latencies: Seq[Double] = samples.map(_._1).toSeq
  def cpuSeconds: Seq[Double] = samples.map(_._2).toSeq
  def problems: Seq[String] = failures.toSeq
}
