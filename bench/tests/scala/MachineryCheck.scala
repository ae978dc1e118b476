package graft.bench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own machinery: percentile and mean rules,
  * span arithmetic, job-group attribution and failed-operation handling.
  * Prints one line per check and exits non-zero if any fails.
  * Run through bench/tests/test_machinery.py.
  */
object MachineryCheck {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // tail percentile: the highest percentile with at least ten samples beyond it
    check("tail percentile needs 11 samples") {
      Stats.tailPercentile((1 to 10).map(_.toDouble)).isEmpty &&
        Stats.tailPercentile((1 to 11).map(_.toDouble)) == Some((9, 1.0))
    }
    check("tail percentile of 100 samples is p90") {
      Stats.tailPercentile((1 to 100).map(_.toDouble)) == Some((90, 90.0))
    }
    check("tail percentile of 1000 samples is p99") {
      Stats.tailPercentile((1 to 1000).map(_.toDouble)) == Some((99, 990.0))
    }
    check("median of even and odd counts") {
      close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0) && close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    check("geometric mean") {
      close(Stats.geomean(Seq(1.0, 4.0, 16.0)), 4.0) && close(Stats.geomean(Seq(0.3, 0.3)), 0.3)
    }
    check("geometric mean shows a 5x regression of a short entry") {
      val base = Stats.geomean(Seq(0.3, 10.0))
      close(Stats.geomean(Seq(1.5, 10.0)) / base, math.sqrt(5.0))
    }
    check("geometric mean refuses non-positive values") {
      try { Stats.geomean(Seq(1.0, 0.0)); false } catch { case _: IllegalArgumentException => true }
    }

    // self time = span minus the part its children cover
    val spans = Seq(
      Span(0, "op", None, "r", 0L, 1000L, 1000000000L, 0L),
      Span(1, "a", Some(0), "r", 100L, 400L, 300000000L, 0L),
      Span(2, "b", Some(0), "r", 300L, 600L, 300000000L, 0L),
      Span(3, "a.inner", Some(1), "r", 150L, 250L, 100000000L, 0L))
    check("self time subtracts the union of direct children") {
      close(Trace.selfSeconds(spans, spans(0)), 0.5) && close(Trace.selfSeconds(spans, spans(1)), 0.2)
    }
    check("self time of a leaf is its duration") {
      close(Trace.selfSeconds(spans, spans(3)), 0.1)
    }
    check("interval union") {
      Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L
    }
    check("innermost span at a time") {
      Trace.innermost(spans, 200L).map(_.id) == Some(3) && Trace.innermost(spans, 50L).map(_.id) == Some(0)
    }
    check("subtree") {
      Trace.subtree(spans, 1) == Set(1, 3) && Trace.subtree(spans, 0) == Set(0, 1, 2, 3)
    }

    // a failed operation is attempted and failed, never a latency sample
    check("failed operations are not latency samples") {
      val ops = new Ops
      ops.run("ok")(1)(_ => Nil)
      ops.run("throws")(throw new RuntimeException("boom"))((_: Nothing) => Nil)
      ops.run("bad output")(2)(_ => Seq("wrong"))
      ops.attempted == 3 && ops.failed == 2 && ops.latencies.size == 1 && ops.problems.size == 2
    }
    check("an operation's CPU time excludes its check") {
      val ops = new Ops
      def spin(ms: Long): Unit = { val end = System.nanoTime() + ms * 1000000L; while (System.nanoTime() < end) {} }
      ops.run("timed")(spin(50))(_ => { spin(400); Nil })
      ops.cpuSeconds.size == 1 && ops.cpuSeconds.head < 0.3 && ops.latencies.head < 0.3
    }
    check("a run-wide check failure fails every operation") {
      val ops = new Ops
      ops.run("a")(1)(_ => Nil)
      ops.run("b")(1)(_ => Nil)
      ops.failAll("final state wrong")
      ops.failed == 2 && ops.latencies.isEmpty
    }

    // jobs are attributed to the innermost open span through the job group
    val spark = SparkSession.builder().master("local[2]").appName("machinery")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t = new Tracer(spark, "t")
      t.span("outer") {
        spark.sparkContext.parallelize(1 to 10, 2).map(_ + 1).collect() // one job, no shuffle
        t.span("inner") {
          spark.range(100).repartition(3).count()
          spark.range(10).count()
        }
      }
      spark.range(5).count() // outside any span: attributed to none
      val byId = t.recorded.map(s => s.name -> s.id).toMap
      val engine = t.engine()
      check("job-group attribution: inner span owns its two jobs") {
        engine(byId("inner")).jobs >= 2 && engine(byId("outer")).jobs >= 1
      }
      check("job-group attribution: outer span does not own inner jobs") {
        engine(byId("outer")).jobs == 1 &&
          engine(byId("inner")).shuffleWriteBytes > 0 && engine(byId("outer")).shuffleWriteBytes == 0
      }
      check("job-group attribution: tasks counted") {
        engine(byId("inner")).tasks > 0 && engine(byId("outer")).tasks > 0
      }
    } finally spark.stop()

    if (failures > 0) { println(s"$failures checks failed"); sys.exit(1) }
    println("all checks passed")
  }
}
