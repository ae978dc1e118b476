package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Single-query bench prober — the attribution tool the round-11 verdict
  * asked for when a bench number moves with no code change on its path
  * (q05: 0.36 s → 1.21 s between r10 and r11).
  *
  * Replicates Bench.scala's exact session + cache discipline for ONE
  * entry, then reports what the headline number cannot: per-pass
  * wall time, per-stage executor-side task time (a SparkListener sums
  * stage task metrics — the split between "the plan costs this" and "the
  * driver/codegen/JVM costs this"), the executed-IO scan report
  * ([[graft.operators.Metrics.scanReport]]), and the formatted physical
  * plan. Run it twice — before/after a suspect commit, or against two
  * query names whose containment relationship makes a timing impossible
  * (q05 inside q06) — and diff the output.
  *
  * Usage: runMain graft.BenchProbe <name> [passes=5] [sfDir]
  *
  * `name` is any [[BenchEntry.all]] entry or catalog query; an unknown
  * name prints the registry's names. Probe entries run against one
  * standing index built untimed before the passes, exactly like Bench.
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q05_scd2_dim")
    val passes = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val entry = BenchEntry.all.find(_.name == name)
      .orElse(Queries.all.find(_.name == name).map(q => BenchEntry.Frame(q.name, q.fn)))
      .getOrElse(sys.error(s"unknown entry: $name (any catalog query, or one of " +
        s"${BenchEntry.all.map(_.name).mkString(", ")})"))
    val cpus = Sessions.cpus
    val spark = Sessions.local("graft-benchprobe")
    val bench = new BenchRun(spark)

    // stage-level executor attribution: task time that actually ran on the
    // pool vs the wall clock the bench reports — a gap between the two is
    // driver-side cost (planning, codegen compile, JIT), not the plan
    val stageTaskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val stageCount = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-stage log for the LAST pass: (executor ms, tasks, name) — the
    // attribution the aggregate number cannot give (which operator owns
    // the task time)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageTaskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        stageCount.incrementAndGet()
        stageLog.add((sc.stageInfo.taskMetrics.executorRunTime,
          sc.stageInfo.numTasks, sc.stageInfo.name.takeWhile(_ != '\n').take(90)))
      }
    })

    // same warmup the bench gives every entry
    bench.warmUp(entry)
    bench.clearCaches()
    // Bench discipline for probe entries: the sfDir standing index exists
    // BEFORE any timed pass, so pass 1 never pays the index build
    entry match {
      case p: BenchEntry.Probe => bench.standingPath(p.index, sfDir); bench.clearCaches()
      case _ => ()
    }

    println(s"== $name @ $sfDir  (cold passes, cache cleared each) ==")
    val times = (1 to passes).map { i =>
      bench.clearCaches()
      stageTaskMs.set(0L); stageCount.set(0L); stageLog.clear()
      val t0 = System.nanoTime()
      bench.run(entry, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      bench.dropScratch()
      // listener events drain asynchronously; give them a beat
      Thread.sleep(300)
      println(f"pass $i: wall=$wall%.3f s  stages=${stageCount.get}  executorTaskTime=${stageTaskMs.get / 1000.0}%.3f s (sum across $cpus threads)")
      wall
    }
    println(f"median wall: ${times.sorted.apply(times.size / 2)}%.3f s")
    println("\n== heaviest stages of the last pass (executor ms / tasks / name) ==")
    import scala.jdk.CollectionConverters._
    stageLog.asScala.toSeq.sortBy(-_._1).take(10).foreach { case (ms, n, nm) =>
      println(f"  $ms%7d ms  tasks=$n%4d  $nm")
    }

    bench.frame(entry, sfDir) match {
      case Some(df) =>
        BenchRun.noopWrite(df)
        println("\n== scanReport (executed IO) ==")
        graft.operators.Metrics.scanReport(df).foreach { s =>
          println(s"  files=${s.filesRead} bytes=${s.bytesRead} rows=${s.rowsOutput} " +
            s"schema=${s.readSchema} pushed=${s.pushedFilters} paths=${s.rootPaths.mkString(",")}")
        }
        println("\n== physical plan ==")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case None =>
        println("\n== build entry: writes an index, no single frame to report ==")
    }
    spark.stop()
  }
}
