package graft

/** Benchmark main: times each [[BenchEntry.all]] entry at
  * SPARK_GRAFT_SF_DIR: three cold and three warm passes per entry. It
  * prints the raw passes as one JSON line (also written to
  * SPARK_GRAFT_BENCH_OUT), then its one summary, `min_cold`, as the last
  * line. Probes run against ONE standing index built (untimed) per
  * scale factor; builds land in a fresh scratch dir per pass.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    val bench = new BenchRun(spark)
    val entries = BenchEntry.all

    // JVM/codegen warmup on the smallest scale factor (also builds the
    // sf0.001 standing indexes, so the bench-SF standing-index build below
    // runs with a warmed JVM).
    entries.foreach { e =>
      try bench.warmUp(e)
      catch { case _: Throwable => () }
    }
    // standing indexes for the probe entries, built once at the bench SF
    // OUTSIDE any timed pass
    BenchEntry.standingIndexes.foreach(bench.standingPath(_, sfDir))
    bench.clearCaches()

    // Three timed passes per query, cold cache each: a single pass
    // conflates the query with GC/scheduling noise, and the spread of
    // three tells noise from a regression. Three WARM passes (no cache
    // clear, repeated immediately) separate steady-state query cost from
    // first-touch overhead (scan/codegen/JIT): a cold-warm gap with a
    // small warm time means fixed overhead, not a plan problem.
    def timed(e: BenchEntry): Double = {
      val t0 = System.nanoTime()
      try bench.run(e, sfDir)
      catch { case ex: Throwable => System.err.println(s"[bench] ${e.name}: ${ex.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }
    case class R(name: String, passes: Seq[Double], warmPasses: Seq[Double])
    val results = entries.map { e =>
      val passes = (1 to 3).map { _ => bench.clearCaches(); val t = timed(e); bench.dropScratch(); t }
      val warmPasses = (1 to 3).map { _ => val t = timed(e); bench.dropScratch(); t }
      R(e.name, passes, warmPasses)
    }
    // The raw passes per query: their spread distinguishes run-to-run
    // noise from a real regression.
    def passesJson(f: R => Seq[Double]) = results
      .map(r => "\"" + r.name + "\":[" + f(r).mkString(",") + "]")
      .mkString("{", ",", "}")
    // Per-entry executed-scan IO (files/bytes/rows actually read), from one
    // UNTIMED cold pass after the timing samples: every round-over-round
    // timing delta now carries its IO denominator, so a testdata
    // regeneration that changes the workload (the r9 confound) is visible
    // in the bench artifact itself instead of requiring an mtime autopsy.
    // Counter a scan node cannot report is −1 (never 0); a −1 poisons the
    // entry's sum because a partial total would read as "less IO".
    // Build entries write indexes rather than returning a frame → absent.
    // Operators that eagerly checkpoint inside the call (q114's connected
    // components) report scans:0 — their file reads happened in checkpoint
    // rounds whose plans are gone by the time the result frame exists.
    def sumKnown(xs: Seq[Long]): Long = if (xs.contains(-1L)) -1L else xs.sum
    val scanIoJson = entries.flatMap { e =>
      bench.clearCaches()
      bench.frame(e, sfDir).map { df =>
        // execute the frame's OWN QueryExecution (a noop write plans a new
        // one, leaving these scan metrics at zero); toRdd keeps it
        // distributed — nothing deserializes to the driver
        try df.queryExecution.toRdd.foreach(_ => ())
        catch { case ex: Throwable => System.err.println(s"[bench] scan_io ${e.name}: ${ex.getMessage}") }
        val scans = graft.operators.Metrics.scanReport(df)
        "\"" + e.name + "\":{\"scans\":" + scans.size +
          ",\"files\":" + sumKnown(scans.map(_.filesRead)) +
          ",\"bytes\":" + sumKnown(scans.map(_.bytesRead)) +
          ",\"rows\":" + sumKnown(scans.map(_.rowsOutput)) + "}"
      }
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"queries_cold_passes":${passesJson(_.passes)},""" +
        s""""queries_warm_passes":${passesJson(_.warmPasses)},"scan_io":$scanIoJson,"sf":"$sfDir"}"""
    println(fullLine)
    // The driver's BENCH_r{N}.json records only a ~2,000-char tail of
    // stdout; the per-pass arrays that adjudicate noise-vs-regression
    // (this container's documented ±50% floor) were truncated away in
    // r18 and the headline read as a 1.85x phantom regression until two
    // independent re-runs said otherwise. Land the FULL artifact at a
    // stable path (committed per round as the repo's own record), so the
    // recorded number always carries its error bar (VERDICT r18 item 5).
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LATEST.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(benchOut),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case ex: Throwable =>
        System.err.println(s"[bench] could not write $benchOut: ${ex.getMessage}")
    }
    // The recorded BENCH_r{N}.json keeps only the LAST ~2,000 chars of
    // stdout, which truncated the full line above to its tail half —
    // cross-round per-entry audits then leaned on BENCH_NOTES prose for
    // the lost first half (VERDICT r15 item 6). This LAST line is the
    // compact recorded artifact: per-entry min-of-3 cold (the number the
    // round-over-round comparisons actually use), small enough to
    // survive the tail cut whole.
    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val minJson = results
      .map(r => "\"" + r.name + "\":" + fmt(r.passes.min)).mkString("{", ",", "}")
    println(s"""{"metric":"min_cold","value":${fmt(results.map(_.passes.min).sum)},""" +
      s""""unit":"sec","queries":$minJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
