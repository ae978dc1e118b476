package graft

/** Optimization-round measurement tool: dumps the EXECUTED (AQE-final)
  * `explain("formatted")` plan of every frame-shaped bench entry to
  * `<outDir>/<entry>_<suffix>.txt` — the before/after plan evidence the
  * optimization rounds commit under plans/r{N}/.
  *
  * Usage: runMain graft.PlanDump <suffix> <outDir>   (both REQUIRED —
  * a round-baked default outDir silently overwrote the previous round's
  * committed evidence; ADVICE r19). Exits non-zero if any entry's dump
  * failed, so a half-failed pass cannot read as success to a driver
  * script.
  *
  * Each frame is executed once (`toRdd.foreach`, nothing collected) so the
  * dumped plan is the final adaptive plan with runtime join strategies and
  * AQEShuffleRead nodes, not the `isFinalPlan=false` estimate. Probe
  * entries run against a standing index built untimed first, exactly like
  * Bench. Build entries write indexes rather than returning one frame, so
  * they have no single plan to dump — their internal shapes are probed via
  * BenchProbe / targeted dumps when touched.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.PlanDump <suffix> <outDir> — both required (a default " +
        "outDir silently overwrites the previous round's committed plans)")
    val suffix = args(0)
    val outDir = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-plandump")
    val bench = new BenchRun(spark)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = List.empty[String]
    BenchEntry.all.foreach { e =>
      bench.clearCaches()
      try bench.frame(e, sfDir).foreach { df =>
        df.queryExecution.toRdd.foreach(_ => ())
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${e.name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${e.name}_$suffix.txt")
      } catch {
        case ex: Throwable =>
          failed ::= e.name
          System.err.println(s"[plandump] ${e.name} FAILED: ${ex.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] FAILED entries: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
