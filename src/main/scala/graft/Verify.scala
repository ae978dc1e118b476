package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BooleanType, DateType, DoubleType, IntegerType, LongType, StringType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(); ()
  }

  /** Hashability guard (round-15, VERDICT r14 "What's wrong" #1): the
    * driver's value hasher canonicalizes DECIMAL asymmetrically between
    * its Spark-parquet read and its DuckDB-oracle fetch (q136/q138–q140
    * sat red two rounds on bit-identical values), and ARRAY/MAP/STRUCT
    * columns are unhashable outright (numpy "unhashable type"). Any
    * oracle-gated face projecting one of these fails HERE, at dump time,
    * with the fix in the message — never again as a mystery hash-FAIL in
    * the driver's report. Package-visible so VerifySpec pins it.
    */
  private[graft] def assertHashableSchema(name: String, schema: StructType): Unit =
    schema.fields.foreach { f =>
      // ALLOWLIST, not a blacklist (round-15 review): the documented rule
      // is "INT/BIGINT/DOUBLE/VARCHAR/DATE/BOOL only", and a blacklist of
      // known-bad types silently admits the NEXT asymmetric type — a raw
      // TIMESTAMP (the nanos-vs-micros events hazard the catalog header
      // warns about), FLOAT, BINARY — recreating the exact mystery-red
      // failure class this guard exists to make loud at dump time.
      f.dataType match {
        case IntegerType | LongType | DoubleType | StringType | DateType |
             BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"[verify] $name output column '${f.name}' is ${other.catalogString} — " +
            "oracle-gated gate faces must project INT/BIGINT/DOUBLE/VARCHAR/DATE/BOOL " +
            "only. Cast decimals through Queries.loudBigint (or to string when the " +
            "value can exceed long at scale); join arrays with concat_ws; cast " +
            "timestamps to date or epoch seconds. See the Queries catalog header " +
            "and .claude/skills/verify/SKILL.md.")
      }
    }

  /** Stale-output hardening (round-14, VERDICT r13 "What's wrong" #1):
    * write the query to a temp dir and atomically swap it in ONLY on
    * success; on ANY failure delete the final dir too, so a failed (or
    * skipped-by-crash) query can never present a previous run's parquet
    * to the driver's hash compare. Round 13's four red gate rows were
    * exactly this: target/verify_out held cross-SF-swapped artifacts left
    * by the old catch-and-continue overwrite. Returns true on success.
    * Package-visible so VerifySpec can pin the no-stale-output property. */
  private[graft] def dumpOne(outDir: String, name: String, run: () => DataFrame): Boolean = {
    val finalDir = new java.io.File(s"$outDir/$name")
    val tmpDir   = new java.io.File(s"$outDir/.$name.tmp")
    deleteRec(tmpDir)
    try {
      run().coalesce(1).write.mode("overwrite").parquet(tmpDir.getPath)
      deleteRec(finalDir)
      if (!tmpDir.renameTo(finalDir))
        throw new java.io.IOException(s"rename ${tmpDir.getPath} -> ${finalDir.getPath} failed")
      true
    } catch { case e: Throwable =>
      deleteRec(tmpDir)
      deleteRec(finalDir) // never leave a stale answer where the driver will hash it
      if (finalDir.exists())
        // deletion itself failed (held handle, permissions): a silent
        // stderr line here would hand the driver the PREVIOUS run's
        // parquet — the exact round-13 failure. Abort the whole dump.
        throw new IllegalStateException(
          s"[verify] $name failed AND its stale output could not be deleted: " +
            s"${finalDir.getPath} — refusing to let the driver hash a previous answer", e)
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      false
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the session every other entry point runs, so the oracle gate
    // validates results under the session the bench and CLI actually use;
    // only the default core count (4) is Verify's own
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: GRAFT_VERIFY_ONLY=q138_x,q139_y dumps (and
    // lists oracle SQL for) just those queries. The driver never sets it.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      dumpOne(outDir, name, () => {
        val df = fn(spark, sfDir)
        // only oracle-gated faces feed the driver's value hasher; the
        // no-oracle approximate faces get a rows-only check and may emit
        // whatever their operator's natural schema is
        if (SparkEntry.oracleSql.contains(name)) assertHashableSchema(name, df.schema)
        df
      })
      // same hygiene as Bench: operator-pinned prep tables must not
      // accrete storage memory across 60 queries
      graft.operators.Caches.release()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
