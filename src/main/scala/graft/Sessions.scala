package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The one SparkSession factory: the CLI session, Bench, BenchProbe,
  * PlanDump, Verify, MakeScale and the test harness all build through
  * [[build]], so every entry point runs the same session.
  *
  * Mirrors the session tuning the reference applies in both of its drivers
  * (reference: bronze_to_silver.py:7-18, gold_sql_to_postgres.py:8-17):
  * AQE + partition coalescing + skew-join handling, explicit shuffle
  * parallelism, bounded scan splits. Shuffle partitions default to the
  * worker-thread count (local mode) instead of the reference's 200 — on a
  * real cluster this is the knob to raise to ~2-3x total cores.
  *
  * Tungsten pages are sized by the page table, not the heap
  * ([[pageSize]]): the smallest page with which one task can still
  * address the whole unified memory region.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Codegen stability configs.
    *
    * - `useIdInClassName=false`: do NOT embed the per-query
    *   codegenStageId in generated class names (SPARK-23032's debugging
    *   aid, on by default). Under AQE the stage numbering depends on
    *   runtime stage-completion ORDER, so re-running the same query
    *   produces byte-identical generated code under a NEW class name →
    *   codegen-cache miss → janino recompile + a fresh interpreter→C2
    *   warmup for every large generated class, every run.
    * - `codegen.cache.maxEntries=4000` (static conf — set before the
    *   first session): the default 100-entry cache thrashes for a
    *   long-lived session serving this catalog (Guava's segmented LRU
    *   evicts recently-used entries once near capacity), re-paying
    *   janino+JIT on queries that ran minutes ago. Size it above the
    *   distinct generated classes a long-lived session will serve
    *   (~3.5k for the full test suite).
    */
  private val codegenDefaults = Map(
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4000")

  /** Scale-adaptive shuffle partitioning.
    *
    * Partition counts track shuffle BYTES, not a fixed core-count
    * constant: AQE coalescing with `parallelismFirst = true` targets
    * max(bytes/parallelism, minPartitionSize), i.e. byte-sized partitions
    * WITH a parallelism floor. The floor matters for compute-dense joins
    * (the LSH candidate joins), which pure advisory-size coalescing
    * collapses to one partition. `initialPartitionNum` stays at the core
    * count: a wider map side costs per-stage bucket and AQE bookkeeping
    * with nothing to amortize it at bench scale.
    *
    * `canChangeCachedPlanOutputPartitioning` lets AQE coalesce inside
    * CACHED plans; without it every operator pin (dedup prep, pagerank
    * edges+ids, probe postings subsets) materializes and is read back
    * through un-coalesced `shuffle.partitions`-wide exchanges. No graft
    * operator relies on a cache's physical partitioning.
    *
    * `spark.sql.shuffle.partitions` stays at `cpus` as the non-AQE
    * fallback so explicit `repartition(conf)` call sites keep their
    * parallelism.
    */
  private def adaptiveShuffle(cpus: String) = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cpus,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "67108864",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true")

  private val MiB = 1L << 20

  /** Tungsten page size for a JVM whose max heap is `maxHeap` bytes.
    *
    * Invariant: `pageSize × 8192 ≥ (maxHeap − 300 MiB) × 0.6` — with
    * `TaskMemoryManager`'s 8192-entry page table, one task can still
    * address the whole unified memory region. The page is the smallest
    * power of two that keeps it, and at least Spark's 1 MiB floor: 1 MiB
    * up to a heap of about 14 GB, larger only where the page table would
    * otherwise cap a task.
    *
    * Spark's default sizes the page to the heap instead (the execution
    * pool / cores / 16, rounded up to a power of two): 16 MiB at a 3 GB
    * heap and 4 cores. Every sort, hash aggregate and shuffle sorter takes
    * one whole page on its first row, so small operators held 16 MiB each.
    * A record larger than a page still gets a page of its own size, so no
    * plan, answer or spill path depends on this.
    */
  private[graft] def pageSize(maxHeap: Long): Long = {
    val unified = ((maxHeap - 300 * MiB) * 0.6).toLong
    math.max(MiB, ByteArrayMethods.nextPowerOf2((unified + 8191) / 8192))
  }

  /** Every conf a graft session sets for `cpus` local worker threads. */
  private[graft] def settings(cpus: String): Map[String, String] =
    codegenDefaults ++ adaptiveShuffle(cpus) ++ Map(
      "spark.buffer.pageSize" -> pageSize(Runtime.getRuntime.maxMemory).toString,
      "spark.sql.files.maxPartitionBytes" -> "134217728",
      "spark.sql.session.timeZone" -> "UTC",
      // The driver's `events` table carries TIMESTAMP(NANOS) parquet values,
      // which Spark 4 rejects outright; read them as raw nanos longs instead
      // (Tables.load derives a micros timestamp column from them).
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with [[settings]] and GraftExtensions. */
  def build(cpus: String, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config(settings(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(appName: String = "graft"): SparkSession = build(cpus, appName)
}
