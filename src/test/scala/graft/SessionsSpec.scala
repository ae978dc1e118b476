package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings follow its `cpus` argument and its
  * Tungsten page size follows the heap, and the shared test session —
  * built by the same factory — carries them along with GraftExtensions.
  * No second SparkContext is started.
  */
class SessionsSpec extends AnyFunSuite {
  private val MiB = 1L << 20

  test("settings size shuffle partitions to the cpus argument") {
    val conf = Sessions.settings("4")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4")
    assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(Sessions.settings("7")("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "7")
  }

  test("the factory-built session carries the settings and GraftExtensions") {
    val spark = SparkTestSession.spark
    Sessions.settings("4").foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
    // graft_dot is injected by GraftExtensions only; no register() call here
    val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)
    assert(dot == 11.0)
  }

  test("the page size is the smallest power of two whose page table spans the unified region") {
    for ((heapGb, pageMiB) <- Seq(2 -> 1, 3 -> 1, 8 -> 1, 16 -> 2, 64 -> 8)) {
      val heap = heapGb * 1024 * MiB
      val page = Sessions.pageSize(heap)
      assert(page == pageMiB * MiB, s"$heapGb GB heap: $page")
      assert(page * 8192 >= (heap - 300 * MiB) * 0.6, s"$heapGb GB heap: $page")
    }
  }

  test("a 100-row sort and a 100-row partial aggregate each take at most 2 MiB") {
    val spark = SparkTestSession.spark
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rows = spark.range(0, 100, 1, 1)
      val sorted = rows.sortWithinPartitions(col("id").desc)
      sorted.collect()
      val sorts = sorted.queryExecution.executedPlan.collect { case s: SortExec =>
        s.metrics("peakMemory").value
      }
      val agg = rows.groupBy((col("id") % 10).as("k")).agg(sum("id"))
      agg.collect()
      val partials = agg.queryExecution.executedPlan.collect {
        case h: HashAggregateExec if h.aggregateExpressions.forall(_.mode == Partial) =>
          h.metrics("peakMemory").value
      }
      assert(sorts.size == 1 && partials.size == 1, s"sorts $sorts, partial aggregates $partials")
      (sorts ++ partials).foreach(peak => assert(peak > 0 && peak <= 2 * MiB, s"peakMemory $peak B"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
