package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Metrics}

class MetricsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("CDC merge publishes rows_in/rows_out/partitions_touched on the write action") {
    Metrics.reset()
    val silver = Files.createTempDirectory("metrics-cdc").toString + "/t"
    val d1 = Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d1, Seq("k"), Seq("p"))
    assert(Metrics.await("graft.cdc.merge").map(_.getAs[Long]("rows_out")).contains(3L))
    assert(Metrics.await("graft.cdc.fresh").map(_.getAs[Long]("rows_in")).contains(3L))
    assert(Metrics.get("graft.cdc.partitions").map(_.getAs[Long](0)).contains(2L))

    // second increment: one re-delivery + one new key, single partition
    Metrics.reset()
    val d2 = Seq((3L, "c", "p2"), (4L, "d", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d2, Seq("k"), Seq("p"))
    assert(Metrics.await("graft.cdc.fresh").map(_.getAs[Long]("rows_in")).contains(2L))
    assert(Metrics.await("graft.cdc.merge").map(_.getAs[Long]("rows_out")).contains(3L),
      "scoped merge output = existing p2 keys (2,3) + new key 4, deduped")
    assert(Metrics.get("graft.cdc.partitions").map(_.getAs[Long](0)).contains(1L),
      "only p2 touched")
  }

  test("partitioned write publishes rows written and final file count") {
    Metrics.reset()
    val path = Files.createTempDirectory("metrics-sink").toString + "/t"
    val df = Seq((1L, "p1"), (2L, "p1"), (3L, "p2"), (4L, "p3")).toDF("k", "p")
    graft.sources.Sinks.writePartitionedAtomic(df, path, Seq("p"))
    // rows ride the write action as an observe aggregate (no extra pass)
    assert(Metrics.await(graft.sources.Sinks.RowsWrittenMetric)
      .map(_.getAs[Long]("rows")).contains(4L))
    // file count comes from the sink's own post-swap metadata listing:
    // one writer task per partition value → one file per partition
    val w = Metrics.get("graft.sink.write")
    assert(w.map(_.getAs[String](0)).contains(path))
    assert(w.map(_.getAs[Long](1)).contains(3L))
  }

  test("compact publishes the files_before/files_after delta") {
    Metrics.reset()
    val path = Files.createTempDirectory("metrics-compact").toString + "/t"
    // accrete 6 small files the way streaming increments do
    (1 to 3).foreach { i =>
      Seq((i.toLong, "x"), (i + 100L, "y")).toDF("k", "v")
        .repartition(2).write.mode("append").parquet(path)
    }
    graft.sources.Sinks.compact(spark, path)
    val c = Metrics.get("graft.sink.compact")
    assert(c.map(_.getAs[String](0)).contains(path))
    val before = c.get.getAs[Long](1)
    val after = c.get.getAs[Long](2)
    assert(before == 6L, s"expected 6 accreted files, saw $before")
    assert(after == 1L, s"flat tiny table must compact to one file, saw $after")
    assert(spark.read.parquet(path).count() == 6L, "compaction must not change rows")
  }

  test("compact of a partitioned table counts the files under every partition directory") {
    Metrics.reset()
    val path = Files.createTempDirectory("metrics-compact-part").toString + "/t"
    // three increments, each landing one file in each of two partitions
    (1 to 3).foreach { i =>
      Seq((i.toLong, "a"), (i + 100L, "b")).toDF("k", "p")
        .coalesce(1).write.mode("append").partitionBy("p").parquet(path)
    }
    graft.sources.Sinks.compact(spark, path)
    val c = Metrics.get("graft.sink.compact").get
    assert(c.getAs[String](0) == path)
    assert(c.getAs[Long](1) == 6L, s"files_before must count both partitions' files, saw ${c.getAs[Long](1)}")
    assert(c.getAs[Long](2) == 2L, s"one file per partition after compaction, saw ${c.getAs[Long](2)}")
    val w = Metrics.get("graft.sink.write").get
    assert(w.getAs[String](0) == path && w.getAs[Long](1) == 2L)
    assert(spark.read.parquet(path).count() == 6L, "compaction must not change rows")
  }

  test("compact files_after ignores a concurrent sink's write metric (path-scoped)") {
    Metrics.reset()
    val a = Files.createTempDirectory("metrics-compact-a").toString + "/t"
    (1 to 3).foreach { i =>
      Seq((i.toLong, "x")).toDF("k", "v").write.mode("append").parquet(a)
    }
    // the unit guard: a last-value entry for ANOTHER path must not be read
    Metrics.put("graft.sink.write", "path" -> "/some/other/table", "files" -> 999L)
    assert(graft.sources.Sinks.writeMetricFilesFor(a).isEmpty,
      "another path's write metric must not satisfy the compact read")
    // e2e with a REAL interleaved sink: hammer path B while compacting A;
    // whichever write wins the registry race, A's files_after must reflect
    // A's actual on-disk layout, never B's file count.
    val b = Files.createTempDirectory("metrics-compact-b").toString + "/t"
    val bDf = (1 to 40).map(i => (i.toLong, s"p${i % 7}")).toDF("k", "p")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racer = new Thread(() => {
      while (!stop.get()) graft.sources.Sinks.writePartitionedAtomic(bDf, b, Seq("p"))
    })
    racer.start()
    try graft.sources.Sinks.compact(spark, a)
    finally { stop.set(true); racer.join() }
    val c = Metrics.get("graft.sink.compact").get
    assert(c.getAs[String](0) == a)
    assert(c.getAs[Long](1) == 3L, s"files_before must be A's accreted count, saw ${c.getAs[Long](1)}")
    assert(c.getAs[Long](2) == 1L,
      s"files_after must be A's compacted count (1), not B's interleaved 7, saw ${c.getAs[Long](2)}")
  }

  test("dedup run publishes hot-bucket audit numbers and hot member count") {
    Metrics.reset()
    val boiler = spark.range(500)
      .select(col("id"), lit("same boilerplate body flooding every band bucket").as("text"))
    // the pair run itself reports how many ids took the linear path
    val pairs = Dedup.minHashDedupPairs(boiler, "text", "id", threshold = 0.5, maxBucket = 50)
    assert(pairs.count() == 499)
    assert(Metrics.await("graft.dedup.hot_member_ids").map(_.getAs[Long]("ids")).contains(500L))
    // the audit frame publishes its headline numbers when executed
    val audit = Dedup.hotBuckets(boiler, "text", "id", maxBucket = 50)
    assert(audit.count() == 16)
    val row = Metrics.await("graft.dedup.hot_buckets")
    assert(row.map(_.getAs[Long]("buckets")).contains(16L))
    assert(row.map(_.getAs[Long]("max_occupancy")).contains(500L))
    assert(row.map(_.getAs[Long]("member_rows")).contains(16L * 500L))
  }

  test("a quiet corpus: hot-member metric is absent (= zero) — empty branch pruned, result correct") {
    Metrics.reset()
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "totally different words here now"))
      .toDF("id", "text")
    assert(Dedup.minHashDedupPairs(docs, "text", "id", threshold = 0.5, maxBucket = 50).count() == 0)
    // the optimizer proves the hot branch empty and prunes it, observe node
    // included — the documented absence-means-zero contract
    assert(Metrics.await("graft.dedup.hot_member_ids", timeoutMs = 2000)
      .map(_.getAs[Long]("ids")).getOrElse(0L) == 0L)
  }

  test("scanReport: executed counters and promised pruning, per scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_scanreport").toString + "/t"
    spark.range(0, 1000)
      .select(col("id"), (col("id") % 4).cast("string").as("p"))
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .where(col("p") === "2" && col("id") > 10)
      .select("id")
    q.collect()
    val scans = Metrics.scanReport(q)
    assert(scans.size === 1)
    val s = scans.head
    assert(s.rowsOutput >= 248L && s.rowsOutput <= 250L,
      s"partition 2 holds 250 rows; scan emitted ${s.rowsOutput}")
    assert(s.partitionFilters.contains("p"), "the partition predicate must prune, visibly")
    assert(s.pushedFilters.contains("GreaterThan"), "the id filter must push to parquet")
    assert(s.filesRead > 0L && s.bytesRead > 0L)
    assert(!s.readSchema.contains("p,") || s.readSchema.startsWith("struct<id"),
      s"only id should be read from data files, got ${s.readSchema}")
  }

  test("scanReport counts a reused scan once — summing the report must not double IO") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_scanreuse").toString + "/t"
    spark.range(0, 5000).select(col("id"), (col("id") % 100).as("k"))
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    // self-aggregate join: both sides shuffle the same scan on the same
    // key, so AQE's exchange reuse routes one side through
    // ReusedExchangeExec back into the SAME physical scan node
    val q = t.groupBy("k").agg(sum("id").as("a"))
      .join(t.groupBy("k").agg(max("id").as("b")), "k")
    q.collect()
    val scans = Metrics.scanReport(q)
    val plan = q.queryExecution.executedPlan.toString
    if (plan.contains("ReusedExchange"))
      assert(scans.size === 1,
        s"one physical scan behind a reused exchange must report once, got ${scans.size}:\n$plan")
    else
      assert(scans.size <= 2, s"without reuse, at most the two genuine scans:\n$plan")
    assert(scans.forall(_.rowsOutput === 5000L))
  }
}
