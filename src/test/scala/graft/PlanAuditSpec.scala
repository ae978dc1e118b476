package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these queries scale are
  * asserted here so a regression (lost filter pushdown, a broadcast that
  * degraded to sort-merge, a join sneaking into the as-of operator) fails
  * the build — not just the benchmark.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.all.find(_.name == name).get.fn(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters:"), "scan must carry pushed filters")
    assert(
      p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThan(l_discount"),
      s"shipdate/discount predicates must be pushed, got:\n$p")
    assert(!p.contains("l_comment"), "unused wide column must be pruned from ReadSchema")
  }

  test("q03: dimension side is broadcast, not shuffled") {
    val p = plan("q03_broadcast_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q06: snapshot fact resolves the SCD2 dim via broadcast range join") {
    val p = plan("q06_snapshot_fact")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), "range condition must ride the equi-join")
  }

  test("q39: as-of join compiles to window over union — zero join nodes") {
    val p = plan("q39_asof_join")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct")
      .foreach(j => assert(!p.contains(j), s"$j must not appear in as-of plan"))
    assert(p.contains("Window"), "running-window form expected")
  }

  test("q01: aggregation runs partial (map-side) before the exchange") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    // partial_sum markers show map-side combine before the shuffle
    assert(p.contains("partial_sum") || p.contains("partial_count"), s"expected partial aggregation:\n$p")
  }

  test("q05: SCD2's two window passes share one exchange on the business key") {
    val p = plan("q05_scd2_dim")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
  }

  test("q25c: exact near-dup is equi-joins only — no cartesian, no all-pairs") {
    val p = plan("q25c_jaccard_pairs_exact")
    assert(!p.contains("CartesianProduct"), s"inverted index must equi-join on shingle:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested-loop fallback:\n$p")
  }

  test("q25: LSH candidate join is equi on (band, bucket), never nested-loop") {
    val p = plan("q25_minhash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidate generation must stay an equi-join:\n$p")
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact scan") {
    // The star-join scan pattern at 100 TB: the fact side is hive-
    // partitioned, the dim filter is only known at runtime — DPP must
    // inject a subquery-duplicated filter into the fact's PartitionFilters
    // so untouched partition directories are never read.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    // non-numeric partition values: hive partition-value inference would
    // otherwise type the fact's p_bucket int vs the dim's string, and the
    // inserted join-key casts disqualify DPP. The dim predicate must be a
    // COMPARISON (EqualTo here): Spark's isLikelySelective() does not
    // count a bare boolean attribute filter, and without a "selective"
    // filter on the other side the PartitionPruning rule bails.
    val fact = spark.range(1000).select(
      col("id"), concat(lit("b"), (col("id") % 10)).as("p_bucket"))
    graft.sources.Sinks.writePartitioned(fact, s"$dir/fact", Seq("p_bucket"))
    val dim = spark.range(10).select(
      concat(lit("b"), col("id")).as("p_bucket"),
      when(col("id") < 2, "hot").otherwise("cold").as("tier"))
    graft.sources.Sinks.writePartitioned(dim, s"$dir/dim", Nil)

    val q = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").where(col("tier") === "hot"), Seq("p_bucket"))
      .groupBy("p_bucket").count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning partition filter:\n$p")
  }

  test("q97/q101: retrieval compositions never go cartesian; the candidate side broadcasts") {
    // rrfFuse's rank self-join is a non-equi comparison over k-row runs —
    // legal as BroadcastNestedLoop on bounded inputs, NEVER CartesianProduct
    val p97 = plan("q97_hybrid_rrf")
    assert(!p97.contains("CartesianProduct"), s"fusion must stay bounded:\n$p97")
    val p101 = plan("q101_hard_negatives")
    assert(!p101.contains("CartesianProduct"))
    // the load-bearing claim is the ABSENCE of a corpus-sized shuffle
    // join: the first q101 shape hinted broadcast onto a RIGHT outer join
    // (whose preserved side cannot broadcast — the hint silently dropped
    // to SortMergeJoin) and a generic contains(BroadcastHashJoin) passed
    // via an unrelated join inside BM25. Assert no sort-merge anywhere.
    assert(!p101.contains("SortMergeJoin"),
      s"the cosine projection must reach the run via broadcast semi+outer, never a shuffle join:\n$p101")
  }

  test("q102: per-round shape is equi-join + partial aggregate, nothing cartesian") {
    val p = plan("q102_pagerank_authority")
    assert(!p.contains("CartesianProduct"), s"message rounds must be equi-joins:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"inbox sums must combine map-side:\n$p")
  }

  test("partition-scoped CDC read: pruning predicate reaches PartitionFilters") {
    // the read shape mergeInto builds per partition-scoped increment: the
    // fresh frame's schema supplied (disables partition type inference
    // without touching session conf), typed equality on the partition col
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan-part").toString + "/t"
    val df = graft.sources.Tables.load(spark, sfDir, "orders")
      .withColumn("p_ym", date_format(col("o_orderdate"), "yyyyMM"))
    graft.sources.Sinks.writePartitioned(df, dir, Seq("p_ym"))
    val p = spark.read.schema(df.schema).parquet(dir)
      .where(col("p_ym") <=> lit("199406"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("199406"),
      s"partition predicate must prune, not filter post-scan:\n$p")
  }

  test("q162: GRPO advantage is agg + join-back — no window, moment side broadcastable") {
    val p = plan("q162_grpo_advantage")
    assert(!p.contains("Window"), s"group moments must not use a window sort:\n$p")
    assert(p.contains("HashAggregate"), "moments ride a hash aggregation")
  }

  test("q171: binary ANN top-k is TakeOrderedAndProject — no global sort materialization") {
    val p = plan("q171_hamming_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must ride partition heaps:\n$p")
    assert(!p.contains("CartesianProduct"), "the query code broadcasts, never crosses")
  }

  test("q169: interval overlap is an equi-join on buckets at the physical layer") {
    val p = plan("q169_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the binning decomposition must never plan a theta join:\n$p")
  }

  test("q173: length-bias report is ONE global aggregation over the joined pairs") {
    val p = plan("q173_length_bias")
    assert(!p.contains("Window"), s"Pearson sums must not window:\n$p")
    // partial/final pair of the single global agg, not per-key shuffles of text
    assert(p.contains("HashAggregate"), "integer sums ride hash aggregation")
  }

  test("q161: Bradley-Terry rounds stay bounded — pinned prep, no exchange-per-round growth") {
    val p = plan("q161_bradley_terry")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"pair-count prep must be pinned (or checkpointed) for reuse across rounds:\n$p")
    assert(!p.contains("CartesianProduct"))
  }
}
