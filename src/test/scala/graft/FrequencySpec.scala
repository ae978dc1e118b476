package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Frequency

/** Misra–Gries sketch + two-pass exact heavy hitters, stressed with a
  * high-cardinality skewed corpus (the testdata documents table has a
  * ~31-term vocabulary, which any sketch handles trivially).
  */
class FrequencySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  // ~100k items: 5 planted hot terms (10k each) over a 50k-term uniform
  // tail (~1 occurrence each) — the shape where the naive groupBy
  // shuffles 50k keys to answer a 5-row question.
  private def corpus = spark.range(100000).select(
    when(col("id") < 50000, concat(lit("hot_"), (col("id") % 5).cast("string")))
      .otherwise(concat(lit("tail_"), col("id").cast("string")))
      .as("term"))

  test("heavyHitters equals the naive exact groupBy, at any partitioning") {
    val expected = corpus.groupBy(col("term").as("item"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 5000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(expected.size == 5, "sanity: exactly the 5 planted hot terms")
    Seq(1, 7, 32).foreach { parts =>
      val got = Frequency.heavyHitters(corpus.repartition(parts), "term",
          minCount = 5000L, sketchK = 64)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == expected, s"at $parts partitions")
    }
  }

  test("nondeterministic input: pinned per the stability contract, both passes agree") {
    // rand()-derived items re-roll on every job — the exact shape the
    // scaladoc's two-pass stability contract warns about. Pinning fixes
    // one materialization for BOTH passes; the result then matches the
    // naive groupBy on the same pinned frame exactly.
    val wild = spark.range(20000).select(
      concat(lit("t_"), floor(rand(seed = 0) * 1000).cast("string")).as("term"))
    // (rand with a fixed seed is still per-JOB deterministic, so ALSO drop
    // the seed's crutch: shuffle-inject nondeterminism via a fresh uuid tag
    // would be untestable — instead pin, which is the documented remedy
    // for either case.)
    val pinned = graft.operators.Caches.pin(wild)
    try {
      val expected = pinned.groupBy(col("term").as("item"))
        .agg(count(lit(1)).as("n")).where(col("n") >= 15L)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      val got = Frequency.heavyHitters(pinned, "term", minCount = 15L, sketchK = 2048)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == expected, "pinned nondeterministic frame: passes must agree exactly")
    } finally pinned.unpersist()
  }

  test("mgSummary: bounded size, survival guarantee, total count") {
    val k = 64
    val (n, items) = Frequency.mgSummary(corpus, col("term"), k)
    assert(n == 100000L)
    assert(items.size <= k, "summary must never exceed k counters")
    // every item with true count > n/(k+1) (= ~1538) must survive
    val survivors = items.map(_._1).toSet
    (0 until 5).foreach(i => assert(survivors.contains(s"hot_$i")))
    // surviving counts are undercounts within the documented bound
    val bound = n / (k + 1)
    items.filter(_._1.startsWith("hot_")).foreach { case (_, low) =>
      assert(low <= 10000L && low >= 10000L - bound, s"count_low $low outside bound")
    }
  }

  test("exactness guard trips when the sketch is too small for the threshold") {
    val e = intercept[IllegalArgumentException] {
      Frequency.heavyHitters(corpus, "term", minCount = 100L, sketchK = 64)
    }
    assert(e.getMessage.contains("raise sketchK"))
  }

  test("items over 64KB survive partial-buffer serialization (writeUTF trap)") {
    // modified-UTF-8 caps a string at 65535 encoded bytes; a single
    // whitespace-free blob (minified JS, base64) must not crash the job
    val blob = "x" * 70000
    val items = spark.range(1000).select(
      when(col("id") % 2 === 0, blob).otherwise(concat(lit("t"), col("id"))).as("term"))
    val (n, summary) = Frequency.mgSummary(items.repartition(5), col("term"), 16)
    assert(n == 1000L)
    assert(summary.head._1 == blob && summary.head._2 >= 500L - 1000L / 17)
  }

  test("graft_mg_sketch is callable from SQL as an aggregate") {
    graft.expressions.GraftFunctions.register(spark)
    corpus.createOrReplaceTempView("freq_corpus")
    val row = spark.sql(
      "SELECT graft_mg_sketch(term, 8) AS mg FROM freq_corpus").head.getStruct(0)
    assert(row.getLong(0) == 100000L)
    val items = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).toSet
    (0 until 5).foreach(i => assert(items.contains(s"hot_$i")))
  }

  test("the MG aggregate composes with Structured Streaming (bounded-state stream summary)") {
    // A streaming heavy-hitter candidate feed: state is the O(k) summary,
    // not the distinct-item tail — the property that makes frequency
    // monitoring over an unbounded stream feasible at all.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    val input = MemoryStream[String]
    val query = input.toDF().toDF("term")
      .selectExpr("graft_mg_sketch(term, 8) AS mg")
      .writeStream.format("memory").queryName("mg_stream").outputMode("complete").start()
    try {
      input.addData(Seq.fill(50)("hot") ++ (1 to 20).map(i => s"tail_$i"): _*)
      query.processAllAvailable()
      input.addData(Seq.fill(30)("hot2") ++ (21 to 40).map(i => s"tail_$i"): _*)
      query.processAllAvailable()
      val row = spark.table("mg_stream").head.getStruct(0)
      assert(row.getLong(0) == 120L, "total spans every micro-batch")
      val items = row.getSeq[org.apache.spark.sql.Row](1)
      assert(items.size <= 8)
      val names = items.map(_.getString(0)).toSet
      assert(names.contains("hot") && names.contains("hot2"))
    } finally query.stop()
  }

  test("approxHeavyHitters: single-pass MG+CM finds the planted terms; estimates bound the truth") {
    // colliding-tail shape: 50k distinct tail terms in a 2048-wide sketch
    // guarantee collisions, so this also exercises the overestimate side
    val expected = corpus.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 5000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = Frequency.approxHeavyHitters(corpus, "term", minCount = 5000L, sketchK = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.keySet == expected.keySet,
      s"hot terms are far above the threshold margin — sets must match: $got")
    // CM law: estimate >= exact, and within the e*n/width budget here
    got.foreach { case (item, est) =>
      val exact = expected(item)
      assert(est >= exact, s"$item: CM must never underestimate ($est < $exact)")
      assert(est <= exact + (math.E * 100000 / 2048).ceil.toLong + 1,
        s"$item: estimate $est blew the error budget vs $exact")
    }
  }

  test("graft_cm_sketch is callable from SQL and decodes to the same estimates") {
    graft.expressions.GraftFunctions.register(spark)
    corpus.createOrReplaceTempView("cm_corpus")
    val row = spark.sql(
      "SELECT graft_cm_sketch(term, 1024, 4) AS cm FROM cm_corpus").head.getStruct(0)
    val cm = Frequency.CmSummary(row.getLong(0), row.getInt(1), row.getInt(2),
      row.getSeq[Long](3).toArray)
    assert(cm.n == 100000L)
    val direct = Frequency.approxHeavyHitters(corpus, "term", minCount = 10000L,
      cmWidth = 1024, cmDepth = 4).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { i =>
      assert(cm.estimate(s"hot_$i") == direct(s"hot_$i"),
        "SQL-built and Column-built sketches must agree")
      assert(cm.estimate(s"hot_$i") >= 10000L)
    }
  }

  test("candidate pruning happens before the exchange (plan shape)") {
    val (_, cand) = Frequency.mgSummary(corpus, col("term"), 64)
    val plan = corpus.where(col("term").isin(cand.map(_._1): _*))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    // the IN filter must sit under the first (partial) aggregate, not
    // after the shuffle — that is the long-tail pruning claim
    val filterIdx = plan.indexOf(" IN (hot_0")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(term")
    assert(filterIdx >= 0 && exchangeIdx >= 0 && filterIdx > exchangeIdx,
      s"filter must be below (printed after) the exchange:\n$plan")
  }
}
