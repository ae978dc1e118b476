package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BatchTable
import graft.streaming.Streams
import graft.streaming.Streams.{ClosedSession, Evt}

/** Structured Streaming operators driven through MemoryStream micro-batches:
  * watermark advancement, window finalization, and custom
  * flatMapGroupsWithState session closure.
  */
class StreamsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("windowedStats finalizes tumbling windows as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = Streams
      .windowedStats(input.toDF(), "ts", "user_id", "value", "10 minutes", watermark = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("win_stats")
      .outputMode("append")
      .start()
    try {
      val t0 = 1700000400L // window-aligned (multiple of 600)
      input.addData(Evt(1L, ts(t0 + 10), 1.0), Evt(1L, ts(t0 + 20), 2.0))
      query.processAllAvailable()
      // Watermark still inside window 1 → nothing finalized yet.
      assert(spark.table("win_stats").count() == 0)
      // An event two windows later pushes the watermark past window 1's end.
      input.addData(Evt(1L, ts(t0 + 1300), 5.0))
      query.processAllAvailable()
      val out = spark.table("win_stats").collect()
      assert(out.length == 1)
      assert(out.head.getAs[Long]("n_events") == 2)
      assert(out.head.getAs[Double]("window_value") == 3.0)
    } finally query.stop()
  }

  test("sessionWindowStats merges gap-close events and emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = Streams
      .sessionWindowStats(input.toDF(), "ts", "user_id", "value", gap = "30 minutes",
        watermark = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("sess_stats")
      .outputMode("append")
      .start()
    try {
      val t0 = 1700000000L
      input.addData(Evt(7L, ts(t0), 1.0), Evt(7L, ts(t0 + 600), 2.0)) // one session
      query.processAllAvailable()
      input.addData(Evt(7L, ts(t0 + 10000), 4.0)) // new session, closes the first
      query.processAllAvailable()
      input.addData(Evt(7L, ts(t0 + 50000), 8.0)) // closes the second
      query.processAllAvailable()
      val out = spark.table("sess_stats").orderBy("session_start").collect()
      assert(out.length == 2)
      assert(out(0).getAs[Long]("n_events") == 2 && out(0).getAs[Double]("session_value") == 3.0)
      assert(out(0).getAs[Timestamp]("session_end").getTime / 1000 == t0 + 600 + 1800)
      assert(out(1).getAs[Long]("n_events") == 1 && out(1).getAs[Double]("session_value") == 4.0)
    } finally query.stop()
  }

  test("closedSessions (flatMapGroupsWithState) emits on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val sessions = Streams.closedSessions(
      input.toDF().withWatermark("ts", "0 seconds").as[Evt], gapSeconds = 1800L)
    val query = sessions.writeStream
      .format("memory")
      .queryName("state_sessions")
      .outputMode("append")
      .start()
    try {
      val t0 = 1700000000L
      input.addData(Evt(3L, ts(t0), 1.0), Evt(3L, ts(t0 + 60), 2.0), Evt(4L, ts(t0), 7.0))
      query.processAllAvailable()
      assert(spark.table("state_sessions").count() == 0, "no timeout fired yet")
      input.addData(Evt(5L, ts(t0 + 10000), 1.0)) // watermark jump → both sessions time out
      query.processAllAvailable()
      val out = spark.table("state_sessions").orderBy("user_id").collect()
      assert(out.length == 2)
      val u3 = out(0)
      assert(u3.getAs[Long]("user_id") == 3L)
      assert(u3.getAs[Long]("n_events") == 2)
      assert(u3.getAs[Double]("session_value") == 3.0)
      assert(u3.getAs[Long]("session_end_sec") == t0 + 60 + 1800)
      assert(out(1).getAs[Long]("user_id") == 4L && out(1).getAs[Long]("n_events") == 1)
    } finally query.stop()
  }

  test("dedupStream: first arrival wins, re-deliveries across batches drop") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val query = Streams.dedupStream(input.toDF(), Seq("user_id"), "ts", "10 minutes")
      .writeStream
      .format("memory")
      .queryName("dedup_stream")
      .outputMode("append")
      .start()
    try {
      val t0 = 1700000000L
      input.addData(Evt(1L, ts(t0), 1.0), Evt(1L, ts(t0), 9.0), Evt(2L, ts(t0 + 5), 2.0))
      query.processAllAvailable()
      input.addData(Evt(1L, ts(t0), 7.0)) // exact re-delivery in a later batch
      query.processAllAvailable()
      val out = spark.table("dedup_stream").collect()
      assert(out.length == 2, s"one row per (user, ts): ${out.mkString(",")}")
      assert(out.map(_.getAs[Long]("user_id")).toSet == Set(1L, 2L))
    } finally query.stop()
  }

  test("cdcMergeStream: micro-batches merge into silver, re-deliveries dedup") {
    implicit val sqlCtx = spark.sqlContext
    val silver = java.nio.file.Files.createTempDirectory("stream-silver").toString + "/events"
    val input = MemoryStream[Evt]
    val query = Streams.cdcMergeStream(
      input.toDF(), silver, mergeKeys = Seq("user_id", "ts"))
    try {
      val t0 = 1700000000L
      input.addData(Evt(1L, ts(t0), 1.0), Evt(2L, ts(t0), 2.0))
      query.processAllAvailable()
      assert(spark.read.parquet(silver).count() == 2)
      // batch 2: one new row + one re-delivery of (1, t0)
      input.addData(Evt(1L, ts(t0), 9.0), Evt(3L, ts(t0 + 5), 3.0))
      query.processAllAvailable()
      val rows = spark.read.parquet(silver).count()
      assert(rows == 3, s"re-delivered key must dedup, got $rows rows")
    } finally query.stop()
  }

  test("cdcMergeStream kill-restart: checkpoint recovery absorbs a re-executed batch") {
    // The foreachBatch re-execution hazard: a crash after the sink write
    // but before the checkpoint commit makes the restarted query run the
    // SAME micro-batch again. The merge + atomic-swap sink must absorb
    // that (idempotent), and the restart must pick up exactly where the
    // checkpoint says — no lost keys, no duplicated keys.
    val base = java.nio.file.Files.createTempDirectory("stream-ckpt")
    val inDir = s"$base/in"
    val silver = s"$base/silver/events"
    val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))

    val t0 = 1700000000L
    def addFile(rows: Seq[Evt]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(inDir)
    // A fresh source per query instance, as a real restart would build it.
    def fileStream() = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(inDir)

    addFile(Seq(Evt(1L, ts(t0), 1.0), Evt(2L, ts(t0), 2.0), Evt(3L, ts(t0), 3.0),
      Evt(4L, ts(t0), 4.0), Evt(5L, ts(t0), 5.0)))
    val q1 = Streams.cdcMergeStream(
      fileStream(), silver, mergeKeys = Seq("user_id", "ts"), checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(silver).count() == 5)

    // Simulate the crash window: the batch reached the sink but its
    // checkpoint commit record was lost — delete the newest commit file so
    // the restarted query re-executes that batch with the same offsets.
    val commitFiles = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commitFiles.nonEmpty, "sanity: the first run must have committed")
    val lostCommit = commitFiles.maxBy(_.getName.toLong)
    // Also drop the local-FS checksum sibling: a stale .N.crc fails the
    // re-written commit's rename, which Spark misreads as a concurrent
    // query on the same checkpoint.
    val crc = new java.io.File(lostCommit.getParentFile, s".${lostCommit.getName}.crc")
    assert(lostCommit.delete())
    if (crc.exists()) assert(crc.delete())

    // Restart from the checkpoint; feed overlapping data (re-deliveries of
    // keys 4,5 plus new keys 6,7) while the re-executed batch is pending.
    addFile(Seq(Evt(4L, ts(t0), 40.0), Evt(5L, ts(t0), 50.0),
      Evt(6L, ts(t0 + 5), 6.0), Evt(7L, ts(t0 + 5), 7.0)))
    val q2 = Streams.cdcMergeStream(
      fileStream(), silver, mergeKeys = Seq("user_id", "ts"), checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(silver).select("user_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == (1L to 7L),
      s"exactly keys 1..7 once each after kill-restart, got ${out.mkString(",")}")
  }

  test("cdcMergeStream partition-scoped: untouched partitions are not rewritten") {
    implicit val sqlCtx = spark.sqlContext
    val silver = java.nio.file.Files.createTempDirectory("stream-silver-part").toString + "/events"
    val input = MemoryStream[Evt]
    val withDay = input.toDF().withColumn("p_day", date_format(col("ts"), "yyyyMMdd"))
    val query = Streams.cdcMergeStream(
      withDay, silver, mergeKeys = Seq("user_id", "ts"), partitionCols = Seq("p_day"))
    try {
      val day1 = 1700000000L // 2023-11-14 UTC
      val day2 = 1700100000L // 2023-11-16 UTC
      input.addData(Evt(1L, ts(day1), 1.0), Evt(2L, ts(day2), 2.0))
      query.processAllAvailable()
      assert(spark.read.parquet(silver).count() == 2)

      def day1Files(): Map[String, (Long, Array[Byte])] = {
        val dir = new java.io.File(silver).listFiles()
          .find(_.getName.startsWith("p_day=20231114")).get
        dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          f.getName -> (f.lastModified() -> java.nio.file.Files.readAllBytes(f.toPath))
        }.toMap
      }
      val before = day1Files()

      // batch 2 touches ONLY day2: one new key + one re-delivery
      input.addData(Evt(2L, ts(day2), 9.0), Evt(3L, ts(day2 + 5), 3.0))
      query.processAllAvailable()

      val after = day1Files()
      assert(after.keySet == before.keySet, "untouched partition must keep its files")
      after.foreach { case (name, (mtime, bytes)) =>
        assert(mtime == before(name)._1, s"$name was rewritten (mtime changed)")
        assert(bytes.sameElements(before(name)._2), s"$name content changed")
      }
      val rows = spark.read.parquet(silver).collect()
      assert(rows.length == 3, s"re-delivery must dedup: ${rows.mkString(",")}")
      assert(spark.read.parquet(silver).where(col("user_id") === 2L).count() == 1)
    } finally query.stop()
  }

  test("closedSessions: late-but-valid cross-batch event extends the session backwards safely") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val sessions = Streams.closedSessions(
      input.toDF().withWatermark("ts", "2 hours").as[Evt], gapSeconds = 1800L)
    val query = sessions.writeStream
      .format("memory").queryName("late_sessions").outputMode("append").start()
    try {
      val t0 = 1700000000L
      input.addData(Evt(9L, ts(t0 + 600), 1.0)) // open session [600, 600]
      query.processAllAvailable()
      input.addData(Evt(9L, ts(t0), 2.0)) // LATE but above watermark: merges backwards
      query.processAllAvailable()
      input.addData(Evt(9L, ts(t0 + 50000), 4.0)) // closes the merged session
      query.processAllAvailable()
      val out = spark.table("late_sessions").orderBy("session_start_sec").collect()
      assert(out.nonEmpty)
      val s = out.head
      assert(s.getAs[Long]("session_start_sec") == t0, "start must extend backwards")
      assert(s.getAs[Long]("session_end_sec") == t0 + 600 + 1800,
        "end must stay anchored at the LATEST event + gap, not regress")
      assert(s.getAs[Long]("n_events") == 2 && s.getAs[Double]("session_value") == 3.0)
    } finally query.stop()
  }

  test("intervalJoin: stream-stream with watermarks, cross-batch pairing, window respected") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Evt]
    val buys = MemoryStream[Evt]
    val c = clicks.toDF().withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_v"))
    val b = buys.toDF().withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("buy_ts"), col("value").as("amount"))
    val joined = graft.streaming.Streams.intervalJoin(
      c, b, "user_id", "click_ts", "buy_ts", "30 minutes", "0 seconds")
    val query = joined.writeStream
      .format("memory").queryName("interval_join").outputMode("append").start()
    try {
      val t0 = 1700000000L
      // buy arrives FIRST, in an earlier batch than its matching click
      buys.addData(Evt(1L, ts(t0), 10.0))
      query.processAllAvailable()
      clicks.addData(Evt(1L, ts(t0 + 600), 1.0)) // 10 min after the buy → pairs
      clicks.addData(Evt(1L, ts(t0 + 7200), 2.0)) // 2 h after → outside window
      clicks.addData(Evt(2L, ts(t0 + 300), 3.0)) // other user → no pair
      query.processAllAvailable()
      val out = spark.table("interval_join").collect()
      assert(out.length == 1, s"exactly the in-window same-user pair: ${out.mkString(",")}")
      assert(out.head.getAs[Long]("user_id") == 1L)
      assert(out.head.getAs[Double]("amount") == 10.0)
      assert(out.head.getAs[Double]("click_v") == 1.0)
    } finally query.stop()
  }

  test("JSONL shard directory streams into a running corpus pipeline") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl-stream").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def shard(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    shard("s0.jsonl", Seq("""{"doc_id": 1, "text": "a b c"}""", """{"doc_id": 2, "text": "d"}"""))
    // a batch text transform applied unchanged to the stream
    val counted = graft.sources.JsonlSource.readCleanStream(spark, dir, schema)
      .select(col("doc_id"), graft.functions.text.tokenCount(col("text")).as("n_tokens"))
    val query = counted.writeStream
      .format("memory").queryName("jsonl_stream").outputMode("append").start()
    try {
      query.processAllAvailable()
      shard("s1.jsonl", Seq("""{"doc_id": 3, "text": "e f"}""", """not json at all"""))
      query.processAllAvailable()
      val out = spark.table("jsonl_stream").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2),
        s"late shard ingested, malformed line dropped: $out")
    } finally query.stop()
  }

  test("graft_funnel is streaming-mergeable: cross-batch state equals the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    graft.expressions.GraftFunctions.register(spark)
    // deterministic soup across THREE micro-batches: merge() runs against
    // state-store partials, which is the mergeable contract under test
    val rnd = new scala.util.Random(1234)
    val types = Seq("view", "click", "purchase", "noise")
    val evs = (1 to 900).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(40).toLong, types(rnd.nextInt(types.size)))
    }
    val input = MemoryStream[(Long, Long, String)]
    val query = input.toDF().toDF("user_id", "ts", "event_type")
      .groupBy("user_id")
      .agg(expr("graft_funnel(ts, event_type, array('view','click','purchase'))").as("times"))
      .writeStream.format("memory").queryName("funnel_stream").outputMode("complete")
      .start()
    try {
      evs.grouped(300).foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val got = spark.table("funnel_stream")
        .where("size(times) > 0")
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Seq[Long]]("times")).toMap
      val want = graft.operators.Funnel.earliestChain(
        evs.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .collect().map { r =>
          r.getAs[Long]("user_id") ->
            (1 to 3).flatMap(i => Option(r.getAs[java.lang.Long](s"t_$i")).map(_.toLong))
        }.toMap
      assert(got === want)
    } finally query.stop()
  }

  test("heavyHitterCandidates: cross-batch stateful MG matches batch heavyHitters exactly") {
    implicit val sqlCtx = spark.sqlContext
    // 5 planted hot terms (600 each) over a 1000-term tail, DELIVERED IN
    // THREE MICRO-BATCHES — cross-batch state is the thing under test: no
    // single batch is enough to make a term heavy.
    val all: Seq[String] =
      (0 until 3000).map(i => s"hot_${i % 5}") ++ (0 until 1000).map(i => s"tail_$i")
    val batches = scala.util.Random.shuffle(all).grouped((all.size + 2) / 3).toSeq
    assert(batches.size == 3)

    val input = MemoryStream[String]
    val query = Streams
      .heavyHitterCandidates(input.toDF().toDF("term"), "term", k = 64, numShards = 8)
      .writeStream
      .format("memory")
      .queryName("hh_stream")
      .outputMode("update")
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }

      val emitted = spark.table("hh_stream").as[Streams.HeavyHitterCandidate].collect()
      // bounded state, observable: no emission ever carries more than k
      // candidates per shard
      emitted.groupBy(r => (r.shard, r.shard_n)).foreach { case (sn, rows) =>
        assert(rows.length <= 64, s"shard state exceeded k: $sn -> ${rows.length}")
      }
      // the FINAL state of each shard = its rows at max shard_n
      val finalCands = emitted.groupBy(_.shard).values.flatMap { rows =>
        val last = rows.map(_.shard_n).max
        rows.filter(_.shard_n == last)
      }.map(_.item).toSet

      // batch truth over the same data
      val df = all.toDF("term")
      val expected = graft.operators.Frequency.heavyHitters(df, "term", minCount = 500L, sketchK = 2048)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(expected.map(_._1).toSet == Set("hot_0", "hot_1", "hot_2", "hot_3", "hot_4"))

      // survival guarantee transfers across batches: every true heavy
      // hitter is in its shard's final candidate set
      assert(expected.map(_._1).toSet.subsetOf(finalCands),
        s"lost a heavy hitter across micro-batches: $finalCands")

      // two-phase exactness, streaming face: exact-count the streaming
      // candidates (pass 2) → identical to the batch operator end-to-end
      val verified = df.where(col("term").isin(finalCands.toSeq: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("n")).where(col("n") >= 500L)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(verified == expected, "streaming candidates + exact verify must equal batch heavyHitters")
    } finally query.stop()
  }

  test("heavyHitterCandidates runs in batch mode too (single-batch state)") {
    val df = ((0 until 300).map(_ => "hot") ++ (0 until 100).map(i => s"t_$i")).toDF("term")
    val out = Streams.heavyHitterCandidates(df, "term", k = 16, numShards = 4).collect()
    assert(out.exists(_.item == "hot"), "the dominant term must survive in its shard")
    assert(out.groupBy(_.shard).values.forall(_.length <= 16))
  }

  test("the same session transform runs in batch mode (q37 face)") {
    val batch = Seq(
      Evt(1L, ts(1700000000L), 1.0),
      Evt(1L, ts(1700000300L), 2.0),
      Evt(1L, ts(1700009999L), 4.0)).toDF()
    val out = Streams.sessionWindowStats(batch, "ts", "user_id", "value", "30 minutes")
      .orderBy("session_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_events") == 2)
  }

  test("nearDupIngest: batches dedup against everything accepted so far, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-neardup").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/accepted"
    graft.operators.DedupIndex.init(
      spark, indexPath, graft.operators.DedupIndex.Params(64, 16, 3))
    val input = MemoryStream[(Long, String)]
    val query = Streams.nearDupIngest(
      input.toDF().toDF("id", "text"), "text", "id", indexPath, outputPath,
      threshold = 0.5)
    try {
      // batch 0: two distinct docs + an in-batch near-dup of the first
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "completely different content about distributed query engines and shuffles"),
        (3L, "quick brown fox jumps over the lazy dog near the river bank"))
      query.processAllAvailable()
      val b0 = spark.read.parquet(outputPath).select("id").as[Long].collect().toSet
      assert(b0 == Set(1L, 2L), s"in-batch near-dup must collapse to the keeper: $b0")
      // batch 1: a re-delivery-shaped near-dup of doc 1, an exact dup of
      // doc 2, and one genuinely new doc — only the new doc survives
      input.addData(
        (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (12L, "completely different content about distributed query engines and shuffles"),
        (13L, "watermarks bound streaming state while session windows group events"))
      query.processAllAvailable()
      val all = spark.read.parquet(outputPath).select("id").as[Long].collect().toSet
      assert(all == Set(1L, 2L, 13L), s"cross-batch dups must drop via the index: $all")
      assert(graft.operators.DedupIndex.batches(spark, indexPath) == Seq("s00000000", "s00000001"))
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("nearDupIngest onto a built index: stream labels cannot collide with build/compact labels") {
    // build() claims the numeric label "00000001"; micro-batch 1's label
    // must live in a different namespace — an unprefixed f"$batchId%08d"
    // collided here and appendIdempotent silently SKIPPED the index
    // append, so batch 1's docs never entered the index and their future
    // near-dups sailed through.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-neardup-built").toString
    val indexPath = s"$root/index"
    graft.operators.DedupIndex.build(
      spark.createDataset(Seq(
        (100L, "seed corpus document about atomic parquet batch appends"))).toDF("id", "text"),
      "text", "id", indexPath)
    val input = MemoryStream[(Long, String)]
    val query = Streams.nearDupIngest(
      input.toDF().toDF("id", "text"), "text", "id", indexPath, s"$root/accepted",
      threshold = 0.5)
    try {
      input.addData((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
      query.processAllAvailable()
      input.addData((2L, "watermarks bound streaming state while session windows group events"))
      query.processAllAvailable()
      assert(graft.operators.DedupIndex.batches(spark, indexPath).sorted ==
        Seq("00000001", "s00000000", "s00000001"))
      // the collision victim was batch 1 (label "00000001"): doc 2 must
      // actually BE in the index — its near-dup probes as a duplicate
      val probe = graft.operators.DedupIndex.crossPairs(
        spark.createDataset(Seq(
          (22L, "watermarks bound streaming state while session windows group the events"))).toDF("id", "text"),
        "text", "id", indexPath, threshold = 0.5)
      assert(probe.where(col("corpus_id") === 2L).count() === 1L,
        "batch 1's docs must be probe-visible in the index")
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("nearDupIngest re-executed batch is absorbed idempotently (crash-retry shape)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-neardup-retry").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/accepted"
    val checkpoint = s"$root/ckpt"
    graft.operators.DedupIndex.init(
      spark, indexPath, graft.operators.DedupIndex.Params(64, 16, 3))
    val mk = () => MemoryStream[(Long, String)]
    // first query: process one batch, then stop WITHOUT letting a second run
    val in1 = mk()
    in1.addData((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
    val q1 = Streams.nearDupIngest(
      in1.toDF().toDF("id", "text"), "text", "id", indexPath, outputPath,
      threshold = 0.5, checkpoint = Some(checkpoint))
    try q1.processAllAvailable() finally q1.stop()
    // simulate the crash-before-commit: delete the checkpoint commit marker
    // so a restarted query re-executes batch 0 with the same id + rows
    val fs = new org.apache.hadoop.fs.Path(checkpoint)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$checkpoint/commits/0"), false)
    val in2 = mk()
    in2.addData((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
    val q2 = Streams.nearDupIngest(
      in2.toDF().toDF("id", "text"), "text", "id", indexPath, outputPath,
      threshold = 0.5, checkpoint = Some(checkpoint))
    try q2.processAllAvailable() finally q2.stop()
    // the re-executed batch must not duplicate output rows or index batches
    assert(spark.read.parquet(outputPath).count() == 1)
    assert(graft.operators.DedupIndex.batches(spark, indexPath) == Seq("s00000000"))
    graft.operators.Caches.release()
  }

  test("annIngest: embedding batches screen against everything accepted so far") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-ann").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/accepted"
    // seed corpus claims the numeric label "00000001" — stream labels must
    // live in the "s" namespace beside it, like nearDupIngest's
    graft.operators.AnnIndex.build(
      Seq((100L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "vec"),
      "id", "vec", indexPath, nlist = 2, sampleRows = 8)
    val input = MemoryStream[(Long, Seq[Float])]
    val query = Streams.annIngest(
      input.toDF().toDF("id", "vec"), "id", "vec", indexPath, outputPath,
      threshold = 0.95, nprobe = 2, dim = 4)
    try {
      // batch 0: a scaled copy of the seed (dropped via the index), a fresh
      // direction (accepted), and an in-batch near-dup of it (dropped)
      input.addData(
        (1L, Seq(1.001f, 0.0f, 0.0f, 0.0f)),
        (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
        (3L, Seq(0.0f, 0.9995f, 0.0f, 0.01f)))
      query.processAllAvailable()
      val b0 = spark.read.parquet(outputPath).select("id").as[Long].collect().toSet
      assert(b0 == Set(2L), s"batch 0 must keep only the fresh keeper: $b0")
      // batch 1: an exact copy of batch 0's acceptee — a CROSS-BATCH dup
      // only the index can see — plus one genuinely new direction
      input.addData(
        (11L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
        (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      query.processAllAvailable()
      val all = spark.read.parquet(outputPath).select("id").as[Long].collect().toSet
      assert(all == Set(2L, 12L), s"cross-batch embedding dups must drop: $all")
      assert(graft.operators.AnnIndex.batches(spark, indexPath).sorted ==
        Seq("00000001", "s00000000", "s00000001"))
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("annIngest onto a PQ index: code+norm postings land, screening still exact") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-ann-pq").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/accepted"
    // the seed corpus doubles as the PQ training sample: it must SPAN the
    // directions later batches arrive from — a codebook that never saw a
    // direction cannot represent it and the ADC screen's error there is
    // unbounded, not margin-bounded (the Pq.train contract)
    graft.operators.AnnIndex.buildPq(
      Seq(
        (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
        (101L, Seq(0.45f, 0.89f, 0.0f, 0.0f))) // y-ish, cos 0.89 to (0,1,0,0): trains the direction without duplicating it
        .toDF("id", "vec"),
      "id", "vec", indexPath, nlist = 2, m = 2, ksub = 4, sampleRows = 8)
    val input = MemoryStream[(Long, Seq[Float])]
    val query = Streams.annIngest(
      input.toDF().toDF("id", "vec"), "id", "vec", indexPath, outputPath,
      threshold = 0.95, nprobe = 2, dim = 4, pqMargin = 0.25)
    try {
      input.addData(
        (1L, Seq(1.001f, 0.0f, 0.0f, 0.0f)), // scaled copy of the seed → dropped via codes
        (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))) // fresh → accepted
      query.processAllAvailable()
      input.addData(
        (11L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), // cross-batch dup of 2 → dropped
        (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f))) // fresh → accepted
      query.processAllAvailable()
      val all = spark.read.parquet(outputPath).select("id").as[Long].collect().toSet
      assert(all == Set(2L, 12L), s"PQ-screened ingest must accept exactly the fresh rows: $all")
      // streamed batches carry the PQ columns like the seed batch
      val postings = spark.read.parquet(s"$indexPath/vectors")
      assert(postings.columns.contains("code") && postings.columns.contains("norm"))
      assert(postings.where(col("code").isNull || col("norm").isNull).count() == 0L)
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("textIngest: keyword search spans all landed micro-batches; replay appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-text").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/landed"
    graft.operators.TextIndex.init(spark, indexPath)
    val input = MemoryStream[(Long, String)]
    val query = Streams.textIngest(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", indexPath, outputPath)
    val allDocs = Seq(
      (1L, "spark shuffles data between stages and spark broadcasts small tables"),
      (2L, "a merge statement upserts rows while a window function ranks them"),
      (3L, "window frames slide over ordered partitions in spark"),
      (4L, "merge conflicts resolve deterministically in distributed logs"))
    try {
      input.addData(allDocs(0), allDocs(1))
      query.processAllAvailable()
      input.addData(allDocs(2), allDocs(3))
      query.processAllAvailable()
      assert(graft.operators.TextIndex.batches(spark, indexPath) ===
        Seq("s00000000", "s00000001"))
      val landed = spark.read.parquet(outputPath).select("doc_id").as[Long].collect().toSet
      assert(landed === Set(1L, 2L, 3L, 4L))
      // cross-batch search equals scoring the union corpus from scratch
      val got = graft.operators.TextIndex
        .searchTopK(spark, indexPath, Seq("spark", "merge", "window"), 10)
        .as[(Long, Double)].collect().toSeq
      val want = graft.operators.Ranking.bm25ExactRational(
        allDocs.toDF("doc_id", "text"), "doc_id", "text", Seq("spark", "merge", "window"))
        .limit(10).as[(Long, Double)].collect().toSeq
      assert(got === want)
      // crash-replay absorption: re-appending a committed label is a no-op
      graft.operators.TextIndex.appendIdempotent(
        allDocs.take(2).toDF("doc_id", "text"), "doc_id", "text", indexPath, "s00000000")
      assert(graft.operators.TextIndex
        .searchTopK(spark, indexPath, Seq("spark", "merge", "window"), 10)
        .as[(Long, Double)].collect().toSeq === want)
    } finally query.stop()
    graft.operators.Caches.release()
  }

  /** Drains every pin and cached plan so a case can assert that a stream
    * left none behind.
    */
  private def clearPins(): Unit = {
    graft.operators.Caches.release(blocking = true)
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  private def cachedRdds: Seq[String] =
    spark.sparkContext.getRDDStorageInfo.toSeq
      .filter(_.numCachedPartitions > 0).map(i => s"${i.id}:${i.name}")

  test("textIngest: every micro-batch releases its pins before the batch ends") {
    implicit val sqlCtx = spark.sqlContext
    clearPins()
    val root = java.nio.file.Files.createTempDirectory("stream-pins").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/landed"
    graft.operators.TextIndex.init(spark, indexPath)
    val input = MemoryStream[(Long, String)]
    val query = Streams.textIngest(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", indexPath, outputPath)
    try {
      input.addData((1L, "spark pins the batch"), (2L, "the batch lands twice"))
      query.processAllAvailable()
      input.addData((3L, "a second batch pins again"))
      query.processAllAvailable()
      assert(BatchTable(spark, outputPath).committed === Seq("s00000000", "s00000001"))
      assert(cachedRdds.isEmpty, s"cached blocks outlived their batch: $cachedRdds")
      assert(spark.sharedState.cacheManager.isEmpty,
        "a batch's pinned frames must leave the cache manager with the batch")
    } finally query.stop()
  }

  test("textIngest: a batch body that pins and then throws leaves nothing pinned") {
    implicit val sqlCtx = spark.sqlContext
    clearPins()
    val root = java.nio.file.Files.createTempDirectory("stream-pins-throw").toString
    val indexPath = s"$root/index"
    val outputPath = s"$root/landed"
    graft.operators.TextIndex.init(spark, indexPath)
    val input = MemoryStream[(Long, String)]
    // the batch is pinned and lands in the output, then the index append
    // fails to resolve the text column
    val query = Streams.textIngest(
      input.toDF().toDF("doc_id", "text"), "doc_id", "no_such_col", indexPath, outputPath)
    try {
      input.addData((1L, "spark pins the batch"), (2L, "the batch lands once"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      assert(!query.isActive)
      assert(query.exception.exists(_.getMessage.contains("no_such_col")),
        s"the query must report the body's exception: ${query.exception}")
      assert(BatchTable(spark, outputPath).committed === Seq("s00000000"),
        "the pinned batch must have been materialized by the output land")
      assert(cachedRdds.isEmpty, s"cached blocks outlived the failed batch: $cachedRdds")
      assert(spark.sharedState.cacheManager.isEmpty,
        "the failed batch's pinned frame must leave the cache manager")
    } finally query.stop()
  }

  test("importanceRoutedIngest: batches score under the FIXED models and route both ways") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Importance
    val root = java.nio.file.Files.createTempDirectory("stream-imp").toString
    val B = 64
    // target dialect = short tokens; trained once, offline
    val trainCorpus = Seq("aa bb cc", "aa bb", "longword anotherlong").toDF("text")
    val target = Importance.hashedBucketCounts(
      trainCorpus.select(
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.filter(
            graft.functions.text.tokens(col("text")),
            w => org.apache.spark.sql.functions.length(w) <= 4), " ").as("text")),
      "text", B)
    val source = Importance.hashedBucketCounts(trainCorpus, "text", B)
    val input = MemoryStream[(Long, String)]
    val query = Streams.importanceRoutedIngest(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      target, source, B, s"$root/routed")
    try {
      input.addData((1L, "aa bb aa"), (2L, "longword longword"))
      query.processAllAvailable()
      input.addData((3L, "cc cc cc"), (4L, "anotherlong anotherlong"))
      query.processAllAvailable()
      val sel = spark.read.parquet(s"$root/routed/selected")
        .select("doc_id").as[Long].collect().toSet
      val rej = spark.read.parquet(s"$root/routed/rejected")
        .select("doc_id").as[Long].collect().toSet
      assert(sel === Set(1L, 3L), s"short-token docs must route selected, got $sel")
      assert(rej === Set(2L, 4L), s"long-token docs must route rejected, got $rej")
      // scores must equal the BATCH operator under the same models — the
      // stream adds routing, never different arithmetic
      val batchScores = Importance.pooledImportance(
        Seq((1L, "aa bb aa"), (2L, "longword longword"),
          (3L, "cc cc cc"), (4L, "anotherlong anotherlong")).toDF("doc_id", "text"),
        "doc_id", "text", target, source, B)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      val streamed = spark.read.parquet(s"$root/routed/selected")
        .unionByName(spark.read.parquet(s"$root/routed/rejected"))
        .select("doc_id", "importance")
        .as[(Long, Double)].collect().toMap
      assert(streamed === batchScores)
    } finally query.stop()
    // a stream that already carries an output column must be REJECTED at
    // start — stream.schema is known before .start(), so the misconfig
    // must not wait for the first micro-batch to kill the running query
    val bad = MemoryStream[(Long, String, Boolean)]
    val ex = intercept[IllegalArgumentException] {
      Streams.importanceRoutedIngest(
        bad.toDF().toDF("doc_id", "text", "selected"), "doc_id", "text",
        target, source, B, s"$root/never")
    }
    assert(ex.getMessage.contains("selected"))
    graft.operators.Caches.release()
  }

  test("driftMonitorIngest: per-batch drift vs the fixed baseline equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Importance
    val root = java.nio.file.Files.createTempDirectory("stream-drift").toString
    val B = 4096
    val baselineCorpus = Seq("aa aa bb", "cc").toDF("text")
    val baseline = Importance.hashedBucketCounts(baselineCorpus, "text", B)
    val input = MemoryStream[String]
    val query = Streams.driftMonitorIngest(
      input.toDF().toDF("text"), "text", baseline, B, k = 10, s"$root/drift")
    try {
      input.addData("aa dd dd dd")
      query.processAllAvailable()
      input.addData("aa aa bb", "cc") // identical mix to baseline -> all deltas 0
      query.processAllAvailable()
      val landed = spark.read.parquet(s"$root/drift")
      // batch 0 must equal the batch-mode drift report for the same frames
      val want = Importance.driftReportFromModels(
        baseline,
        Importance.hashedBucketCounts(Seq("aa dd dd dd").toDF("text"), "text", B),
        k = 10)
        .collect().map(_.toSeq).toSet
      val got = landed.where(col("batch") === "s00000000")
        .drop("batch").collect().map(_.toSeq).toSet
      assert(got === want, "the stream adds landing, never different drift arithmetic")
      // batch 1 re-offers the baseline mix: every delta is exactly zero
      val b1 = landed.where(col("batch") === "s00000001")
        .select("delta").collect().map(_.getDouble(0))
      assert(b1.nonEmpty && b1.forall(_ == 0.0),
        s"an identical mix must report zero drift, got ${b1.toSeq}")
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("urlDedupIngest: first sighting per canonical identity wins, across batches and variants") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-url").toString
    val indexPath = s"$root/seen"
    val outputPath = s"$root/landed"
    val input = MemoryStream[(Long, String)]
    val query = Streams.urlDedupIngest(
      input.toDF().toDF("doc_id", "url"), "url", "doc_id", indexPath, outputPath)
    try {
      // batch 0: one page under two messy spellings + one unique + junk
      input.addData(
        (1L, "HTTP://Example.COM:80/a?utm_source=x&b=1#top"),
        (2L, "http://example.com/a?b=1"),
        (3L, "https://other.org/p"),
        (4L, "not a url"))
      query.processAllAvailable()
      // batch 1: the SAME page again (third spelling) + one genuinely new
      input.addData(
        (5L, "http://EXAMPLE.com/a?b=1&utm_medium=m"),
        (6L, "https://fresh.net/q?z=9"))
      query.processAllAvailable()
      val landed = spark.read.parquet(outputPath)
        .select("doc_id").as[Long].collect().toSet
      assert(landed === Set(1L, 3L, 6L),
        "only the min-id first sighting of each canonical identity may land")
      val seen = spark.read.parquet(indexPath)
        .select("canonical_url", "keeper_id")
        .as[(String, Long)].collect().toMap
      assert(seen === Map(
        "http://example.com/a?b=1" -> 1L,
        "https://other.org/p" -> 3L,
        "https://fresh.net/q?z=9" -> 6L))
      // crash-replay shape: a second query over a fresh checkpoint-less
      // runner re-offering batch content under the same labels re-lands
      // nothing (exists-guarded renames)
      val before = spark.read.parquet(outputPath).count()
      input.addData((7L, "http://example.com/a?b=1"))
      query.processAllAvailable()
      assert(spark.read.parquet(outputPath).count() === before,
        "an already-seen canonical may never land again")
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("urlDedupIngest: a stream that already has canonical_url is rejected at the call") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-url-bad").toString
    val bad = MemoryStream[(Long, String, String)]
    val activeBefore = spark.streams.active.map(_.id).toSet
    val ex = intercept[IllegalArgumentException] {
      Streams.urlDedupIngest(
        bad.toDF().toDF("doc_id", "url", "canonical_url"),
        "url", "doc_id", s"$root/seen", s"$root/landed")
    }
    assert(ex.getMessage.contains("canonical_url"))
    assert(spark.streams.active.map(_.id).toSet === activeBefore,
      "a rejected stream must not start a query")
  }

  test("urlDedupIngest: the plain (bloomProbe=false) index probe lands the identical set") {
    // the default path bloom-prefilters the seen-set at scan; blooms have
    // no false negatives, so both probes must agree row-for-row — this is
    // the non-bloom witness the default-path tests compose against
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-url-nobloom").toString
    val input = MemoryStream[(Long, String)]
    val query = Streams.urlDedupIngest(
      input.toDF().toDF("doc_id", "url"), "url", "doc_id",
      s"$root/seen", s"$root/landed", bloomProbe = false)
    try {
      input.addData(
        (1L, "HTTP://Example.COM:80/a?utm_source=x&b=1#top"),
        (3L, "https://other.org/p"))
      query.processAllAvailable()
      input.addData(
        (5L, "http://EXAMPLE.com/a?b=1&utm_medium=m"), // seen canonical — drop
        (6L, "https://fresh.net/q?z=9"))
      query.processAllAvailable()
      val landed = spark.read.parquet(s"$root/landed")
        .select("doc_id").as[Long].collect().toSet
      assert(landed === Set(1L, 3L, 6L))
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("wetIngest: WET shards landing in a directory stream into a deduplicated corpus") {
    val root = java.nio.file.Files.createTempDirectory("stream-wet").toString
    val shardDir = s"$root/shards"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(shardDir))
    // stage WET shards with the real writer, then land the part file in
    // the watched dir under a unique name (the crawl-delivery motion)
    var shardNo = 0
    def land(docs: Seq[(String, String)]): Unit = {
      val staging = s"$root/stage$shardNo"
      graft.sources.Wet.write(
        docs.toDF("uri", "content").coalesce(1), "uri", "content", staging, gzip = true)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".gz")).head.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(shardDir, f"crawl-$shardNo%05d.warc.wet.gz"))
      shardNo += 1
    }
    land(Seq(
      "https://site.one/a" -> "alpha content",
      "https://site.one/b" -> "bravo content"))
    val query = Streams.wetIngest(spark, shardDir, s"$root/seen", s"$root/landed")
    try {
      query.processAllAvailable()
      // shard 2: /b re-crawled with DIFFERENT bytes (same canonical URI —
      // must be suppressed) + a genuinely new page
      land(Seq(
        "https://site.one/b" -> "bravo content v2 recrawl",
        "https://site.two/c" -> "charlie content"))
      query.processAllAvailable()
      val landed = spark.read.parquet(s"$root/landed")
        .select("target_uri", "content").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(landed === Map(
        "https://site.one/a" -> "alpha content",
        "https://site.one/b" -> "bravo content",
        "https://site.two/c" -> "charlie content"),
        s"first sighting per canonical URI wins; got $landed")
    } finally query.stop()
    graft.operators.Caches.release()
  }

  test("dupClusterIngest: state equals batch CC of all pairs ever streamed, incl. cross-batch merges") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-cc").toString
    val statePath = s"$root/clusters"
    val input = MemoryStream[(Long, Long)]
    val query = Streams.dupClusterIngest(
      input.toDF().toDF("id_a", "id_b"), "id_a", "id_b", statePath)
    def state(): Map[Long, Long] = spark.read.parquet(statePath)
      .as[(Long, Long)].collect().toMap
    try {
      // batch 0: two separate components {1,2} and {10,11}
      input.addData((2L, 1L), (10L, 11L))
      query.processAllAvailable()
      assert(state() === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
      // batch 1: a BRIDGE (2,10) merges them; plus a fresh component {20,21}
      input.addData((2L, 10L), (20L, 21L))
      query.processAllAvailable()
      assert(state() === Map(
        1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 20L -> 20L, 21L -> 20L),
        "the cross-batch merge must relabel every member of both old components")
      // batch 2: pair inside an existing component (no-op merge) + self-loop junk
      input.addData((11L, 1L), (5L, 5L))
      query.processAllAvailable()
      val got = state()
      // ground truth: batch CC over every pair ever streamed
      val all = Seq((2L, 1L), (10L, 11L), (2L, 10L), (20L, 21L), (11L, 1L), (5L, 5L))
      val want = graft.operators.Graphs.connectedComponents(
        all.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got === want, "streamed state must equal the batch operator over the union")
    } finally query.stop()
    graft.operators.Caches.release(blocking = true)
  }

  test("dupClusterIngest: replaying an absorbed batch rewrites the identical state (crash window)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-cc-replay").toString
    val statePath = s"$root/clusters"
    val input = MemoryStream[(Long, Long)]
    val q1 = Streams.dupClusterIngest(
      input.toDF().toDF("id_a", "id_b"), "id_a", "id_b", statePath)
    try {
      input.addData((2L, 1L), (3L, 2L))
      q1.processAllAvailable()
    } finally q1.stop()
    val committed = spark.read.parquet(statePath).as[(Long, Long)].collect().toMap
    assert(committed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // a fresh checkpoint-less runner re-offers the SAME pairs — the replay
    // shape after a crash between state swap and checkpoint commit
    val replay = MemoryStream[(Long, Long)]
    val q2 = Streams.dupClusterIngest(
      replay.toDF().toDF("id_a", "id_b"), "id_a", "id_b", statePath)
    try {
      replay.addData((2L, 1L), (3L, 2L))
      q2.processAllAvailable()
      val after = spark.read.parquet(statePath).as[(Long, Long)].collect().toMap
      assert(after === committed, "absorbed pairs must re-converge to the identical forest")
    } finally q2.stop()
    graft.operators.Caches.release(blocking = true)
  }

  test("mediaDedupIngest: exact + near dups drop in-batch and cross-batch; undecodables land quarantined") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // 9×8 canvas: every pixel IS a dHash sample point (gx(i) = i·9/9 = i,
    // gy(j) = j·8/8 = j), so hamming distances are plantable exactly
    def img(gray: (Int, Int) => Int, fmt: String = "png"): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(9, 8, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 8; x <- 0 until 9) {
        val g = gray(x, y) & 0xff
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, out)
      out.toByteArray
    }
    val rising = img((x, _) => x * 20) // every horizontal gradient rises: 64 bits set
    val risingBmp = img((x, _) => x * 20, "bmp") // same pixels, different container
    val nearOne = img((x, y) => if (y == 0 && x == 1) 0 else x * 20) // flips bits (0,0) and (0,1)...
    val flat = img((_, _) => 128) // no rising gradient: 0 bits set → hamming 64 from rising
    val junk = Array.fill(48)(0x3c.toByte)
    // confirm the plant before streaming: nearOne within maxHamming of rising
    val dh = { b: Array[Byte] =>
      Multimodal.dHash(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))) }
    val planted = java.lang.Long.bitCount(dh(rising) ^ dh(nearOne))
    assert(planted >= 1 && planted <= 3, s"plant check: hamming $planted")
    assert(dh(rising) == dh(risingBmp))
    // the whole scenario runs on BOTH index-probe paths: the default
    // bloom-prefiltered one and the plain join (blooms have no false
    // negatives, so the two must land identical sets)
    for (bloom <- Seq(true, false)) {
      val root = java.nio.file.Files.createTempDirectory("stream-media").toString
      val input = MemoryStream[(Long, Array[Byte])]
      val query = Streams.mediaDedupIngest(
        input.toDF().toDF("media_id", "bytes"), "media_id", "bytes",
        s"$root/seen", s"$root/landed", bloomProbe = bloom)
      try {
        // batch 0: original + exact re-encode + near variant + junk
        input.addData((1L, rising), (2L, risingBmp), (3L, nearOne), (4L, junk))
        query.processAllAvailable()
        val b0 = spark.read.parquet(s"$root/landed")
          .select(col("media_id"), col("dhash").isNull.as("q")).as[(Long, Boolean)].collect().toMap
        assert(b0.keySet === Set(1L, 4L),
          s"min-id keeper of the exact group wins, the near variant drops greedily (bloom=$bloom): $b0")
        assert(!b0(1L) && b0(4L), "junk lands with NULL dhash (quarantine, never silently dropped)")
        // batch 1: replayed copy drops against the index; a far image lands
        input.addData((10L, risingBmp), (11L, flat), (12L, nearOne))
        query.processAllAvailable()
        val all = spark.read.parquet(s"$root/landed")
          .select("media_id").as[Long].collect().toSet
        assert(all === Set(1L, 4L, 11L),
          s"cross-batch exact AND near variants must drop against the committed index (bloom=$bloom): $all")
        // index holds band rows only for committed fingerprints (4 per doc)
        val idx = spark.read.parquet(s"$root/seen")
          .select("keeper_id").as[Long].collect().toSeq
        assert(idx.sorted === Seq(1L, 1L, 1L, 1L, 11L, 11L, 11L, 11L))
      } finally query.stop()
    }
    // a string-id stream must be REJECTED at start (cast-to-long would
    // NULL out the join key and kill the first micro-batch at runtime)
    val badRoot = java.nio.file.Files.createTempDirectory("stream-media-bad").toString
    val bad = MemoryStream[(String, Array[Byte])]
    val ex = intercept[IllegalArgumentException] {
      Streams.mediaDedupIngest(
        bad.toDF().toDF("media_id", "bytes"), "media_id", "bytes",
        s"$badRoot/never_seen", s"$badRoot/never_landed")
    }
    assert(ex.getMessage.contains("INTEGRAL"))
    graft.operators.Caches.release(blocking = true)
  }

  test("datasetCardIngest: streamed card equals the batch card of all docs so far") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-card").toString
    val input = MemoryStream[(Long, String, String)]
    val query = Streams.datasetCardIngest(
      input.toDF().toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", s"$root/card", s"$root/fps")
    def streamedCard(): Map[(String, String), Long] =
      Streams.readDatasetCard(spark, s"$root/card")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def batchCard(docs: Seq[(Long, String, String)]): Map[(String, String), Long] =
      graft.operators.Quality.datasetCard(
        docs.toDF("doc_id", "text", "source"), "doc_id", "text", "source")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val b0 = Seq(
      (1L, "the cat sat on the mat", "web"),
      (2L, "the cat sat on the mat", "web"), // in-batch exact dup
      (3L, "zz qq ww", "books"))
    val b1 = Seq(
      (4L, "the cat sat on the mat", "web"), // CROSS-batch exact dup of doc 1
      (5L, "el gato y la casa es de su amigo con una mesa para los dias", "books"),
      (6L, "!!!???!!!", "web"))
    try {
      input.addData(b0: _*)
      query.processAllAvailable()
      assert(streamedCard() === batchCard(b0), "card after batch 0")
      input.addData(b1: _*)
      query.processAllAvailable()
      assert(streamedCard() === batchCard(b0 ++ b1),
        "card after batch 1 — cross-batch dup must count once in distinct_texts")
      val card = streamedCard()
      assert(card(("corpus", "distinct_texts")) === 4L)
      assert(card(("corpus", "exact_dup_docs")) === 2L,
        "doc 2 (in-batch) and doc 4 (cross-batch) are the dups")
    } finally query.stop()
    // start-time schema validation: a stream without the text column must
    // be rejected before .start(), not at first micro-batch
    val bad = MemoryStream[(Long, String)]
    val ex = intercept[IllegalArgumentException] {
      Streams.datasetCardIngest(
        bad.toDF().toDF("doc_id", "body"),
        "doc_id", "text", "source", s"$root/never_card", s"$root/never_fps")
    }
    assert(ex.getMessage.contains("no 'text' column"))
    graft.operators.Caches.release(blocking = true)
  }

  test("joinSketchIngest: streamed store estimate equals the whole-history estimate; replay adds nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.JoinAdvisor
    val params = JoinAdvisor.CmParams(256,
      Seq((1103515245L, 12345L), (214013L, 2531011L), (69069L, 1L)))
    val root = java.nio.file.Files.createTempDirectory("stream-cmstore").toString
    val ckpt = s"$root/ckpt"
    val b0 = (1 to 150).map(i => i.toLong % 31)
    val b1 = (1 to 90).map(i => i.toLong % 17)
    val rightRows = (1 to 120).map(i => i.toLong % 31)

    val in1 = MemoryStream[Long]
    in1.addData(b0: _*)
    val q1 = Streams.joinSketchIngest(in1.toDF().toDF("k"), "k", params,
      s"$root/store_l", checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    // crash window: drop the commit marker so batch 0 re-executes on restart
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt/commits/0"), false)
    val in2 = MemoryStream[Long]
    in2.addData(b0: _*)
    in2.addData(b1: _*)
    val q2 = Streams.joinSketchIngest(in2.toDF().toDF("k"), "k", params,
      s"$root/store_l", checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()

    // the right side is a plain batch-written store
    import spark.implicits._
    JoinAdvisor.writeSketchShard(rightRows.toDF("k"), "k", params, s"$root/store_r", "all")
    val streamed = BigDecimal(
      JoinAdvisor.estimateFromStores(spark, s"$root/store_l", s"$root/store_r", params)
        .collect()(0).getDecimal(0))
    val whole = BigDecimal(
      JoinAdvisor.estimateEquiJoinRows(
        (b0 ++ b1).toDF("k"), "k", rightRows.toDF("k"), "k", params)
        .collect()(0).getDecimal(0))
    assert(streamed === whole,
      "replayed batch 0 must be absorbed idempotently — a double-landed " +
        "counter partition would inflate the estimate")
    // exactly the two batch partitions exist, no duplicates
    val landed = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/store_l"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
    assert(landed.toSeq === Seq("batch=s00000000", "batch=s00000001"))
    // start-time schema validation
    val bad = MemoryStream[Long]
    val ex = intercept[IllegalArgumentException] {
      Streams.joinSketchIngest(bad.toDF().toDF("other"), "k", params, s"$root/never")
    }
    assert(ex.getMessage.contains("no 'k' column"))
  }

  test("chatRoutedIngest: valid/quarantine routing with flags attached, idempotent replay") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-chat").toString
    val good =
      """[{"role":"user","content":"hi"},{"role":"assistant","content":"hello"}]"""
    val noAlt =
      """[{"role":"user","content":"a"},{"role":"user","content":"b"}]"""
    val input = MemoryStream[(Long, String)]
    val query = Streams.chatRoutedIngest(
      input.toDF().toDF("conv_id", "conv_json"), "conv_id", "conv_json", s"$root/chat")
    try {
      input.addData((1L, good), (2L, "[{broken"))
      query.processAllAvailable()
      input.addData((3L, noAlt), (4L, good))
      query.processAllAvailable()
      val valid = spark.read.parquet(s"$root/chat/valid")
      val quarantined = spark.read.parquet(s"$root/chat/quarantine")
      assert(valid.select("conv_id").as[Long].collect().toSet === Set(1L, 4L))
      assert(quarantined.select("conv_id").as[Long].collect().toSet === Set(2L, 3L))
      // the evidence rides along: flags AND the original json land
      val q2 = quarantined.where(col("conv_id") === 2L).head()
      assert(!q2.getAs[Boolean]("parse_ok"))
      assert(q2.getAs[String]("conv_json") === "[{broken")
      val q3 = quarantined.where(col("conv_id") === 3L).head()
      assert(q3.getAs[Boolean]("parse_ok") && !q3.getAs[Boolean]("alternates"))
      // flags must equal the BATCH operator on the same rows
      val batchFlags = graft.operators.Conversations.validate(
        graft.operators.Conversations.parseTurns(
          Seq((1L, good), (2L, "[{broken"), (3L, noAlt), (4L, good))
            .toDF("conv_id", "conv_json"),
          "conv_id", "conv_json"),
        "conv_id").collect().map(r => r.getLong(0) -> r.getAs[Boolean]("valid")).toMap
      val streamed = valid.unionByName(quarantined)
        .select("conv_id", "valid").as[(Long, Boolean)].collect().toMap
      assert(streamed === batchFlags)
    } finally query.stop()
    // output-column collision rejected at start, not first micro-batch
    val bad = MemoryStream[(Long, String, Boolean)]
    val ex = intercept[IllegalArgumentException] {
      Streams.chatRoutedIngest(
        bad.toDF().toDF("conv_id", "conv_json", "valid"),
        "conv_id", "conv_json", s"$root/never")
    }
    assert(ex.getMessage.contains("valid"))
    graft.operators.Caches.release()
  }

  test("chatRoutedIngest(tools = true): routes under the agentic contract, flag parity") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-toolchat").toString
    val agentic =
      """[{"role":"user","content":"q"},{"role":"assistant","content":"call"},
         {"role":"tool","content":"r"},{"role":"assistant","content":"a"}]"""
        .replaceAll("\n\\s*", "")
    val badTrans = // tool directly after user
      """[{"role":"user","content":"q"},{"role":"tool","content":"r"},
         {"role":"assistant","content":"a"}]""".replaceAll("\n\\s*", "")
    val input = MemoryStream[(Long, String)]
    val query = Streams.chatRoutedIngest(
      input.toDF().toDF("conv_id", "conv_json"), "conv_id", "conv_json",
      s"$root/chat", tools = true)
    try {
      input.addData((1L, agentic), (2L, badTrans))
      query.processAllAvailable()
      val valid = spark.read.parquet(s"$root/chat/valid")
      val quarantined = spark.read.parquet(s"$root/chat/quarantine")
      assert(valid.select("conv_id").as[Long].collect().toSet === Set(1L),
        "a tool round is LEGAL under the agentic contract")
      val q2 = quarantined.where(col("conv_id") === 2L).head()
      assert(!q2.getAs[Boolean]("transitions_ok") && q2.getAs[Boolean]("role_legal"))
      val batchFlags = graft.operators.Conversations.validateWithTools(
        graft.operators.Conversations.parseTurns(
          Seq((1L, agentic), (2L, badTrans)).toDF("conv_id", "conv_json"),
          "conv_id", "conv_json"),
        "conv_id").collect().map(r => r.getLong(0) -> r.getAs[Boolean]("valid")).toMap
      val streamed = valid.unionByName(quarantined)
        .select("conv_id", "valid").as[(Long, Boolean)].collect().toMap
      assert(streamed === batchFlags, "streamed flags equal the batch operator bit-for-bit")
    } finally query.stop()
    // the tool contract's own columns gate the start
    val bad = MemoryStream[(Long, String, Int)]
    val ex = intercept[IllegalArgumentException] {
      Streams.chatRoutedIngest(
        bad.toDF().toDF("conv_id", "conv_json", "transitions_ok"),
        "conv_id", "conv_json", s"$root/never", tools = true)
    }
    assert(ex.getMessage.contains("transitions_ok"))
    graft.operators.Caches.release()
  }
}
