package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Caches, Dedup, DedupIndex}
import graft.sources.BatchTable

class DedupIndexSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_dedup_index_spec").toString

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "completely different content about distributed query engines and shuffles"),
    (3L, "partitioned parquet tables answer analytical scans with columnar pruning"),
    (4L, "watermarks bound streaming state while session windows group events"))
    .toDF("id", "text")

  // near-dup of 1 (one token dropped), exact dup of 2, fresh doc, and an
  // internal near-dup pair (11 ≈ 13) inside the batch itself
  private val batch = Seq(
    (11L, "quick brown fox jumps over the lazy dog near the river bank"),
    (12L, "completely different content about distributed query engines and shuffles"),
    (13L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (14L, "broadcast joins avoid exchanges when one side fits in memory"))
    .toDF("id", "text")

  test("build + crossPairs: batch docs pair with their corpus sources, fresh docs do not") {
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path, numPerm = 64, bands = 16)
    val pairs = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs.contains((11L, 1L)), "near-dup of corpus doc must surface")
    assert(pairs.contains((12L, 2L)) && pairs((12L, 2L)) == 1.0, "exact dup must surface at 1.0")
    assert(pairs.contains((13L, 1L)), "near-dup via shared shingles must surface")
    assert(!pairs.keys.exists(_._1 == 14L), "fresh doc must not pair with the corpus")
    Caches.release()
  }

  test("crossPairs jaccard values match the in-frame exact ground truth") {
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path)
    val crossed = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id")) -> r.getAs[Double]("jaccard"))
      .toMap
    // ids were chosen so corpus < batch; the exact pipeline orders id_a < id_b
    val exact = Dedup.exactJaccardPairs(corpus.unionByName(batch), "text", "id", threshold = 0.5)
      .where(col("id_a") <= 4L && col("id_b") >= 11L)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(crossed == exact,
      s"index probe must equal exact cross pairs at this corpus size: $crossed vs $exact")
    Caches.release()
  }

  test("dedupBatch drops corpus dups, keeps one of each internal near-dup group") {
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path)
    val accepted = DedupIndex.dedupBatch(batch, "text", "id", path, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    // 11/12/13 duplicate the corpus; 14 is fresh
    assert(accepted == Set(14L), s"accepted = $accepted")
    Caches.release()
  }

  test("append folds a batch in; immutable labels; atomic visibility via rename") {
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path, batch = "00000001")
    assert(DedupIndex.batches(spark, path) == Seq("00000001"))
    assert(DedupIndex.nextBatchLabel(spark, path) == "00000002")
    val fresh = Seq((14L, "broadcast joins avoid exchanges when one side fits in memory"))
      .toDF("id", "text")
    DedupIndex.append(fresh, "text", "id", path, "00000002")
    assert(DedupIndex.batches(spark, path) == Seq("00000001", "00000002"))
    // the appended doc is now part of the corpus: re-probing the same text pairs at 1.0
    val again = DedupIndex.crossPairs(
      Seq((21L, "broadcast joins avoid exchanges when one side fits in memory")).toDF("id", "text"),
      "text", "id", path, threshold = 0.5)
      .collect()
    assert(again.exists(r => r.getAs[Long]("corpus_id") == 14L && r.getAs[Double]("jaccard") == 1.0))
    // batches are immutable: re-appending an existing label must fail
    intercept[java.io.IOException] {
      DedupIndex.append(fresh, "text", "id", path, "00000002")
    }
    Caches.release()
  }

  test("append enforces the index geometry recorded at init") {
    val path = tmp()
    DedupIndex.init(spark, path, DedupIndex.Params(numPerm = 32, bands = 8, shingleK = 3))
    // geometry comes from params, not the call site: sketches appended now
    // must probe identically later
    DedupIndex.append(corpus, "text", "id", path, "00000001")
    val p = DedupIndex.params(spark, path)
    assert(p == DedupIndex.Params(32, 8, 3))
    val pairs = DedupIndex.crossPairs(
      Seq((31L, "the quick brown fox jumps over the lazy dog near the river bank")).toDF("id", "text"),
      "text", "id", path, threshold = 0.5)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("corpus_id") == 1L && r.getAs[Double]("jaccard") == 1.0))
    Caches.release()
  }

  test("empty index (init only) probes to zero pairs with the right schema") {
    val path = tmp()
    DedupIndex.init(spark, path, DedupIndex.Params(64, 16, 3))
    val out = DedupIndex.crossPairs(batch, "text", "id", path)
    assert(out.columns.toSeq == Seq("batch_id", "corpus_id", "jaccard"))
    assert(out.count() == 0)
    Caches.release()
  }

  test("hot-bucket cap: over-cap index buckets still pair via the keeper, observably") {
    val path = tmp()
    // 12 identical corpus docs → every band bucket holds all 12
    val boiler = (1L to 12L).map(i => (i, "copy pasted boilerplate page with identical body text"))
      .toDF("id", "text")
    DedupIndex.build(boiler, "text", "id", path)
    val probe = Seq((100L, "copy pasted boilerplate page with identical body text")).toDF("id", "text")
    val capped = DedupIndex.crossPairs(probe, "text", "id", path, threshold = 0.5, maxBucket = 4)
      .collect()
    assert(capped.length == 1, "keeper path yields exactly the bucket keeper pair")
    assert(capped.head.getAs[Long]("corpus_id") == 1L, "keeper is the min corpus id")
    assert(capped.head.getAs[Double]("jaccard") == 1.0)
    val hot = DedupIndex.hotIndexBuckets(probe, "text", "id", path, maxBucket = 4)
    assert(hot.count() > 0, "the cap must be observable, never silent")
    assert(hot.agg(max("occupancy")).head.getLong(0) == 12L)
    Caches.release()
  }

  test("crossPairs plan: batch side broadcasts, corpus side never sort-merge joins") {
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path)
    val df = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
    df.collect() // finalize AQE so the asserted plan is the executed one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket probe and verification must broadcast the batch-derived sides:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join may appear in the probe:\n$plan")
    Caches.release()
  }

  test("compact coalesces all batches into one; probes answer identically") {
    val path = tmp()
    DedupIndex.build(corpus.limit(2), "text", "id", path, batch = "00000001")
    DedupIndex.append(corpus.where(col("id") > 2L), "text", "id", path, "00000002")
    val before = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val merged = DedupIndex.compact(spark, path)
    assert(DedupIndex.batches(spark, path) == Seq(merged), "sources dropped, one batch left")
    val st = DedupIndex.stats(spark, path).collect()
    assert(st.length == 1 && st.head.getAs[Long]("docs") == 4L)
    val after = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before, s"compaction must not change probe answers: $after vs $before")
    // idempotent duplicate window: a leftover source batch alongside the
    // merge (crash-between-promote-and-delete shape) changes nothing
    DedupIndex.append(corpus.limit(2), "text", "id", path, "zz_leftover_twin")
    val withDup = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(withDup == before, "duplicated index rows must not change any probe answer")
    Caches.release()
  }

  test("compact retries through its own sketches-then-bands crash window") {
    val path = tmp()
    DedupIndex.build(corpus.limit(2), "text", "id", path, batch = "00000001")
    DedupIndex.append(corpus.where(col("id") > 2L), "text", "id", path, "00000002")
    def pairs() = DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairs()
    // a compact that landed its merged sketches under the next label and
    // crashed before the bands rename: 00000003 is uncommitted, and every
    // retry re-picks that same label from bands/
    BatchTable(spark, s"$path/sketches").commit("00000003",
      spark.read.parquet(s"$path/sketches/batch=00000001", s"$path/sketches/batch=00000002"))
    assert(DedupIndex.batches(spark, path) == Seq("00000001", "00000002"))
    val merged = DedupIndex.compact(spark, path)
    assert(merged == "00000003")
    assert(DedupIndex.batches(spark, path) == Seq(merged), "sources dropped, one batch left")
    assert(DedupIndex.stats(spark, path).collect().map(_.getAs[Long]("docs")).toSeq == Seq(4L),
      "the stale sketches half must not double the merged batch")
    assert(pairs() == before, "the retried compact must not change probe answers")
    Caches.release()
  }

  test("duplicated postings cannot flip an under-cap bucket onto the keeper path") {
    // compact's promote-then-delete window doubles every posting row; the
    // occupancy cap must count DISTINCT members, or a bucket of 8 real
    // members under maxBucket=10 reads as 16, goes "hot", and only the
    // keeper gets verified — silently dropping 7 real pairs.
    val path = tmp()
    val eight = (1L to 8L).map(i => (i, "copy pasted boilerplate page with identical body text"))
      .toDF("id", "text")
    DedupIndex.build(eight, "text", "id", path, batch = "00000001")
    val probe = Seq((100L, "copy pasted boilerplate page with identical body text")).toDF("id", "text")
    def pairs() = DedupIndex
      .crossPairs(probe, "text", "id", path, threshold = 0.5, maxBucket = 10)
      .select("corpus_id").as[Long].collect().toSet
    assert(pairs() === (1L to 8L).toSet, "under-cap bucket verifies every member")
    Caches.release()
    // duplicate-window shape: the same content lands under a second label
    DedupIndex.append(eight, "text", "id", path, "00000002_twin")
    assert(pairs() === (1L to 8L).toSet,
      "doubled posting rows must not change the cap decision or the pairs")
    Caches.release()
  }

  test("vacuum removes crashed-append staging residue without touching live batches") {
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path)
    // simulate a crashed append: staging directory left behind
    val stray = new org.apache.hadoop.fs.Path(s"$path/bands/.staging_99999999_deadbeef")
    val fs = stray.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stray)
    // invisible to readers even before vacuum (dot-prefixed)
    assert(DedupIndex.batches(spark, path) == Seq("00000001"))
    DedupIndex.vacuum(spark, path)
    assert(!fs.exists(stray))
    assert(DedupIndex.batches(spark, path) == Seq("00000001"))
    Caches.release()
  }

  test("occupancyReport + hotBuckets: distinct-id occupancy arithmetic on a hand corpus") {
    val path = tmp()
    // 3 identical docs (A), 2 identical (B), 1 unique (C): identical text
    // -> identical minhash -> the group co-occupies one bucket in each of
    // the 16 bands; distinct texts land distinct buckets (a cross-text
    // xxhash64 band collision has probability ~2^-64 -- treated as zero)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine"),
      (5L, "one two three four five six seven eight nine"),
      (6L, "entirely unrelated singleton content right here"))
      .toDF("id", "text")
    DedupIndex.build(docs, "text", "id", path, numPerm = 64, bands = 16)
    val r = DedupIndex.occupancyReport(spark, path, maxBucket = 2).collect()(0)
    assert(r.getAs[Long]("buckets") == 48L)        // 3 distinct texts x 16 bands
    assert(r.getAs[Long]("postings") == 96L)       // 6 docs x 16 bands
    assert(r.getAs[Double]("mean_occupancy") == 2.0)
    assert(r.getAs[Long]("max_occupancy") == 3L)
    assert(r.getAs[Long]("hot_buckets") == 16L)    // the A-group's buckets
    assert(r.getAs[Long]("hot_postings") == 48L)   // 3 members x 16 bands
    assert(r.getAs[Double]("hot_postings_frac") == 0.5)
    val hot1 = DedupIndex.hotBuckets(spark, path, maxBucket = 1).collect()
    assert(hot1.length == 32, "A- and B-group buckets exceed occupancy 1")
    assert(hot1.map(_.getAs[Long]("occupancy")).toSeq.sorted.reverse
      == (Seq.fill(16)(3L) ++ Seq.fill(16)(2L)), "ordered occupancy desc")
    // compact's promote-then-delete window: the same ids posted twice
    // under a second batch label must not move a single report number
    DedupIndex.append(docs, "text", "id", path, "00000002")
    val r2 = DedupIndex.occupancyReport(spark, path, maxBucket = 2).collect()(0)
    assert(r2 == r, "doubled postings must be invisible to the report (distinct ids)")
    Caches.release()
  }

  test("two writers, one label: the loser refuses loudly at its FIRST table, winner intact") {
    // VERDICT r17 item 5: nextBatchLabel is read-max-then-increment, so
    // two manual writers can draw the same label (single-writer contract,
    // documented there). append writes sketches THEN bands and aborts at
    // the first existing batch= dir, so the loser can never win a later
    // table after losing an earlier one — no cross-table split-brain.
    val path = tmp()
    DedupIndex.build(corpus, "text", "id", path)
    val label = DedupIndex.nextBatchLabel(spark, path)
    val winner = Seq((41L, "writer a lands this content first and keeps it"))
      .toDF("id", "text")
    DedupIndex.append(winner, "text", "id", path, label)
    val e = intercept[java.io.IOException] {
      DedupIndex.append(
        Seq((42L, "writer b collides and must abort loudly")).toDF("id", "text"),
        "text", "id", path, label)
    }
    assert(e.getMessage.contains(s"batch=$label"),
      s"the refusal must name the batch dir: ${e.getMessage}")
    // the winner's batch is whole: both tables present, probe serves it
    assert(DedupIndex.batches(spark, path).contains(label))
    val probe = DedupIndex.crossPairs(
      Seq((51L, "writer a lands this content first and keeps it")).toDF("id", "text"),
      "text", "id", path, threshold = 0.5).collect()
    assert(probe.exists(r => r.getAs[Long]("corpus_id") == 41L &&
      r.getAs[Double]("jaccard") == 1.0),
      "the winner's content must serve after the collision")
    assert(DedupIndex.crossPairs(
      Seq((52L, "writer b collides and must abort loudly")).toDF("id", "text"),
      "text", "id", path, threshold = 0.5).collect().isEmpty,
      "the loser's content must not have entered the index")
    Caches.release()
  }

  test("maintenanceReport: every branch of the verdict, reducibility judged on sketches") {
    def report(path: String, maxBucket: Int = 2, hotFracMax: Double = 0.2) =
      DedupIndex.maintenanceReport(spark, path, maxBucket, hotFracMax).collect()(0)
    def rec(r: org.apache.spark.sql.Row) = r.getAs[String]("recommended")

    // healthy: the real pipeline over distinct docs, nothing hot
    val hPath = tmp()
    DedupIndex.build(corpus, "text", "id", hPath, numPerm = 64, bands = 16)
    val h = report(hPath)
    assert(rec(h) == "healthy", s"distinct corpus must be healthy: $h")

    // flag_irreducible_duplicates: the real pipeline, exact copies — the
    // hot buckets hold ONE distinct sketch each, no banding can split
    val iPath = tmp()
    DedupIndex.build(
      corpus.unionByName(corpus.select((col("id") + 100L).as("id"), col("text"))),
      "text", "id", iPath, numPerm = 64, bands = 16)
    val ir = report(iPath, maxBucket = 1, hotFracMax = 0.1)
    assert(rec(ir) == "flag_irreducible_duplicates",
      s"copy pairs must flag duplicates: $ir")
    assert(ir.getAs[Double]("irreducible_frac") == 1.0)

    // rebuild_stricter_bands: INJECTED band collision of five DISTINCT
    // sketches (the boilerplate shape — a one-band-slice collision real
    // hashing makes hard to stage deterministically): stricter banding
    // can split what identical sketches cannot.
    val bPath = tmp()
    DedupIndex.init(spark, bPath, DedupIndex.Params(numPerm = 8, bands = 2, shingleK = 3))
    BatchTable(spark, s"$bPath/sketches").commit("00000001",
      (1L to 5L).map(i => (i, Seq(i, i + 10L))).toDF("id", "sh"))
    BatchTable(spark, s"$bPath/bands").commit("00000001",
      ((1L to 5L).map(i => (0, 99L, i)) ++ Seq((1, 1L, 1L), (1, 2L, 2L)))
        .toDF("band", "bucket", "id"))
    val rb = report(bPath, maxBucket = 2, hotFracMax = 0.2)
    assert(rec(rb) == "rebuild_stricter_bands",
      s"distinct sketches colliding in one band must recommend rebanding: $rb")
    assert(rb.getAs[Double]("irreducible_frac") == 0.0)
    assert(rb.getAs[Long]("hot_buckets") == 1L)

    // empty index: healthy, zeros
    val ePath = tmp()
    DedupIndex.init(spark, ePath, DedupIndex.Params(64, 16, 3))
    val e = report(ePath)
    assert(rec(e) == "healthy" && e.getAs[Long]("postings") == 0L)

    // compact's promote-then-delete window: doubled postings move nothing
    // (distinct ids per bucket, distinct (id, sh) on the sketch side)
    BatchTable(spark, s"$bPath/sketches").commit("00000002",
      (1L to 5L).map(i => (i, Seq(i, i + 10L))).toDF("id", "sh"))
    BatchTable(spark, s"$bPath/bands").commit("00000002",
      ((1L to 5L).map(i => (0, 99L, i)) ++ Seq((1, 1L, 1L), (1, 2L, 2L)))
        .toDF("band", "bucket", "id"))
    val rb2 = report(bPath, maxBucket = 2, hotFracMax = 0.2)
    assert(rb2 == rb, "doubled postings must be invisible to the verdict")
    Caches.release()
  }

  test("occupancyReport and hotBuckets on an empty index: zeros, empty, right schemas") {
    val path = tmp()
    DedupIndex.init(spark, path, DedupIndex.Params(64, 16, 3))
    val r = DedupIndex.occupancyReport(spark, path).collect()(0)
    assert(r.getAs[Long]("buckets") == 0L && r.getAs[Long]("postings") == 0L &&
      r.getAs[Long]("hot_buckets") == 0L && r.getAs[Double]("hot_postings_frac") == 0.0)
    assert(DedupIndex.hotBuckets(spark, path).collect().isEmpty)
  }

  test("free-form batch labels: accepted, serving is label-order-insensitive (pinned)") {
    // VERDICT r18 item 7, pinned as INTENDED here: unlike TextIndex
    // (where versionKey ranks labels and free-form shapes refuse without
    // an opt-in), LSH batches union additively — the label is an
    // identifier, never an order — so any path-safe label serves
    // identically to a numeric one.
    val numeric = tmp(); val freeForm = tmp()
    DedupIndex.build(corpus, "text", "id", numeric, batch = "00000001")
    DedupIndex.build(corpus.where(col("id") <= 2), "text", "id", freeForm,
      batch = "backfill-2026-08-16")
    DedupIndex.append(corpus.where(col("id") > 2), "text", "id", freeForm,
      "adhoc-backfill-7f3a")
    def pairs(path: String) =
      DedupIndex.crossPairs(batch, "text", "id", path, threshold = 0.5)
        .collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("jaccard"))).toSet
    assert(pairs(freeForm) == pairs(numeric),
      "free-form labels must serve exactly like numeric ones")
    Caches.release()
  }

  test("staleGuard: probing a boilerplate-hot index warns loudly; healthy stays silent") {
    // VERDICT r18 item 3: ANN probes self-diagnose outgrown geometry;
    // the LSH probe now carries the analogous in-band signal — mean
    // occupancy of the buckets the probe actually matched.
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val oldWarn = DedupIndex.staleGuard.onWarn
    val oldTarget = DedupIndex.staleGuard.targetBucketRows
    val oldSlack = DedupIndex.staleGuard.slack
    val oldInterval = DedupIndex.staleGuard.checkIntervalNanos
    try {
      DedupIndex.staleGuard.onWarn = msg => warnings.synchronized { warnings += msg }
      DedupIndex.staleGuard.targetBucketRows = 1L
      DedupIndex.staleGuard.slack = 1.5
      DedupIndex.staleGuard.checkIntervalNanos = 0L // force every probe
      // hot: 8 identical corpus docs share every (band, bucket) — a
      // matching probe sees mean occupancy 8 > 1.5 x 1
      val text = "identical boilerplate text repeated across the corpus unchanged"
      val path = tmp()
      DedupIndex.build((1L to 8L).map(i => (i, text)).toDF("id", "text"),
        "text", "id", path)
      DedupIndex.crossPairs(Seq((100L, text)).toDF("id", "text"),
        "text", "id", path, threshold = 0.5).count()
      assert(warnings.size == 1,
        s"hot probe must warn exactly once, got $warnings")
      assert(warnings.head.contains(path) &&
        warnings.head.contains("maintenanceReport"),
        s"the warning must name the index and the remedy: ${warnings.head}")
      // healthy: all-distinct corpus — matched buckets hold one id each
      warnings.clear()
      val hPath = tmp()
      DedupIndex.build(corpus, "text", "id", hPath)
      DedupIndex.crossPairs(batch, "text", "id", hPath, threshold = 0.5).count()
      assert(warnings.isEmpty, s"healthy probe must stay silent, got $warnings")
    } finally {
      DedupIndex.staleGuard.onWarn = oldWarn
      DedupIndex.staleGuard.targetBucketRows = oldTarget
      DedupIndex.staleGuard.slack = oldSlack
      DedupIndex.staleGuard.checkIntervalNanos = oldInterval
      Caches.release()
    }
  }
}
