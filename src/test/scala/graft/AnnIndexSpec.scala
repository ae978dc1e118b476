package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Caches, Similarity}

class AnnIndexSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ann_index_spec").toString

  // two well-separated directions (cos 0.7 across groups stays far below
  // the 0.95 test threshold)
  private val corpus = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.7f, 0.7f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Seq(0.0f, 0.7f, 0.7f, 0.0f)))
    .toDF("id", "vec")

  // scaled copy of 1, a fresh direction, exact copy of 3, and an internal
  // near-dup pair (12 ≈ 14) inside the batch itself
  private val batch = Seq(
    (11L, Seq(1.001f, 0.0f, 0.0f, 0.0f)),
    (12L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
    (13L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (14L, Seq(0.0f, 0.0f, 0.01f, 0.9995f)))
    .toDF("id", "vec")

  private def buildSmall(path: String): Unit =
    AnnIndex.build(corpus, "id", "vec", path, nlist = 2, sampleRows = 8, kmeansIters = 5)

  test("build + crossNeighbors: batch vectors pair with their corpus sources, fresh do not") {
    val path = tmp()
    buildSmall(path)
    val pairs = AnnIndex.crossNeighbors(batch, "id", "vec", path, threshold = 0.95, nprobe = 2)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) -> r.getAs[Double]("cosine"))
      .toMap
    assert(pairs.keySet == Set((11L, 1L), (13L, 3L)), s"pairs = $pairs")
    assert(pairs((11L, 1L)) > 0.999, "scaled copy must verify at ~1")
    assert(pairs((13L, 3L)) > 0.999, "exact copy must verify at ~1")
    Caches.release()
  }

  test("crossNeighbors at nprobe = nlist equals the brute-force exact cross pairs") {
    val path = tmp()
    buildSmall(path)
    val probed = AnnIndex.crossNeighbors(batch, "id", "vec", path, threshold = 0.95, nprobe = 2)
      .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineNearDupPairsExact(
      corpus.unionByName(batch), "id", "vec", threshold = 0.95)
      .where(col("id_a") <= 4L && col("id_b") >= 11L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == exact, s"full-probe index must equal brute force: $probed vs $exact")
    Caches.release()
  }

  test("free-form batch labels: accepted, serving is label-order-insensitive (pinned)") {
    // VERDICT r18 item 7, pinned as INTENDED here: ANN batches union
    // additively (the label is an identifier, never an order), so any
    // path-safe label serves identically to a numeric one — the
    // deliberate contrast with TextIndex, which ranks labels and refuses
    // free-form shapes without an opt-in.
    val numeric = tmp(); val freeForm = tmp()
    buildSmall(numeric)
    AnnIndex.build(corpus.where(col("id") <= 2), "id", "vec", freeForm,
      nlist = 2, sampleRows = 8, kmeansIters = 5, batch = "backfill-2026-08-16")
    AnnIndex.append(corpus.where(col("id") > 2), "id", "vec", freeForm,
      "adhoc-backfill-7f3a")
    def pairs(path: String) =
      AnnIndex.crossNeighbors(batch, "id", "vec", path, threshold = 0.95, nprobe = 2)
        .collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")))
        .toSet
    assert(pairs(freeForm) == pairs(numeric),
      "free-form labels must serve exactly like numeric ones")
    Caches.release()
  }

  test("append: immutable labels, idempotent retry, atomic visibility") {
    val path = tmp()
    buildSmall(path)
    assert(AnnIndex.batches(spark, path) == Seq("00000001"))
    assert(AnnIndex.nextBatchLabel(spark, path) == "00000002")
    val fresh = Seq((21L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec")
    AnnIndex.append(fresh, "id", "vec", path, "00000002")
    assert(AnnIndex.batches(spark, path) == Seq("00000001", "00000002"))
    // immutable: re-appending a landed label fails
    intercept[java.io.IOException] {
      AnnIndex.append(fresh, "id", "vec", path, "00000002")
    }
    // idempotent retry: same label is a no-op, row counts unchanged
    AnnIndex.appendIdempotent(fresh, "id", "vec", path, "00000002")
    val counts = AnnIndex.stats(spark, path)
      .collect().map(r => r.getAs[String]("batch") -> r.getAs[Long]("vectors")).toMap
    assert(counts == Map("00000001" -> 4L, "00000002" -> 1L))
    // the appended vector is immediately probe-visible
    val hit = AnnIndex.crossNeighbors(
      Seq((31L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec"),
      "id", "vec", path, threshold = 0.95, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")))
    assert(hit.toSet == Set((31L, 21L)))
    Caches.release()
  }

  test("two writers, one label: the loser refuses loudly, the winner's batch serves intact") {
    // VERDICT r17 item 5 (the single-writer contract documented at
    // nextBatchLabel): two manual writers drawing the same label cannot
    // corrupt — the postings table is the only table an append writes,
    // and the promote rename refuses an existing batch= dir.
    val path = tmp()
    buildSmall(path)
    val label = AnnIndex.nextBatchLabel(spark, path)
    AnnIndex.append(
      Seq((61L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec"),
      "id", "vec", path, label)
    val e = intercept[java.io.IOException] {
      AnnIndex.append(
        Seq((62L, Seq(0.0f, 0.0f, 0.0f, 1.0f))).toDF("id", "vec"),
        "id", "vec", path, label)
    }
    assert(e.getMessage.contains(s"batch=$label"),
      s"the refusal must name the batch dir: ${e.getMessage}")
    val served = AnnIndex.crossNeighbors(
      Seq((71L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
        (72L, Seq(0.0f, 0.0f, 0.0f, 1.0f))).toDF("id", "vec"),
      "id", "vec", path, threshold = 0.95, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(served == Set((71L, 61L)),
      s"winner serves, loser never entered: $served")
    Caches.release()
  }

  test("compact folds batches into one without changing probe answers") {
    val path = tmp()
    buildSmall(path)
    AnnIndex.append(
      Seq((21L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "vec"),
      "id", "vec", path, "00000002")
    def probe(): Set[(Long, Long)] =
      AnnIndex.crossNeighbors(batch, "id", "vec", path, threshold = 0.95, nprobe = 2)
        .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    val before = probe()
    val merged = AnnIndex.compact(spark, path)
    assert(AnnIndex.batches(spark, path) == Seq(merged))
    assert(probe() == before, "compaction must not change probe answers")
    assert(AnnIndex.stats(spark, path).agg(sum("vectors")).head.getLong(0) == 5L)
    // compacting a single batch is a no-op returning the same label
    assert(AnnIndex.compact(spark, path) == merged)
    Caches.release()
  }

  test("maxCell caps over-occupied cells onto the keeper-only path, observably") {
    val path = tmp()
    // three near-identical corpus vectors land in the same cell
    val boiler = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.001f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.001f, 0.0f, 0.0f)),
      (9L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("id", "vec")
    AnnIndex.build(boiler, "id", "vec", path, nlist = 2, sampleRows = 8)
    val q = Seq((11L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "vec")
    val uncapped = AnnIndex.crossNeighbors(q, "id", "vec", path, threshold = 0.95, nprobe = 2)
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(uncapped == Set(1L, 2L, 3L))
    val capped = AnnIndex.crossNeighbors(
      q, "id", "vec", path, threshold = 0.95, nprobe = 2, maxCell = 2)
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(capped == Set(1L), s"over-cap cell must contribute only its keeper: $capped")
    val hot = AnnIndex.hotCells(q, "id", "vec", path, nprobe = 2, maxCell = 2)
      .collect().map(_.getAs[Long]("occupancy"))
    assert(hot.toSeq == Seq(3L), "the capped cell must surface in the audit view")
    Caches.release()
  }

  test("dedupBatch drops corpus dups, keeps one of each internal near-dup group") {
    val path = tmp()
    buildSmall(path)
    val accepted = AnnIndex.dedupBatch(
      batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(2), Int.MaxValue, dim = 4)
      .select("id").as[Long].collect().toSet
    // 11 and 13 duplicate the corpus; 12 ≈ 14 keep the min id 12
    assert(accepted == Set(12L), s"accepted = $accepted")
    Caches.release()
  }

  test("probing an empty index matches nothing; init refuses retrain over batches") {
    val path = tmp()
    AnnIndex.init(spark, path, Similarity.trainIvf(corpus, "id", "vec", nlist = 2, sampleRows = 8))
    assert(AnnIndex.crossNeighbors(batch, "id", "vec", path, nprobe = 2).count() == 0L)
    AnnIndex.append(corpus, "id", "vec", path, "00000001")
    intercept[IllegalArgumentException] {
      AnnIndex.init(spark, path,
        Similarity.trainIvf(batch, "id", "vec", nlist = 2, sampleRows = 8))
    }
    Caches.release()
  }

  test("catalog q65 ⊆ q65c with full recall on the planted scaled copies") {
    val sfDir = "/root/testdata/sf0.001"
    val probed = Queries.q65AnnIndexDedup.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Queries.q65cAnnCrossExact.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed.subsetOf(exact), s"index pairs must be a subset of brute force")
    val planted = exact.filter { case (a, b) => b == a + 1000000L }
    assert(planted.subsetOf(probed),
      s"every planted copy must be recalled: missing ${planted.diff(probed).take(5)}")
    Caches.release()
  }

  // ---- IVF-PQ ----

  private def buildSmallPq(path: String): Unit =
    AnnIndex.buildPq(corpus, "id", "vec", path,
      nlist = 2, m = 2, ksub = 4, sampleRows = 8, kmeansIters = 5)

  test("buildPq lands code+norm postings; the PQ probe equals the flat probe") {
    val path = tmp()
    buildSmallPq(path)
    val postings = spark.read.parquet(s"$path/vectors")
    assert(postings.columns.toSet == Set("cell", "id", "vec", "code", "norm", "batch"),
      s"PQ postings must carry code and norm: ${postings.columns.toSeq}")
    assert(postings.select("code").as[Array[Byte]].head().length == 2,
      "code must be m bytes")
    // ≤ 4 distinct 2-dim subvectors and ksub=4: quantization is EXACT on
    // this corpus, so even a tight margin keeps the probes identical
    val pq = AnnIndex.crossNeighborsPq(
      batch, "id", "vec", path, threshold = 0.95, nprobe = 2, margin = 0.02)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) -> r.getAs[Double]("cosine"))
      .toMap
    val flat = AnnIndex.crossNeighbors(batch, "id", "vec", path, threshold = 0.95, nprobe = 2)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) -> r.getAs[Double]("cosine"))
      .toMap
    assert(pq == flat, s"pq = $pq, flat = $flat")
    assert(pq.keySet == Set((11L, 1L), (13L, 3L)))
    assert(pq((11L, 1L)) > 0.999, "emitted cosine must be the EXACT one, not the ADC estimate")
    Caches.release()
  }

  test("PQ probe: maxCell keepers bypass the screen and verify by true cosine") {
    val path = tmp()
    buildSmallPq(path)
    // maxCell=1 forces every probed cell hot → keeper-only candidates on
    // both probes. Keepers bypass the ADC screen entirely (margin 0 would
    // screen out even exact pairs if it applied to them), so the capped
    // PQ probe must EQUAL the capped flat probe — the cap never compounds
    // with quantization error.
    val pq = AnnIndex.crossNeighborsPq(
      batch, "id", "vec", path, threshold = 0.95, nprobe = 2, maxCell = 1, margin = 0.0)
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    val flat = AnnIndex.crossNeighbors(
      batch, "id", "vec", path, threshold = 0.95, nprobe = 2, maxCell = 1)
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(pq == flat, s"pq = $pq, flat = $flat")
    assert(pq.nonEmpty, "at least one planted copy must pair with a keeper")
    Caches.release()
  }

  test("PQ screen reads code+norm only — the raw vector column stays on disk") {
    val path = tmp()
    buildSmallPq(path)
    val plan = AnnIndex.crossNeighborsPq(
      batch, "id", "vec", path, threshold = 0.95, nprobe = 2)
      .queryExecution.executedPlan.toString
    // postings are scanned twice by design: the screening pass and the
    // survivor fetch. The IO claim is that the SCREENING scan's schema
    // carries the code bytes and NOT the raw vectors — at 10^9 vectors
    // that is the ~30x read-volume difference.
    val postingsSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
      .filter(s => s.contains("code") || s.contains("vec"))
    val screenScans = postingsSchemas.filter(s => s.contains("code:binary"))
    val fetchScans = postingsSchemas.filter(s => s.contains("vec:array"))
    assert(screenScans.nonEmpty, s"expected a code-column screening scan:\n$plan")
    assert(screenScans.forall(!_.contains("vec:array")),
      s"the screening scan must NOT read raw vectors:\n${screenScans.mkString("\n")}")
    assert(fetchScans.exists(!_.contains("code:binary")),
      s"the survivor fetch reads vectors without dragging codes along:\n${fetchScans.mkString("\n")}")
    Caches.release()
  }

  test("measured probe IO: the screen serves probed cells only, never the corpus") {
    // 4 planted clusters of 16 around orthogonal axes — big enough that
    // "probed cells only" is a strict subset, deterministic enough that
    // k-means recovers the clusters
    val clustered = (0 until 64).map { i =>
      val axis = i % 4
      val base = Array.fill(4)(0.02f * ((i * 7 % 5) - 2))
      base(axis) = 1.0f
      (i.toLong, base.toSeq)
    }.toDF("id", "vec")
    val path = tmp()
    AnnIndex.buildPq(clustered, "id", "vec", path,
      nlist = 4, m = 2, ksub = 4, sampleRows = 64, kmeansIters = 10)
    // two probes near ONE axis with nprobe=1: at most 2 of 4 cells probed
    val probesDf = Seq(
      (100L, Seq(0.99f, 0.01f, 0.0f, 0.0f)),
      (101L, Seq(1.01f, 0.0f, 0.01f, 0.0f)))
      .toDF("id", "vec")
    val res = AnnIndex.crossNeighborsPq(
      probesDf, "id", "vec", path, threshold = 0.95, nprobe = 1)
    res.collect()
    // the pinned screening table (cell, corpus_id, code, norm) was
    // materialized through the probed-cell semi-join: the rows it SERVES
    // are the probe's coarse working set. Measured, not just plan-shaped:
    // numOutputRows of the cache scan ≤ probed-cells' occupancy ≪ corpus.
    val screens = PlanMetrics.cacheScansWith(res, Seq("corpus_id", "code", "norm"))
    assert(screens.nonEmpty, "expected the pinned screening table in the executed plan")
    val served = screens.map(PlanMetrics.rows)
    assert(served.forall(_ > 0L), s"screen must serve the probed cell's rows, got $served")
    assert(served.forall(_ <= 32L),
      s"2 probed cells of 4 → at most 32 of 64 corpus rows may enter the screen, got $served")
    Caches.release()
  }

  test("scoreWithLut screens bit-identically to the plain ADC path") {
    val path = tmp()
    buildSmallPq(path)
    def run(useLut: Boolean) = AnnIndex.crossNeighborsPq(
      batch, "id", "vec", path, threshold = 0.95, nprobe = 2,
      margin = 0.02, scoreWithLut = useLut)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine")))
      .toSet
    assert(run(true) == run(false),
      "the LUT screen must be bit-identical to the ADC screen, cosines included")
    Caches.release()
  }

  test("dedupBatchPq accepts the same rows as dedupBatch") {
    val path = tmp()
    buildSmallPq(path)
    val pq = AnnIndex.dedupBatchPq(
      batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(2), Int.MaxValue, margin = 0.02, dim = 4)
      .select("id").as[Long].collect().toSet
    val flat = AnnIndex.dedupBatch(
      batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(2), Int.MaxValue, dim = 4)
      .select("id").as[Long].collect().toSet
    assert(pq == flat && pq == Set(12L), s"pq = $pq, flat = $flat")
    Caches.release()
  }

  test("catalog q65b (PQ probe) equals q65 with full planted recall") {
    val sfDir = "/root/testdata/sf0.001"
    val pq = Queries.q65bAnnIndexDedupPq.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = Queries.q65AnnIndexDedup.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Queries.q65cAnnCrossExact.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.subsetOf(exact), "PQ pairs must be a subset of brute force (exact verify)")
    val planted = exact.filter { case (a, b) => b == a + 1000000L }
    assert(planted.subsetOf(pq),
      s"PQ screen must not lose planted copies: missing ${planted.diff(pq).take(5)}")
    assert(pq == flat,
      s"at these settings the PQ screen must equal the flat probe: " +
        s"pq-only=${pq.diff(flat).take(5)} flat-only=${flat.diff(pq).take(5)}")
    Caches.release()
  }

  test("vacuum removes crashed-append staging residue, not landed batches") {
    val path = tmp()
    buildSmall(path)
    val staging = new java.io.File(s"$path/vectors/.staging_99_dead")
    assert(staging.mkdirs())
    AnnIndex.vacuum(spark, path)
    assert(!staging.exists(), "staging residue must be removed")
    assert(AnnIndex.batches(spark, path) == Seq("00000001"))
    Caches.release()
  }

  test("crossNeighborsBulk: identical pairs to the broadcast path, probes side off the broadcast") {
    val path = tmp()
    buildSmall(path)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) -> r.getAs[Double]("cosine"))
      .toMap
    // partial nprobe (1 of 2 cells): both paths must miss and find the
    // SAME pairs — the join-strategy swap may not move recall either way
    for (np <- Seq(1, 2)) {
      val bc = pairs(AnnIndex.crossNeighbors(
        batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(np), Int.MaxValue))
      val bulk = pairs(AnnIndex.crossNeighborsBulk(
        batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(np), Int.MaxValue))
      assert(bulk == bc, s"nprobe=$np: bulk=$bulk broadcast=$bc")
    }
    // the point of the variant: the probes table (carrying __qvec) is
    // only HINT-free — on production-sized inputs Catalyst shuffles it.
    // Tiny spec frames would auto-broadcast regardless, so the plan
    // check pins the hint structure with auto-broadcast off: the
    // explicitly-hinted distinct-cell semi-join must STILL broadcast,
    // while the candidate join falls to a shuffle join (the broadcast
    // path under the same conf keeps its hinted probes broadcast —
    // proving bulk's difference is the absent hint, not the conf).
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val bulkPlan = AnnIndex.crossNeighborsBulk(
        batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(2), Int.MaxValue)
        .queryExecution.executedPlan.toString
      assert(bulkPlan.contains("BroadcastExchange"),
        s"the hinted probed-cell semi-join must still broadcast:\n$bulkPlan")
      assert("""(SortMergeJoin|ShuffledHashJoin)""".r.findFirstIn(bulkPlan).isDefined,
        s"bulk candidate join must be a shuffle join:\n$bulkPlan")
      val bcPlan = AnnIndex.crossNeighbors(
        batch, "id", "vec", path, 0.95, AnnIndex.Probe.Cells(2), Int.MaxValue)
        .queryExecution.executedPlan.toString
      assert("""BroadcastHashJoin""".r.findAllIn(bcPlan).size >= 2,
        s"the per-micro-batch path keeps its hinted probes broadcast:\n$bcPlan")
    } finally spark.conf.set(thresholdKey, saved)
    Caches.release()
  }

  test("occupancyReport: distinct-id cell occupancy arithmetic on a hand-built quantizer") {
    val path = tmp()
    // hand centroids make cell assignment exact: c0=(0,0), c1=(10,0),
    // c2=(0,10); vectors sit within 0.2 of their centroid, so nearest-of-3
    // is unambiguous. 3 ids in cell 0, 2 in cell 1, 1 in cell 2.
    AnnIndex.init(spark, path, Similarity.IvfIndex(
      Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0))))
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.0f, 0.1f)),
      (4L, Seq(10.0f, 0.0f)), (5L, Seq(10.1f, 0.0f)),
      (6L, Seq(0.0f, 10.0f)))
      .toDF("id", "vec")
    AnnIndex.append(vecs, "id", "vec", path, "00000001")
    val r = AnnIndex.occupancyReport(spark, path, maxCell = 2).collect()(0)
    assert(r.getAs[Long]("cells") == 3L)
    assert(r.getAs[Long]("postings") == 6L)
    assert(r.getAs[Double]("mean_occupancy") == 2.0)
    assert(r.getAs[Long]("max_occupancy") == 3L)
    assert(r.getAs[Long]("hot_cells") == 1L)      // cell 0, occupancy 3
    assert(r.getAs[Long]("hot_postings") == 3L)
    assert(r.getAs[Double]("hot_postings_frac") == 0.5)
    // compact's promote-then-delete window: the same ids posted twice
    // under a second batch label must not move a single report number
    AnnIndex.append(vecs, "id", "vec", path, "00000002")
    val r2 = AnnIndex.occupancyReport(spark, path, maxCell = 2).collect()(0)
    assert(r2 == r, "doubled postings must be invisible to the report (distinct ids)")
    Caches.release()
  }

  test("maintenanceReport: every branch of the verdict on hand-built quantizers") {
    def report(path: String, target: Long = 4L, maxCell: Int = 2,
        hotFracMax: Double = 0.2, imiAbove: Int = 1 << 14) =
      AnnIndex.maintenanceReport(spark, path, targetCellRows = target,
        slack = 2.0, maxCell = maxCell, hotFracMax = hotFracMax,
        imiAbove = imiAbove, skewShrink = 4L).collect()(0)
    def rec(r: org.apache.spark.sql.Row) = r.getAs[String]("recommended")

    // healthy: balanced occupancy, mean far under slack x target
    val hPath = tmp()
    AnnIndex.init(spark, hPath, Similarity.IvfIndex(
      Array(Array(0.0, 0.0), Array(10.0, 0.0))))
    AnnIndex.append(Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.1f, 0.0f)),
      (3L, Seq(10.0f, 0.0f)), (4L, Seq(10.1f, 0.0f)))
      .toDF("id", "vec"), "id", "vec", hPath, "00000001")
    val h = report(hPath)
    assert(rec(h) == "healthy", s"balanced index must be healthy: $h")
    assert(h.getAs[Double]("hot_postings_frac") == 0.0)

    // rebuild_resize: the mean-cell signal fires first (resizeReport's
    // condition verbatim) even though hot cells exist too
    val rPath = tmp()
    AnnIndex.init(spark, rPath, Similarity.IvfIndex(
      Array(Array(0.0, 0.0), Array(10.0, 0.0))))
    AnnIndex.append((1L to 40L).map(i => (i, Seq((i % 2) * 10.0f, i / 100.0f)))
      .toDF("id", "vec"), "id", "vec", rPath, "00000001")
    val r = report(rPath, target = 4L) // mean 20 > 2 x 4, sized = 16 (min) != 2
    assert(rec(r) == "rebuild_resize", s"outgrown mean must fire resize: $r")

    // rebuild_skew_larger_nlist: mean healthy, one hot cell of DISTINCT
    // vectors (reducible), sized nlist == nlist so resize stays silent
    val sPath = tmp()
    AnnIndex.init(spark, sPath, Similarity.IvfIndex(
      Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0), Array(10.0, 10.0))))
    AnnIndex.append(
      ((1L to 8L).map(i => (i, Seq(i / 100.0f, 0.0f))) ++ // 8 distinct in cell 0
        Seq((9L, Seq(10.0f, 0.0f)), (10L, Seq(0.0f, 10.0f)), (11L, Seq(10.0f, 10.0f))))
        .toDF("id", "vec"), "id", "vec", sPath, "00000001")
    val sk = report(sPath, target = 4L, maxCell = 4)
    assert(rec(sk) == "rebuild_skew_larger_nlist",
      s"reducible hot cell must fire the skew rebuild: $sk")
    assert(sk.getAs[Double]("irreducible_frac") == 0.0)
    assert(sk.getAs[Long]("skew_nlist") == 16L) // ceil(11/1) clamped to min 16

    // rebuild_skew_imi: same skew, but the finer skew_nlist crosses the
    // imiAbove threshold on a FLAT index — the rebuild will land IMI
    val si = report(sPath, target = 4L, maxCell = 4, imiAbove = 8)
    assert(rec(si) == "rebuild_skew_imi",
      s"skew_nlist 16 > imiAbove 8 must name the IMI crossing: $si")

    // flag_irreducible_duplicates: the hot cell is ONE repeated vector
    // under distinct ids — no geometry can split it, dedup upstream
    val iPath = tmp()
    AnnIndex.init(spark, iPath, Similarity.IvfIndex(
      Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0), Array(10.0, 10.0))))
    AnnIndex.append(
      ((1L to 8L).map(i => (i, Seq(0.0f, 0.0f))) ++ // one vector, 8 ids
        Seq((9L, Seq(10.0f, 0.0f)), (10L, Seq(0.0f, 10.0f)), (11L, Seq(10.0f, 10.0f))))
        .toDF("id", "vec"), "id", "vec", iPath, "00000001")
    val ir = report(iPath, target = 4L, maxCell = 4)
    assert(rec(ir) == "flag_irreducible_duplicates",
      s"a one-vector hot cell must flag duplicates, not rebuild: $ir")
    assert(ir.getAs[Double]("irreducible_frac") == 1.0)

    // empty index: healthy, zeros
    val ePath = tmp()
    AnnIndex.init(spark, ePath, Similarity.IvfIndex(Array(Array(0.0, 0.0))))
    val e = report(ePath)
    assert(rec(e) == "healthy" && e.getAs[Long]("corpus_rows") == 0L)

    // compact's promote-then-delete window: doubled postings move nothing
    AnnIndex.append((1L to 8L).map(i => (i, Seq(0.0f, 0.0f))).toDF("id", "vec"),
      "id", "vec", iPath, "00000002")
    val ir2 = report(iPath, target = 4L, maxCell = 4)
    assert(ir2 == ir, "doubled postings must be invisible (distinct ids per cell)")
    Caches.release()
  }

  test("staleGuard: probing outgrown geometry warns loudly once per probe; healthy stays silent") {
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val oldWarn = AnnIndex.staleGuard.onWarn
    val oldTarget = AnnIndex.staleGuard.targetCellRows
    val oldSlack = AnnIndex.staleGuard.slack
    val oldInterval = AnnIndex.staleGuard.checkIntervalNanos
    try {
      AnnIndex.staleGuard.onWarn = msg => warnings.synchronized { warnings += msg }
      AnnIndex.staleGuard.targetCellRows = 2L
      AnnIndex.staleGuard.slack = 2.0
      AnnIndex.staleGuard.checkIntervalNanos = 0L // force every probe
      // outgrown: a 1-cell quantizer holding 10 postings — every probe
      // reads mean 10 rows per probed cell, over 2.0 x 2 target
      val path = tmp()
      AnnIndex.init(spark, path, Similarity.IvfIndex(Array(Array(0.0, 0.0))))
      AnnIndex.append(
        (1L to 10L).map(i => (i, Seq(i.toFloat, 1.0f))).toDF("id", "vec"),
        "id", "vec", path, "00000001")
      val probe = Seq((100L, Seq(1.0f, 1.0f))).toDF("id", "vec")
      AnnIndex.crossNeighbors(probe, "id", "vec", path, threshold = 0.999, nprobe = 1)
        .count()
      assert(warnings.size == 1,
        s"outgrown probe must warn exactly once, got $warnings")
      assert(warnings.head.contains(path) &&
        warnings.head.contains("maintenanceReport"),
        s"the warning must name the index and the remedy: ${warnings.head}")
      // healthy: same index under a realistic target — silent
      warnings.clear()
      AnnIndex.staleGuard.targetCellRows = 4096L
      AnnIndex.crossNeighbors(probe, "id", "vec", path, threshold = 0.999, nprobe = 1)
        .count()
      assert(warnings.isEmpty, s"healthy probe must stay silent, got $warnings")
    } finally {
      AnnIndex.staleGuard.onWarn = oldWarn
      AnnIndex.staleGuard.targetCellRows = oldTarget
      AnnIndex.staleGuard.slack = oldSlack
      AnnIndex.staleGuard.checkIntervalNanos = oldInterval
    }
    Caches.release()
  }

  test("occupancyReport on an empty index: zeros, right schema") {
    val path = tmp()
    AnnIndex.init(spark, path, Similarity.IvfIndex(Array(Array(0.0, 0.0))))
    val r = AnnIndex.occupancyReport(spark, path).collect()(0)
    assert(r.getAs[Long]("cells") == 0L && r.getAs[Long]("postings") == 0L &&
      r.getAs[Long]("hot_cells") == 0L && r.getAs[Double]("hot_postings_frac") == 0.0)
    assert(r.schema.fieldNames.toSeq == Seq("cells", "postings", "mean_occupancy",
      "max_occupancy", "hot_cells", "hot_postings", "hot_postings_frac"))
  }

  test("autoNlist: ceil division, both clamps, input guards") {
    // natural ceil-division region
    assert(AnnIndex.autoNlist(4096L * 100, 4096L) == 100)
    assert(AnnIndex.autoNlist(4096L * 100 + 1, 4096L) == 101)
    // clamps: an empty/small corpus floors at minNlist, a huge one caps
    assert(AnnIndex.autoNlist(0L) == 16)
    assert(AnnIndex.autoNlist(100L, 4096L, minNlist = 16) == 16)
    assert(AnnIndex.autoNlist(1L << 40, 4096L) == (1 << 16))
    // the measured 100x case: the sf1-replica corpus (~200k vectors had
    // it been embeddings-shaped) at ~1.25k-row cells sizes to ~160 cells
    assert(AnnIndex.autoNlist(200000L, 1250L) == 160)
    intercept[IllegalArgumentException](AnnIndex.autoNlist(10L, 0L))
    intercept[IllegalArgumentException](
      AnnIndex.autoNlist(10L, 16L, minNlist = 8, maxNlist = 4))
  }

  test("buildAuto sizes the quantizer to the corpus and serves exact answers at nprobe = nlist") {
    val path = tmp()
    // 64 one-hot (mutually orthogonal — cosine 0 between any two, so a
    // scaled copy matches ONLY its source) vectors at 8-row target cells
    // -> 8 centroids, the natural region (not the min clamp); a known
    // count skips the scan
    val wide = (0 until 64).map { i =>
      val v = Array.fill(64)(0.0f); v(i) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    val nlist = AnnIndex.buildAuto(
      wide, "id", "vec", path, targetCellRows = 8L,
      minNlist = 2, corpusRows = Some(64L))
    assert(nlist == 8, s"64 rows / 8-row cells must size to 8, got $nlist")
    assert(Similarity.IvfIndex.load(spark, s"$path/centroids").nlist == 8)
    // at nprobe = nlist the index is exact: scaled copies pair with
    // exactly their source, nothing else reaches cosine 0.99
    val probe = wide.where(col("id") % 8 === 0)
      .select((col("id") + 100L).as("id"),
        transform(col("vec"), x => (x * lit(1.001f)).cast("float")).as("vec"))
    val pairs = AnnIndex.crossNeighbors(
      probe, "id", "vec", path, threshold = 0.99, nprobe = nlist)
      .select(col("corpus_id"), col("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 64 by 8).map(i => (i.toLong, i + 100L)).toSet,
      s"pairs = $pairs")
    Caches.release()
  }

  test("buildAuto's full-train branch (k-means|| seeding) stays exact at nprobe = nlist") {
    val path = tmp()
    val wide = (0 until 64).map { i =>
      val v = Array.fill(64)(0.0f); v(i) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    // fullTrainAbove = 1 forces the distributed-Lloyd + k-means|| branch
    val nlist = AnnIndex.buildAuto(
      wide, "id", "vec", path, targetCellRows = 8L,
      minNlist = 2, fullTrainAbove = 1)
    assert(nlist == 8)
    val probe = wide.where(col("id") % 8 === 0)
      .select((col("id") + 100L).as("id"),
        transform(col("vec"), x => (x * lit(1.001f)).cast("float")).as("vec"))
    val pairs = AnnIndex.crossNeighbors(
      probe, "id", "vec", path, threshold = 0.99, nprobe = nlist)
      .select(col("corpus_id"), col("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 64 by 8).map(i => (i.toLong, i + 100L)).toSet, s"pairs = $pairs")
    Caches.release()
  }

  test("flat Lloyd wall: oversized nlist x dim refuses loudly, naming the IMI remedy") {
    // VERDICT r18 item 4: a 12,500-centroid full-corpus Lloyd at dim 768
    // (73 MiB task binaries) was silently attempted and killed after
    // 8 min. Past maxFlatPayload entries the flat quantizer is the wrong
    // tool — the refusal must fire BEFORE any training job and name the
    // IMI crossover.
    val wide = (0L to 3L).map(i => (i, Seq.fill(1000)(i.toFloat))).toDF("id", "vec")
    val refused = intercept[IllegalArgumentException] {
      graft.operators.Similarity.trainIvfFull(wide, "id", "vec", nlist = 8192)
    }
    assert(refused.getMessage.contains("imiAbove") &&
      refused.getMessage.contains("8192"),
      s"the refusal must name the remedy and the geometry: ${refused.getMessage}")
    // the auto builders inherit the guard on their full-train branch: a
    // 5,000-cell flat sizing at dim 1000 = 5M doubles > the 2^22 cap
    val autoRefused = intercept[IllegalArgumentException] {
      AnnIndex.buildAuto(wide, "id", "vec", tmp(), targetCellRows = 1L,
        corpusRows = Some(5000L))
    }
    assert(autoRefused.getMessage.contains("imiAbove"),
      s"buildAuto must surface the same refusal: ${autoRefused.getMessage}")
    // under the cap the same call trains (the guard is a wall, not a tax)
    val okPath = tmp()
    val nlist = AnnIndex.buildAuto(wide, "id", "vec", okPath,
      targetCellRows = 2L, minNlist = 2)
    assert(nlist >= 2, s"in-bounds geometry must still train, got nlist $nlist")
    Caches.release()
  }

  test("resizeReport flags outgrown geometry; rebuildAuto restores it with identical answers") {
    val oldPath = tmp(); val newPath = tmp() + "/new"
    // 64 one-hot vectors (pairwise cosine 0 — only the planted copies can
    // pair) landed under a 2-cell quantizer = 32-row mean cells
    val wide = (0 until 64).map { i =>
      val v = Array.fill(64)(0.0f); v(i) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    AnnIndex.build(wide, "id", "vec", oldPath, nlist = 2, sampleRows = 64)
    val flagged = AnnIndex.resizeReport(
      spark, oldPath, targetCellRows = 8L, slack = 2.0, minNlist = 2).head()
    assert(flagged.getAs[Long]("corpus_rows") == 64L)
    assert(flagged.getAs[Int]("nlist") == 2)
    assert(flagged.getAs[Int]("sized_nlist") == 8)
    assert(flagged.getAs[Boolean]("resize_recommended"),
      s"32-row mean cells over an 8-row target must recommend resize: $flagged")
    val nlist = AnnIndex.rebuildAuto(
      spark, oldPath, newPath, targetCellRows = 8L, minNlist = 2)
    assert(nlist == 8)
    // right-sized geometry no longer recommends
    assert(!AnnIndex.resizeReport(
      spark, newPath, targetCellRows = 8L, slack = 2.0, minNlist = 2)
      .head().getAs[Boolean]("resize_recommended"))
    // same exact answers at nprobe = nlist from old and new geometry
    val probe = wide.where(col("id") % 8 === 0)
      .select((col("id") + 100L).as("id"),
        transform(col("vec"), x => (x * lit(1.001f)).cast("float")).as("vec"))
    def pairs(path: String, np: Int) =
      AnnIndex.crossNeighbors(probe, "id", "vec", path, threshold = 0.99, nprobe = np)
        .select(col("corpus_id"), col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(newPath, nlist) == pairs(oldPath, 2))
    assert(pairs(newPath, nlist) == (0 until 64 by 8).map(i => (i.toLong, i + 100L)).toSet)
    // guards: refuse an empty source and a non-fresh target
    intercept[IllegalArgumentException](
      AnnIndex.rebuildAuto(spark, tmp(), tmp() + "/x"))
    intercept[IllegalArgumentException](
      AnnIndex.rebuildAuto(spark, oldPath, newPath))
    Caches.release()
  }

  test("rebuildAuto carries a PQ index's codebook; the PQ probe survives the rebuild") {
    val oldPath = tmp(); val newPath = tmp() + "/new"
    AnnIndex.buildPq(corpus, "id", "vec", oldPath, nlist = 2, m = 2, ksub = 4, sampleRows = 8)
    val nlist = AnnIndex.rebuildAuto(
      spark, oldPath, newPath, targetCellRows = 2L, minNlist = 2)
    assert(nlist == 2)
    assert(AnnIndex.hasPq(spark, newPath), "rebuild must carry the codebook")
    val pq = AnnIndex.crossNeighborsPq(
      batch, "id", "vec", newPath, threshold = 0.95, nprobe = nlist, margin = 0.3)
      .select(col("corpus_id"), col("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == Set((1L, 11L), (3L, 13L)), s"pq = $pq")
    Caches.release()
  }

  test("nprobeFor reads the saved geometry: fraction x nlist, floored at 1, guarded") {
    val path = tmp()
    buildSmall(path) // nlist = 2
    assert(AnnIndex.nprobeFor(spark, path, 1.0) == 2)
    assert(AnnIndex.nprobeFor(spark, path, 0.5) == 1)
    assert(AnnIndex.nprobeFor(spark, path, 0.01) == 1)
    intercept[IllegalArgumentException](AnnIndex.nprobeFor(spark, path, 0.0))
    intercept[IllegalArgumentException](AnnIndex.nprobeFor(spark, path, 1.5))
    Caches.release()
  }

  test("buildPqAuto returns the sized nlist and the PQ probe matches the flat probe") {
    val flatPath = tmp(); val pqPath = tmp()
    val nlist = AnnIndex.buildPqAuto(
      corpus, "id", "vec", pqPath, targetCellRows = 2L,
      m = 2, ksub = 4, minNlist = 2)
    assert(nlist == 2, s"4 rows / 2-row cells = 2 cells, got $nlist")
    AnnIndex.build(corpus, "id", "vec", flatPath, nlist = 2, sampleRows = 8)
    val pq = AnnIndex.crossNeighborsPq(
      batch, "id", "vec", pqPath, threshold = 0.95, nprobe = nlist, margin = 0.3)
      .select(col("corpus_id"), col("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = AnnIndex.crossNeighbors(
      batch, "id", "vec", flatPath, threshold = 0.95, nprobe = 2)
      .select(col("corpus_id"), col("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == flat, s"pq=$pq flat=$flat")
    Caches.release()
  }

  test("Probe.Fraction holds the result set across a rebuildAuto geometry change") {
    val oldPath = tmp(); val newPath = tmp() + "/new"
    // 64 one-hot vectors under a deliberately undersized 2-cell quantizer
    val wide = (0 until 64).map { i =>
      val v = Array.fill(64)(0.0f); v(i) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    AnnIndex.build(wide, "id", "vec", oldPath, nlist = 2, sampleRows = 64)
    val probe = wide.where(col("id") % 8 === 0)
      .select((col("id") + 100L).as("id"),
        transform(col("vec"), x => (x * lit(1.001f)).cast("float")).as("vec"))
    val want = (0 until 64 by 8).map(i => (i.toLong, i + 100L)).toSet
    def pairsWith(path: String, p: AnnIndex.Probe, threshold: Double = 0.99) =
      AnnIndex.crossNeighbors(probe, "id", "vec", path, threshold, p, Int.MaxValue)
        .select(col("corpus_id"), col("batch_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val frac = AnnIndex.Probe.Fraction(1.0)
    assert(pairsWith(oldPath, frac) == want)
    val nlist = AnnIndex.rebuildAuto(
      spark, oldPath, newPath, targetCellRows = 8L, minNlist = 2)
    assert(nlist == 8)
    // the fraction-holding caller re-resolves against the NEW geometry
    // and keeps the exact result set without touching its own config ...
    assert(pairsWith(newPath, frac) == want,
      "Fraction(1.0) must stay exact across the rebuild")
    // ... while the stale-fixed-nprobe caller it replaces now covers only
    // 2 of 8 cells (the r15 hazard). Observable at threshold -1 (every
    // candidate in a probed cell verifies): full-fraction probes see the
    // whole corpus per probe vector, the stale width sees only its 2
    // probed cells' members — strictly fewer candidates.
    val fullCover = pairsWith(newPath, frac, threshold = -1.0)
    val staleCover = pairsWith(newPath, AnnIndex.Probe.Cells(2), threshold = -1.0)
    assert(fullCover.size == 64 * 8, s"full fraction covers the corpus, got ${fullCover.size}")
    assert(staleCover.subsetOf(fullCover) && staleCover.size < fullCover.size,
      s"a stale nprobe=2 against nlist=8 must cover fewer candidates " +
        s"(${staleCover.size} vs ${fullCover.size})")
    // resolution arithmetic is the nprobeFor contract
    assert(AnnIndex.Probe.resolve(AnnIndex.Probe.Fraction(0.5), 8) == 4)
    assert(AnnIndex.Probe.resolve(AnnIndex.Probe.Cells(99), 8) == 8)
    intercept[IllegalArgumentException](AnnIndex.Probe.Fraction(0.0))
    intercept[IllegalArgumentException](AnnIndex.Probe.Cells(0))
    Caches.release()
  }
}
