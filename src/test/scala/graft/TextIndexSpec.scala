package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ranking, TextIndex}

/** Persisted inverted-index lifecycle (atomic append, idempotent retry,
  * compaction, vacuum) and BM25 search parity with the from-scratch
  * exact-rational scorer.
  */
class TextIndexSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_text_index_spec").toString

  private val docs = Seq(
    (1L, "spark shuffles data between stages and spark broadcasts small tables"),
    (2L, "a merge statement upserts rows while a window function ranks them"),
    (3L, "window frames slide over ordered partitions in spark"),
    (4L, "completely unrelated prose about rivers and mountains"),
    (5L, "merge merge merge conflict resolution in distributed logs"),
    (6L, ""))
    .toDF("doc_id", "text")

  private val query = Seq("spark", "merge", "window")

  private def search(path: String, k: Int = 10) =
    TextIndex.searchTopK(spark, path, query, k)
      .as[(Long, Double)].collect().toSeq

  private def direct(k: Int = 10) =
    Ranking.bm25ExactRational(docs, "doc_id", "text", query)
      .limit(k).as[(Long, Double)].collect().toSeq

  // the from-scratch scorer over the corpus a COMPACTED index physically
  // holds: doc 6's only version is empty text — postings-free, served as
  // deleted — and compact completes that deletion (postings, manifest AND
  // stats, the r18 ADVICE recompute), so post-compact N excludes it
  // exactly like a fresh build of the surviving docs would
  private def directLive(k: Int = 10) =
    Ranking.bm25ExactRational(
      docs.where(length(trim(col("text"))) > 0), "doc_id", "text", query)
      .limit(k).as[(Long, Double)].collect().toSeq

  test("single-batch index search equals the from-scratch exact scorer, bit for bit") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    assert(search(path) === direct())
  }

  test("multi-batch index aggregates N, sum_dl and df across batches") {
    val path = tmp()
    TextIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
    TextIndex.append(docs.where(col("doc_id") % 2 === 1), "doc_id", "text", path, "00000002")
    assert(TextIndex.batches(spark, path) === Seq("00000001", "00000002"))
    assert(search(path) === direct())
    val (n, d) = TextIndex.corpusStats(spark, path)
    assert(n === 6L)
    assert(d > 0L)
  }

  test("compact folds batches into one and search is unchanged") {
    val path = tmp()
    TextIndex.build(docs.where(col("doc_id") <= 2), "doc_id", "text", path)
    TextIndex.append(docs.where(col("doc_id") > 2 && col("doc_id") <= 4), "doc_id", "text", path, "00000002")
    TextIndex.append(docs.where(col("doc_id") > 4), "doc_id", "text", path, "00000003")
    val before = search(path)
    assert(before === direct())
    val label = TextIndex.compact(spark, path)
    assert(TextIndex.batches(spark, path) === Seq(label))
    // compact completes doc 6's deletion (its only version holds no
    // postings): N drops with the physical purge — the post-compact
    // index equals a FRESH BUILD of the surviving content, which is the
    // stats contract that keeps N/avgdl from drifting (r18 ADVICE).
    // Every surviving doc keeps its rank; only the N-dependent score
    // scale shifts, exactly as the from-scratch scorer says it should.
    assert(search(path) === directLive())
    assert(search(path).map(_._1) === before.map(_._1),
      "compaction must not reorder surviving docs")
  }

  test("compact promote-then-delete window: stats never double, search stays exact") {
    val path = tmp()
    TextIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
    TextIndex.append(docs.where(col("doc_id") % 2 === 1), "doc_id", "text", path, "00000002")
    val (n0, d0) = TextIndex.corpusStats(spark, path)
    val want = direct()
    // simulate a compact that promoted its merge but crashed before
    // deleting the sources: a third committed batch holding the SAME
    // corpus again, with `folds` naming the sources
    val dup = spark.read.parquet(
      s"$path/postings/batch=00000001", s"$path/postings/batch=00000002")
      .select("term", "doc_id", "tf", "dl")
    graft.sources.BatchTable(spark, s"$path/stats").commit("00000003",
      Seq((n0, d0, Seq("00000001", "00000002"))).toDF("n_docs", "sum_dl", "folds").coalesce(1))
    graft.sources.BatchTable(spark, s"$path/postings").commit("00000003", dup)
    assert(TextIndex.batches(spark, path).size === 3)
    assert(TextIndex.corpusStats(spark, path) === ((n0, d0)),
      "folded sources must not double corpus totals")
    assert(search(path) === want, "search must be exact in the overlap window")
    // the NEXT compact folds the crashed state cleanly — and RECOMPUTES
    // stats from the canonical frame (r18 ADVICE): doc 6's postings-free
    // version is purged, so N drops by one (its dl was 0, Σdl holds) —
    // the merged index now equals a fresh build of the surviving docs
    val label = TextIndex.compact(spark, path)
    assert(TextIndex.batches(spark, path) === Seq(label))
    assert(TextIndex.corpusStats(spark, path) === ((n0 - 1, d0)))
    assert(search(path) === directLive())
  }

  test("compact retries through its own stats-then-postings crash window") {
    val path = tmp()
    TextIndex.build(docs.where(col("doc_id") <= 3), "doc_id", "text", path)
    TextIndex.append(docs.where(col("doc_id") > 3), "doc_id", "text", path, "00000002")
    // simulate a compact that wrote merged STATS under the next label and
    // crashed before the postings rename: label 00000003 is uncommitted
    graft.sources.BatchTable(spark, s"$path/stats").commit("00000003",
      Seq((99L, 9999L, Seq("00000001", "00000002")))
        .toDF("n_docs", "sum_dl", "folds").coalesce(1))
    // the retry must not collide with the stale stats partition
    val label = TextIndex.compact(spark, path)
    assert(label === "00000003")
    assert(TextIndex.batches(spark, path) === Seq(label))
    assert(search(path) === directLive(),
      "retried compact must serve exact results (doc 6's deletion completed)")
  }

  test("appending an existing batch label fails; the index is unchanged") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    val before = search(path)
    intercept[java.io.IOException] {
      TextIndex.append(docs, "doc_id", "text", path, "00000001")
    }
    assert(search(path) === before)
  }

  test("appendIdempotent: committed batch is a no-op, half-appended batch is redone") {
    val path = tmp()
    TextIndex.build(docs.where(col("doc_id") <= 3), "doc_id", "text", path)
    val rest = docs.where(col("doc_id") > 3)
    // committed → no-op (a second call must not throw or duplicate)
    TextIndex.appendIdempotent(docs.where(col("doc_id") <= 3), "doc_id", "text", path, "00000001")
    // simulate a crash between the two renames: stats landed, postings did not
    graft.sources.BatchTable(spark, s"$path/stats").commit("00000002",
      Seq((99L, 999L, Seq.empty[String])).toDF("n_docs", "sum_dl", "folds").coalesce(1))
    assert(TextIndex.batches(spark, path) === Seq("00000001"),
      "postings are the commit marker; stats alone must not count")
    TextIndex.appendIdempotent(rest, "doc_id", "text", path, "00000002")
    assert(TextIndex.batches(spark, path) === Seq("00000001", "00000002"))
    assert(search(path) === direct(), "redone append must not inherit the stale stats")
  }

  test("uncommitted stats never inflate corpus totals; vacuum removes them") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    val (n0, d0) = TextIndex.corpusStats(spark, path)
    graft.sources.BatchTable(spark, s"$path/stats").commit("00000099",
      Seq((1000L, 100000L, Seq.empty[String])).toDF("n_docs", "sum_dl", "folds").coalesce(1))
    assert(TextIndex.corpusStats(spark, path) === ((n0, d0)))
    TextIndex.vacuum(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$path/stats/batch=00000099")))
    assert(search(path) === direct())
  }

  test("requireAll keeps only docs containing every query term, scores unchanged") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    val any = search(path).toMap
    val all = TextIndex.searchTopK(spark, path, query, 10, requireAll = true)
      .as[(Long, Double)].collect().toSeq
    // only doc 1 has none of… check membership directly: a doc qualifies
    // iff its text contains all three terms
    val texts = docs.as[(Long, String)].collect().toMap
    val expectIds = texts.filter { case (_, t) =>
      val toks = t.toLowerCase.split("\\s+").toSet
      query.forall(toks.contains)
    }.keySet
    assert(all.map(_._1).toSet === expectIds)
    all.foreach { case (id, s) => assert(s === any(id), s"doc $id score must not change") }
  }

  test("empty index and empty query-term match behave") {
    val path = tmp()
    TextIndex.init(spark, path)
    assert(TextIndex.searchTopK(spark, path, query, 5).count() === 0L)
    TextIndex.append(docs, "doc_id", "text", path, "00000001")
    assert(TextIndex.searchTopK(spark, path, Seq("zzzzunseen"), 5).count() === 0L)
  }

  test("invalid batch labels and a missing index fail loudly") {
    val path = tmp()
    TextIndex.init(spark, path)
    intercept[IllegalArgumentException] {
      TextIndex.append(docs, "doc_id", "text", path, "a/b")
    }
    intercept[Exception] {
      TextIndex.append(docs, "doc_id", "text", tmp() + "/nope", "00000001")
    }
  }

  test("plan: the query's IN-filter is pushed into the postings scan") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    val plan = TextIndex.searchTopK(spark, path, query, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"expected the term IN-filter pushed to parquet, got:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-k must ride TakeOrderedAndProject, not a full sort")
  }

  test("measured probe IO: postings rows surviving the term filter = candidates, not the index") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    // ground truth from the corpus itself: one posting per (term, doc)
    // pair; candidates = pairs whose term is in the query
    val pairs = docs.select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .where(length(col("term")) > 0).distinct()
    val totalPostings = pairs.count()
    val candidates = pairs.where(col("term").isin(query: _*)).count()
    assert(candidates < totalPostings, "fixture must make the bound non-trivial")

    val probe = TextIndex.searchTopK(spark, path, query, 10)
    probe.collect()
    // the innermost filter over the postings scan is the term IN-filter;
    // its EXECUTED output is what every downstream stage touches. The
    // scan node itself reports row-group granularity (the whole fixture
    // file), which is exactly why the claim must be measured here, above
    // it — "candidate-sized after the scan" as a counter, not a shape.
    val filters = PlanMetrics.innermostFiltersOver(probe, "postings")
    assert(filters.nonEmpty, "expected a filter over the postings scan")
    filters.foreach { f =>
      val n = PlanMetrics.rows(f)
      assert(n == candidates,
        s"postings rows entering the probe: $n, expected candidate count $candidates " +
          s"(index holds $totalPostings)")
    }
  }

  // ---- positional phrase search ----

  private def phrase(path: String, words: String*) =
    TextIndex.phraseTopK(spark, path, words, 10)
      .as[(Long, Long)].collect().toMap

  test("phraseTopK: adjacency, not mere co-occurrence") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    // "window function" is consecutive only in doc 2; doc 3 has "window
    // frames" (both words of SOME query elsewhere, adjacency must decide)
    assert(phrase(path, "window", "function") === Map(2L -> 1L))
    // "spark" alone: a 1-token phrase degenerates to tf
    assert(phrase(path, "spark") === Map(1L -> 2L, 3L -> 1L))
    // co-occurring but never adjacent
    assert(phrase(path, "spark", "merge") === Map.empty[Long, Long])
    // absent term
    assert(phrase(path, "glacier", "spark") === Map.empty[Long, Long])
  }

  test("phraseTopK: repeated-term phrases count overlapping occurrences") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    // doc 5 = "merge merge merge ..." → "merge merge" occurs at offsets
    // 0 and 1 (overlap), "merge merge merge" once
    assert(phrase(path, "merge", "merge") === Map(5L -> 2L))
    assert(phrase(path, "merge", "merge", "merge") === Map(5L -> 1L))
    assert(phrase(path, "merge", "merge", "merge", "merge") === Map.empty[Long, Long])
  }

  test("phraseTopK spans batches and survives compaction unchanged") {
    val path = tmp()
    TextIndex.build(docs.where(col("doc_id") <= 3), "doc_id", "text", path)
    TextIndex.append(docs.where(col("doc_id") > 3), "doc_id", "text", path, "00000002")
    val before = phrase(path, "merge", "merge")
    assert(before === Map(5L -> 2L), "evidence in the second batch must be searchable")
    TextIndex.compact(spark, path)
    assert(phrase(path, "merge", "merge") === before, "compaction must be invisible")
    assert(phrase(path, "window", "function") === Map(2L -> 1L))
  }

  test("phraseTopK: a doc_id re-appended with DIFFERENT text degrades, never crashes") {
    // Two batches carry the same doc_id with conflicting text. distinct()
    // can't collapse differing positions arrays, and map_from_entries
    // would throw DUPLICATED_MAP_KEY (the ADVICE r9 finding) — the
    // query must instead keep one deterministic posting per (term,
    // doc_id) and answer, like searchTopK degrades on the same input.
    val path = tmp()
    TextIndex.build(Seq((9L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    TextIndex.append(Seq((9L, "beta alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000002")
    val out = phrase(path, "alpha", "beta") // must not throw
    assert(out.keySet.subsetOf(Set(9L)))
    // single-term phrase on a term present in both versions also answers
    assert(phrase(path, "beta").keySet == Set(9L))
  }

  test("phraseTopK on an empty index matches nothing; BM25 search ignores positions") {
    val path = tmp()
    TextIndex.init(spark, path)
    assert(phrase(path, "spark") === Map.empty[Long, Long])
    // BM25's scan must not read the positions column (column pruning)
    TextIndex.build(docs, "doc_id", "text", path)
    val plan = TextIndex.searchTopK(spark, path, query, 10)
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
      .filter(_.contains("term"))
    assert(schemas.nonEmpty && schemas.forall(!_.contains("positions")),
      s"BM25 search must leave positions bytes on disk:\n${schemas.mkString("\n")}")
  }

  test("dfReport: df/token arithmetic across batches, order, minDf, and the doubled-postings window") {
    val path = tmp()
    // two batches, df must aggregate across them
    TextIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
    TextIndex.append(docs.where(col("doc_id") % 2 === 1), "doc_id", "text", path, "00000002")
    // hand-computed over the fixture corpus: df=2 terms are exactly
    // {and, in, merge, spark, window}; ties order by term ascending
    val top3 = TextIndex.dfReport(spark, path, k = 3).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[Long]("tokens")))
    assert(top3.toSeq == Seq(("and", 2L, 2L), ("in", 2L, 2L), ("merge", 2L, 4L)),
      s"top-3 by (df desc, term asc) was ${top3.toSeq}")
    val multi = TextIndex.dfReport(spark, path, k = 100, minDf = 1L).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[Long]("tokens"))).toSet
    assert(multi == Set(
      ("and", 2L, 2L), ("in", 2L, 2L),
      ("merge", 2L, 4L), ("spark", 2L, 3L), ("window", 2L, 2L)),
      s"df>1 terms were $multi")
    // compact's promote-then-delete window: identical duplicated postings
    // must not inflate df or token counts (the distinct() contract)
    val postings = spark.read.parquet(s"$path/postings/batch=00000001")
    graft.sources.BatchTable(spark, s"$path/postings").commit("00000009", postings)
    val again = TextIndex.dfReport(spark, path, k = 3).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[Long]("tokens")))
    assert(again.toSeq == top3.toSeq, "doubled postings moved the report")
    // a doc_id re-appended with DIFFERENT text (conflicting versions in
    // two batches) must degrade to the doc's LATEST version — the whole
    // document, not a per-term pick (r16 review): doc 2 re-lands as
    // "merge merge" under a label sorting AFTER the synthetic 00000009
    // copy above, so merge reports tf 2 + doc 5's 3 = 5 tokens (df 2),
    // and doc 2's stale version stops counting for every OTHER term —
    // window's df falls to doc 3 alone
    TextIndex.append(Seq((2L, "merge merge")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000010")
    val after = TextIndex.dfReport(spark, path, k = 100, minDf = 0L).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[Long]("tokens")))
    assert(after.find(_._1 == "merge").get == ("merge", 2L, 5L),
      s"conflicting re-append must serve the latest version, got ${after.toSeq}")
    assert(after.find(_._1 == "window").get == ("window", 1L, 1L),
      "a term absent from the re-appended doc's latest version must stop " +
        s"counting that doc, got ${after.toSeq}")
    // empty index: empty result, right schema
    val empty = tmp()
    TextIndex.init(spark, empty)
    assert(TextIndex.dfReport(spark, empty).collect().isEmpty)
  }

  test("re-appended doc_id: all three faces serve ONE document — the latest version") {
    // r16 review: the old per-(term, doc_id) collapse picked versions
    // independently per term, so one BM25 sum could mix term A from
    // version 1 with term B (and B's dl) from version 2. The
    // latest-batch anchor must make searchTopK, dfReport and phraseTopK
    // agree on the SAME whole document, before and after compact.
    val path = tmp()
    TextIndex.build(Seq(
      (1L, "apple banana cherry"),
      (2L, "banana date")).toDF("doc_id", "text"), "doc_id", "text", path)
    // doc 1 re-appended: apple/cherry gone, banana doubled, fig new
    TextIndex.append(Seq((1L, "banana banana fig")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000002")

    def score(terms: Seq[String], tf: Seq[(String, Long, Long, Long)]): Seq[(Long, Double)] =
      Ranking.bm25RationalScores(
        tf.toDF("term", "doc_id", "tf", "dl"), terms,
        TextIndex.corpusStats(spark, path)._1, TextIndex.corpusStats(spark, path)._2,
        requireAll = false)
        .as[(Long, Double)].collect().toSeq
    def served(terms: String*): Seq[(Long, Double)] =
      TextIndex.searchTopK(spark, path, terms, 10).as[(Long, Double)].collect().toSeq

    def pinAllFaces(): Unit = {
      // searchTopK, term in both versions: doc 1 scores EXACTLY the
      // latest (tf=2, dl=3) — equality against the rational scorer fed
      // hand-built latest-version postings pins the (tf, dl) pair
      assert(served("banana") ==
        score(Seq("banana"), Seq(("banana", 1L, 2L, 3L), ("banana", 2L, 1L, 2L))),
        "banana must score doc 1 at the latest version (tf=2, dl=3)")
      // the r16 mixing hazard, pinned dead: a query holding BOTH a
      // stale-only term and a live one anchors doc 1 to version 2 — the
      // apple row is dropped, banana scores with version 2's dl, one
      // document. (The old collapse would have summed apple@v1 dl=3 with
      // banana@v2 dl=3.)
      assert(served("apple", "banana") ==
        score(Seq("apple", "banana"), Seq(("banana", 1L, 2L, 3L), ("banana", 2L, 1L, 2L))),
        "a mixed-version query must anchor doc 1 wholly to its latest matched version")
      // dfReport (all terms visible → true latest): apple/cherry gone,
      // banana Σtf = 2+1
      val report = TextIndex.dfReport(spark, path, k = 100).collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"), r.getAs[Long]("tokens")))
        .toSet
      assert(report == Set(
        ("banana", 2L, 3L), ("date", 1L, 1L), ("fig", 1L, 1L)),
        s"dfReport must see exactly the latest versions, got $report")
      // phraseTopK: the doubled banana is adjacent ONLY in the latest
      // version — one occurrence, from the same document searchTopK used
      assert(phrase(path, "banana", "banana") == Map(1L -> 1L))
      assert(phrase(path, "apple", "banana") == Map.empty[Long, Long])
    }
    pinAllFaces()
    // the r17 stale-only residual, CLOSED (VERDICT r17 item 3): the doc
    // manifest knows doc 1's latest version regardless of which batches
    // the query's terms matched, so a query whose every term is absent
    // from the latest version serves what post-compact state would —
    // nothing — already pre-compact
    assert(served("apple").isEmpty,
      "a stale-only query must serve nothing: the manifest anchors doc 1 to version 2")
    // pre-manifest FALLBACK (an index whose batches predate versions/):
    // drop the manifest and the frame-scoped anchor degrades to the
    // documented r16 behavior — the newest MATCHING version, served
    // whole (tf=1 from version 1, dl=3), never mixed
    val vfs = new org.apache.hadoop.fs.Path(s"$path/versions")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    vfs.delete(new org.apache.hadoop.fs.Path(s"$path/versions"), true)
    assert(served("apple") ==
      score(Seq("apple"), Seq(("apple", 1L, 1L, 3L))),
      "without a covering manifest, a stale-only query serves the newest matching version")
    pinAllFaces() // the unique-latest assertions hold under the fallback too
    // compact canonicalizes: the fold sees ALL terms, anchors doc 1 to
    // its true latest version and physically drops the stale one — the
    // residual case becomes exact and every face answers from the single
    // merged batch
    TextIndex.compact(spark, path)
    assert(TextIndex.batches(spark, path).size == 1)
    pinAllFaces()
    assert(TextIndex.searchTopK(spark, path, Seq("apple"), 10).collect().isEmpty,
      "post-compact, the stale version is gone — apple matches nothing")
    // and the merged postings physically hold ONE version of doc 1
    val doc1Terms = spark.read.parquet(s"$path/postings")
      .where(col("doc_id") === 1L)
      .select("term").as[String].collect().toSet
    assert(doc1Terms == Set("banana", "fig"),
      s"compact must canonicalize to the latest version, kept $doc1Terms")
    // the compact merge rebuilt the manifest (dropped above to pin the
    // fallback): the index serves through it again
    val vdirs = vfs.listStatus(new org.apache.hadoop.fs.Path(s"$path/versions"))
      .map(_.getPath.getName).toSet
    assert(vdirs == Set("batch=00000003"),
      s"compact must write the merge's doc manifest, got $vdirs")
  }

  test("backfillManifest upgrades a pre-manifest index: coverage, exact stale-only close") {
    // VERDICT r18 item 2: a legacy index (postings batches with no
    // versions/ twin) rode the frame-scoped fallback — stale-only
    // residual included — until a full compact rewrote everything.
    // Backfill derives each missing manifest from that batch's OWN
    // postings: one narrow pass per batch, no postings rewrite.
    val path = tmp()
    TextIndex.build(Seq(
      (1L, "apple banana cherry"),
      (2L, "banana date")).toDF("doc_id", "text"), "doc_id", "text", path)
    TextIndex.append(Seq((1L, "banana banana fig")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000002")
    // simulate the pre-manifest layout
    val vpath = new org.apache.hadoop.fs.Path(s"$path/versions")
    val vfs = vpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    vfs.delete(vpath, true)
    def served(terms: String*): Seq[(Long, Double)] =
      TextIndex.searchTopK(spark, path, terms, 10).as[(Long, Double)].collect().toSeq
    assert(served("apple").nonEmpty,
      "under the fallback the stale-only query serves the newest MATCHING version")
    val done = TextIndex.backfillManifest(spark, path)
    assert(done.toSet == Set("00000001", "00000002"),
      s"backfill must cover exactly the uncovered batches, got $done")
    // covered now: the stale-only case serves what post-compact would —
    // nothing (doc 1's true latest version holds no 'apple')
    assert(served("apple").isEmpty,
      "after backfill the manifest anchors doc 1 to its latest version exactly")
    assert(served("banana").map(_._1).contains(1L),
      "live terms still serve the anchored latest version")
    // idempotent: a re-run (crashed-backfill retry) backfills nothing
    assert(TextIndex.backfillManifest(spark, path).isEmpty)
    // a subsequent append records its manifest as usual and coverage holds
    TextIndex.append(Seq((3L, "grape")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000003")
    assert(TextIndex.searchTopK(spark, path, Seq("grape"), 10).count() === 1L)
    assert(TextIndex.backfillManifest(spark, path).isEmpty,
      "appends since the manifest landed carry their own versions/ twin")
  }

  test("version order is namespace-aware: value within, s-labels outrank numeric (pinned rule)") {
    // the r17 ADVICE finding: plain lexicographic label order broke
    // across the two label namespaces ('s' > '9') and within the numeric
    // one past 8 digits. versionKey pins the explicit rule.
    val path = tmp()
    // numeric namespace orders by VALUE: "100000000" is lexicographically
    // BELOW "99999999" but is the newer version
    TextIndex.build(Seq((1L, "alpha")).toDF("doc_id", "text"),
      "doc_id", "text", path, batch = "99999999")
    TextIndex.append(Seq((1L, "bravo")).toDF("doc_id", "text"),
      "doc_id", "text", path, "100000000")
    assert(TextIndex.searchTopK(spark, path, Seq("bravo"), 10).count() === 1L,
      "the 9-digit label must outrank the 8-digit one by value")
    assert(TextIndex.searchTopK(spark, path, Seq("alpha"), 10).collect().isEmpty,
      "the value-stale version must not serve")
    // cross-namespace: an s-label (live-ingest namespace) outranks EVERY
    // numeric (backfill) label BY DESIGN — a numeric re-append after a
    // streamed version does not supersede it (documented in versionKey)
    TextIndex.append(Seq((1L, "charlie")).toDF("doc_id", "text"),
      "doc_id", "text", path, "s00000000")
    TextIndex.append(Seq((1L, "delta")).toDF("doc_id", "text"),
      "doc_id", "text", path, "200000000")
    assert(TextIndex.searchTopK(spark, path, Seq("charlie"), 10).count() === 1L,
      "the s-label version must outrank the later numeric backfill")
    assert(TextIndex.searchTopK(spark, path, Seq("delta"), 10).collect().isEmpty)
    // compact keeps exactly the anchored version and re-bases it into
    // the numeric namespace; the index stays coherent afterwards
    TextIndex.compact(spark, path)
    val kept = spark.read.parquet(s"$path/postings")
      .select("term").as[String].collect().toSet
    assert(kept == Set("charlie"),
      s"compact must keep the namespace-rule winner, kept $kept")
  }

  test("19-digit labels overflow Long and fall to the free-form namespace in BOTH twins") {
    // the r18 ADVICE finding: `^[0-9]{1,19}$` admitted labels past
    // Long.MaxValue, where the column twin's cast('long') NULLed the key
    // (rows silently vanish from serving) while the driver twin threw
    // NumberFormatException. Both now treat 19+ digits as free-form —
    // ranked ABOVE the managed namespaces, consistently.
    val path = tmp()
    TextIndex.build(Seq((1L, "echo")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    TextIndex.append(Seq((1L, "foxtrot")).toDF("doc_id", "text"),
      "doc_id", "text", path, "s00000007")
    // 19 nines > Long.MaxValue (~9.22e18): free-form, outranks even the
    // s namespace — and neither twin NULLs nor throws on it. Free-form
    // labels are REFUSED by default (VERDICT r18 item 7: one stray label
    // permanently supersedes every managed append) — the opt-in names
    // the supersession
    val refused = intercept[IllegalArgumentException] {
      TextIndex.append(Seq((1L, "golf")).toDF("doc_id", "text"),
        "doc_id", "text", path, "9999999999999999999")
    }
    assert(refused.getMessage.contains("free-form"),
      s"the refusal must name the hazard: ${refused.getMessage}")
    TextIndex.append(Seq((1L, "golf")).toDF("doc_id", "text"),
      "doc_id", "text", path, "9999999999999999999", allowFreeFormLabel = true)
    assert(TextIndex.searchTopK(spark, path, Seq("golf"), 10).count() === 1L,
      "an overflowing label must serve (as free-form), not vanish via a NULLed key")
    assert(TextIndex.searchTopK(spark, path, Seq("foxtrot"), 10).collect().isEmpty,
      "free-form ranks above the s namespace by the pinned rule")
    // the driver-side twin agrees: committedKeys (versionKeyStr) filtered
    // the manifest without throwing, and serving stayed coherent through
    // compact, which re-bases into the numeric namespace
    TextIndex.compact(spark, path)
    val kept = spark.read.parquet(s"$path/postings")
      .select("term").as[String].collect().toSet
    assert(kept == Set("golf"), s"compact must keep the free-form winner, kept $kept")
  }

  test("empty-text re-append is a tombstone: served as deleted, compact drops the doc") {
    val path = tmp()
    TextIndex.build(Seq(
      (1L, "grape kiwi"), (2L, "kiwi lime")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    TextIndex.append(Seq((1L, "")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000002")
    // the manifest registers the postings-free newer version, so every
    // face serves doc 1 as deleted already pre-compact
    assert(TextIndex.searchTopK(spark, path, Seq("grape"), 10).collect().isEmpty,
      "a tombstoned doc must not serve its stale version")
    val kiwi = TextIndex.searchTopK(spark, path, Seq("kiwi"), 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(kiwi == Set(2L), s"only the live doc serves, got $kiwi")
    assert(TextIndex.dfReport(spark, path, k = 10).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"))).toSet ==
      Set(("kiwi", 1L), ("lime", 1L)))
    // compact completes the deletion physically: no postings, and the
    // doc leaves the manifest too
    TextIndex.compact(spark, path)
    assert(spark.read.parquet(s"$path/postings")
      .where(col("doc_id") === 1L).count() === 0L)
    assert(spark.read.parquet(s"$path/versions")
      .where(col("doc_id") === 1L).count() === 0L,
      "a tombstoned doc must leave the manifest at compact")
    // ... and the STATS too (r18 ADVICE): the merge's stats are
    // recomputed from the canonical frame, not summed from sources, so
    // the tombstoned doc stops inflating N and Σdl — post-compact stats
    // equal a fresh build of the surviving content, and BM25's N/avgdl
    // no longer drift from a rebuilt index
    val fresh = tmp()
    TextIndex.build(Seq((2L, "kiwi lime")).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    assert(TextIndex.corpusStats(spark, path) ===
      TextIndex.corpusStats(spark, fresh),
      "post-compact stats must equal a rebuild of the surviving content")
  }

  test("compact recomputes stats for a re-appended doc: one version counts, not two") {
    // the second stats-drift face the r18 ADVICE named: a doc re-appended
    // with NEW text counted in N (and Σdl) once per version under the old
    // source-sum merge; the canonical recompute keeps exactly the
    // anchored version's contribution
    val path = tmp()
    TextIndex.build(Seq(
      (1L, "one two three"), (2L, "four five")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    TextIndex.append(Seq((1L, "six seven eight nine")).toDF("doc_id", "text"),
      "doc_id", "text", path, "00000002")
    TextIndex.compact(spark, path)
    val fresh = tmp()
    TextIndex.build(Seq(
      (1L, "six seven eight nine"), (2L, "four five")).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    assert(TextIndex.corpusStats(spark, path) ===
      TextIndex.corpusStats(spark, fresh),
      "post-compact stats must count the re-appended doc's latest version once")
    // and the scores agree with the fresh index — N/avgdl drift is what
    // the recompute kills
    val a = TextIndex.searchTopK(spark, path, Seq("four", "six"), 10).collect().toSeq
    val b = TextIndex.searchTopK(spark, fresh, Seq("four", "six"), 10).collect().toSeq
    assert(a === b, s"compact vs rebuild BM25 scores diverged:\n$a\n$b")
  }

  test("manifest scan is candidate-pruned: pushed doc_id filter, candidate-bounded rows") {
    // VERDICT r18 item 1: un-pruned, every query paid a full
    // corpus-docs-sized versions/ pass. The candidate doc_id set now
    // pushes into the scan as a literal IN; append range-clusters the
    // manifest by doc_id, so files outside the candidates' range skip on
    // footer stats — the scan reads candidate-bounded rows, not the
    // corpus.
    val path = tmp()
    val corpus = spark.range(1, 401).select(col("id").as("doc_id"),
      concat(lit("t"), col("id"), lit(" common")).as("text"))
    // at spec scale AQE coalesces the range shuffle to ONE file and
    // there is nothing to skip; production manifests are many-file by
    // size. Build with coalescing off to get the 4-file clustered layout
    // the assertion needs.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try TextIndex.build(corpus, "doc_id", "text", path)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(new java.io.File(s"$path/versions/batch=00000001")
      .listFiles.count(_.getName.endsWith(".parquet")) >= 4,
      "spec premise: the manifest must span multiple range-clustered files")
    val q = TextIndex.searchTopK(spark, path, Seq("t5"), 10)
    q.queryExecution.toRdd.foreach(_ => ()) // execute THIS plan's metrics
    val vscan = graft.operators.Metrics.scanReport(q)
      .find(_.rootPaths.exists(_.contains("/versions")))
      .getOrElse(fail("search must read the doc manifest"))
    assert(vscan.pushedFilters.contains("doc_id"),
      s"candidate filter must reach the manifest scan: ${vscan.pushedFilters}")
    // 400 manifest rows across 4 range-clustered files: the one
    // candidate (doc 5) lives in one file — row-group skipping keeps the
    // read to that file's rows, far under the corpus
    assert(vscan.rowsOutput >= 1 && vscan.rowsOutput <= 200,
      s"manifest scan must be candidate-bounded, read ${vscan.rowsOutput} of 400 rows")
    // the pruned anchor answers exactly
    assert(q.as[(Long, Double)].collect().map(_._1).toSeq === Seq(5L))
    // over the candidate cap the anchor falls back to the join shape —
    // same answer (the common term matches every doc; cap 3 forces the
    // fallback on a 400-doc candidate set)
    val old = TextIndex.manifestProbeMaxCandidates
    try {
      TextIndex.manifestProbeMaxCandidates = 3
      assert(TextIndex.searchTopK(spark, path, Seq("t5"), 10)
        .as[(Long, Double)].collect().map(_._1).toSeq === Seq(5L))
      assert(TextIndex.searchTopK(spark, path, Seq("common"), 400).count() === 400L)
    } finally TextIndex.manifestProbeMaxCandidates = old
  }

  test("plan: the manifest anchor joins candidate-sized — no manifest-side shuffle") {
    val path = tmp()
    TextIndex.build(docs, "doc_id", "text", path)
    val plan = TextIndex.searchTopK(spark, path, query, 10)
      .queryExecution.executedPlan.toString
    // the versions scan must reach the join through a broadcast hash
    // join (AQE broadcasts the candidate aggregate at serving sizes) —
    // a sort-merge join here would shuffle the corpus-doc-sized manifest
    // on every query
    assert(plan.contains("versions"), s"search must read the doc manifest:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the manifest anchor must not sort-merge (corpus-doc shuffle):\n$plan")
  }

  test("maintenanceReport: healthy / compact-first / stopword branches, evidence exact") {
    val path = tmp()
    TextIndex.build(Seq(
      (1L, "hot x1"), (2L, "hot x2"), (3L, "hot x3"), (4L, "y4 z4"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    def report(maxBatches: Int, hotDfFrac: Double) =
      TextIndex.maintenanceReport(spark, path, maxBatches, hotDfFrac).collect()(0)
    // healthy: one batch, top term under the threshold
    val h = report(maxBatches = 2, hotDfFrac = 0.8)
    assert(h.getAs[String]("recommended") == "healthy", s"$h")
    assert(h.getAs[String]("top_term") == "hot" && h.getAs[Long]("top_df") == 3L)
    assert(h.getAs[Double]("top_df_frac") == 0.75)
    // stopword: same index, tighter df threshold
    assert(report(2, 0.5).getAs[String]("recommended") == "review_stopword_policy")
    // compact fires FIRST once batches accrete past the cap
    TextIndex.append(Seq((5L, "y5 z5")).toDF("doc_id", "text"), "doc_id", "text", path, "00000002")
    TextIndex.append(Seq((6L, "y6 z6")).toDF("doc_id", "text"), "doc_id", "text", path, "00000003")
    val c = report(maxBatches = 2, hotDfFrac = 0.2)
    assert(c.getAs[String]("recommended") == "compact_microbatches", s"$c")
    assert(c.getAs[Long]("batches") == 3L && c.getAs[Long]("n_docs") == 6L)
    // executing the verdict clears it; the next signal surfaces
    TextIndex.compact(spark, path)
    val after = report(maxBatches = 2, hotDfFrac = 0.2)
    assert(after.getAs[String]("recommended") == "review_stopword_policy", s"$after")
    assert(after.getAs[Long]("batches") == 1L)
    assert(after.getAs[Long]("top_df") == 3L && after.getAs[Double]("top_df_frac") == 0.5)
    assert(report(2, 0.8).getAs[String]("recommended") == "healthy")
    // empty index: healthy, zeros
    val ePath = tmp()
    TextIndex.init(spark, ePath)
    val e = TextIndex.maintenanceReport(spark, ePath).collect()(0)
    assert(e.getAs[String]("recommended") == "healthy" && e.getAs[Long]("n_docs") == 0L)
  }

  test("staleGuard: probing a fragmented index warns loudly; compact silences it") {
    // VERDICT r18 item 3, text face: the dominant maintenance verdict is
    // compact_microbatches and its signal is the committed batch count —
    // O(directory listing), no Spark job at all
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val oldWarn = TextIndex.staleGuard.onWarn
    val oldMax = TextIndex.staleGuard.maxBatches
    val oldInterval = TextIndex.staleGuard.checkIntervalNanos
    try {
      TextIndex.staleGuard.onWarn = msg => warnings.synchronized { warnings += msg }
      TextIndex.staleGuard.maxBatches = 2
      TextIndex.staleGuard.checkIntervalNanos = 0L // force every probe
      val path = tmp()
      TextIndex.build(docs.where(col("doc_id") <= 2), "doc_id", "text", path)
      TextIndex.append(docs.where(col("doc_id") > 2 && col("doc_id") <= 4),
        "doc_id", "text", path, "00000002")
      TextIndex.append(docs.where(col("doc_id") > 4), "doc_id", "text", path, "00000003")
      TextIndex.searchTopK(spark, path, Seq("spark"), 10).count()
      assert(warnings.size == 1,
        s"fragmented probe must warn exactly once, got $warnings")
      assert(warnings.head.contains(path) && warnings.head.contains("compact"),
        s"the warning must name the index and the remedy: ${warnings.head}")
      // phraseTopK rides the same guard
      warnings.clear()
      TextIndex.phraseTopK(spark, path, Seq("merge", "merge"), 10).count()
      assert(warnings.size == 1, s"phrase probe must warn too, got $warnings")
      // executing the named remedy silences it
      warnings.clear()
      TextIndex.compact(spark, path)
      TextIndex.searchTopK(spark, path, Seq("spark"), 10).count()
      assert(warnings.isEmpty, s"compacted probe must stay silent, got $warnings")
    } finally {
      TextIndex.staleGuard.onWarn = oldWarn
      TextIndex.staleGuard.maxBatches = oldMax
      TextIndex.staleGuard.checkIntervalNanos = oldInterval
    }
  }

  test("two writers, one label: the second append fails loudly and the index is unchanged") {
    // VERDICT r17 item 5: nextBatchLabel is read-max-then-increment, so
    // a bulk backfill beside another writer can allocate the same label.
    // The contract is single-writer-per-index for label ALLOCATION; a
    // collision must refuse LOUDLY at the promote and corrupt nothing.
    val path = tmp()
    TextIndex.build(Seq((1L, "first writer content")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val label = TextIndex.nextBatchLabel(spark, path)
    TextIndex.append(Seq((2L, "writer a lands")).toDF("doc_id", "text"),
      "doc_id", "text", path, label)
    val before = TextIndex.searchTopK(spark, path, Seq("writer"), 10)
      .as[(Long, Double)].collect().toSeq
    val e = intercept[java.io.IOException] {
      TextIndex.append(Seq((3L, "writer b collides")).toDF("doc_id", "text"),
        "doc_id", "text", path, label)
    }
    assert(e.getMessage.contains(label), s"the refusal must name the batch: ${e.getMessage}")
    assert(TextIndex.batches(spark, path).size === 2)
    assert(TextIndex.searchTopK(spark, path, Seq("writer"), 10)
      .as[(Long, Double)].collect().toSeq === before,
      "the losing writer must not change what the index serves")
    assert(TextIndex.searchTopK(spark, path, Seq("collides"), 10).collect().isEmpty)
  }

  test("replayStable: deterministic file/local plans qualify; rand/limit/sample/streams do not") {
    val dir = tmp()
    docs.write.parquet(s"$dir/src")
    val fileDocs = spark.read.parquet(s"$dir/src")
      .where(col("doc_id") > 0)
      .select(col("doc_id"), lower(col("text")).as("text"))
    assert(TextIndex.replayStable(fileDocs),
      "a filtered/projected parquet scan re-evaluates to the same rows")
    assert(TextIndex.replayStable(docs), "a local relation is replay-stable")
    assert(!TextIndex.replayStable(fileDocs.where(rand() < 2.0)),
      "a nondeterministic expression must take the defensive path (even one that keeps all rows)")
    assert(!TextIndex.replayStable(fileDocs.limit(3)),
      "a limit's row selection is evaluation-order-dependent")
    assert(!TextIndex.replayStable(fileDocs.sample(0.5)),
      "a sample draws per evaluation")
  }

  test("append's manifest fast path (stable input) matches the defensive staged-union manifest") {
    import org.apache.spark.sql.DataFrame
    def manifestOf(path: String): Seq[Long] =
      spark.read.parquet(s"$path/versions/batch=00000001")
        .as[Long].collect().toSeq.sorted
    def build(d: DataFrame): Seq[Long] = {
      val p = tmp()
      TextIndex.build(d, "doc_id", "text", p)
      manifestOf(p)
    }
    val dir = tmp()
    // includes doc 6 (empty text → postings-free tombstone): the manifest
    // must still carry it on BOTH paths
    docs.write.parquet(s"$dir/src")
    val stable = spark.read.parquet(s"$dir/src")
    assert(TextIndex.replayStable(stable))
    // force the defensive path with a value-identical but formally
    // nondeterministic filter (rand() < 2.0 keeps every row)
    val defensive = stable.where(rand() < 2.0)
    assert(!TextIndex.replayStable(defensive))
    val fast = build(stable)
    assert(fast === build(defensive),
      "fast-path manifest must equal the staged-union manifest on the same rows")
    assert(fast === docs.select("doc_id").as[Long].collect().toSeq.sorted,
      "the manifest is exactly the input id set (tombstones included)")
  }
}
