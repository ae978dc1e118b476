package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, CurationConfig, Filtering}

/** The composed curation chain: each stage filters exactly what its
  * standalone operator would, stage order is observable (dedup sees
  * CLEANED text), and disabled stages are true no-ops.
  */
class CurationSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // A corpus where every stage has work:
  //  - docs 1/2: same content up to a boilerplate footer → equal after
  //    strip, deduped (keeper 1)
  //  - doc 3: too short → gopher kills it
  //  - doc 4: clean survivor
  //  - doc 5: a benchmark copy → decontamination kills it
  //  - docs 6/7: source B, 7 beats 6 on tokens → top-half cut keeps 7
  private val footer = "subscribe to our newsletter today"
  private def corpus = Seq(
    (1L, "A", s"the data table holds many good rows today\n$footer"),
    (2L, "A", s"the data table holds many good rows today\n$footer\n$footer"),
    (3L, "A", "the end"),
    (4L, "A", s"the quick brown fox jumps over a lazy dog again\n$footer"),
    (5L, "A", s"the secret eval answer is forty two exactly here\n$footer"),
    (6L, "B", s"the small doc has just eight words here\n$footer"),
    (7L, "B", s"the bigger doc has quite a few more words in it here\n$footer")
  ).toDF("doc_id", "source", "text")

  private def bench = Seq("the secret eval answer is forty two exactly here").toDF("text")

  private val cfg = CurationConfig(
    gopher = Some(Filtering.GopherThresholds(
      minTokens = 5L, maxTokens = 100L, minStopwordHits = 1L)),
    boilerplateMinDf = Some(3L),
    benchmark = Some(bench),
    contaminationN = 3,
    maxContamination = 0.2,
    keepTopFraction = Some(0.5))

  test("full chain: strip → filter → dedup → decontaminate → cut, in that order") {
    val out = Curation.run(corpus, cfg)
    val kept = out.select("doc_id").as[Long].collect().toSet
    // A: 1≡2 after strip (keeper 1), 3 too short, 5 contaminated → {1, 4};
    //    top-half of {1, 4} keeps floor(0.5·2)=1 doc — 4 has more tokens
    // B: {6, 7} → keeps 7
    assert(kept === Set(4L, 7L), s"got $kept")
    // the footer is gone from surviving text, and the audit col exists
    val t4 = out.where(col("doc_id") === 4L).select("text").as[String].head()
    assert(!t4.contains(footer))
    assert(out.columns.contains("n_lines_dropped"))
  }

  test("dedup runs on CLEANED text: footer variants collapse only when stripping is on") {
    val noStrip = cfg.copy(boilerplateMinDf = None, keepTopFraction = None,
      benchmark = None)
    val ids = Curation.run(corpus, noStrip).select("doc_id").as[Long].collect().toSet
    // without the strip, docs 1 and 2 differ (footer count) → both survive
    assert(Set(1L, 2L).subsetOf(ids), s"got $ids")
    val strip = noStrip.copy(boilerplateMinDf = Some(3L))
    val ids2 = Curation.run(corpus, strip).select("doc_id").as[Long].collect().toSet
    assert(ids2.contains(1L) && !ids2.contains(2L),
      s"cleaned duplicates must collapse to the min-id keeper: $ids2")
  }

  test("stutter collapse rewrites before quality signals judge the text") {
    // "data data data …" stutters: collapsed it has 7 tokens (< the
    // gopher minimum below), so with the stage ON gopher sees the
    // cleaned text and kills the doc; OFF, the stutter inflates the
    // count past the threshold and it survives
    val stuttered = Seq(
      (1L, "A", "the data data data data data data data data table holds rows"))
      .toDF("doc_id", "source", "text")
    val th = Filtering.GopherThresholds(minTokens = 8L, minStopwordHits = 1L)
    val off = Curation.run(stuttered,
      CurationConfig(gopher = Some(th), exactDedup = false))
    assert(off.count() === 1L, "without collapse the stutter inflates past minTokens")
    val on = Curation.run(stuttered,
      CurationConfig(gopher = Some(th), exactDedup = false, collapseTokenRuns = true))
    assert(on.count() === 0L, "collapsed text has 7 tokens and fails minTokens=8")
    // and the rewrite itself: runs collapse, non-adjacent repeats survive
    val cleaned = Curation.run(stuttered,
      CurationConfig(gopher = None, exactDedup = false, collapseTokenRuns = true))
      .select("text").as[String].head()
    assert(cleaned === "the data table holds rows")
  }

  test("an all-default-off config is the identity") {
    val out = Curation.run(corpus,
      CurationConfig(gopher = None, exactDedup = false))
    assert(out.schema === corpus.schema)
    assert(out.count() === corpus.count())
  }

  test("gopher-only config stays shuffle-free") {
    val plan = Curation.run(corpus,
      CurationConfig(gopher = Some(Filtering.GopherThresholds(minTokens = 1L,
        minStopwordHits = 0L)), exactDedup = false))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("compression window cuts both ends and judges the stage-rewritten text") {
    val loops = ("spam " * 150).trim                       // ratio ≈ 0 → too compressible
    val rnd = new scala.util.Random(11)
    val noise = Array.fill(600)((33 + rnd.nextInt(94)).toChar).mkString // ratio → 1
    // genuinely varied sentences (measured ratio ≈ 0.58): templated
    // prose with one varying token compresses under 0.15 and would fall
    // out of the window with the loops
    val normal = Seq(
      "the weather over the harbor turned sour before noon",
      "a freight train rattled past the empty platform twice",
      "my neighbor's cat refuses every brand of kibble but one",
      "quarterly numbers disappointed the board again this spring",
      "volcanic soil gives that vineyard its peculiar mineral bite",
      "the referee waved off a clear penalty in the final minute",
      "her thesis argues that medieval guilds resembled modern unions",
      "static crackled through the old shortwave at midnight",
      "the bakery sells out of rye loaves by eight most mornings",
      "engineers rerouted the cooling loop around the damaged pump").mkString(" ")
    val docs = Seq((1L, "A", Option(loops)), (2L, "A", Option(noise)), (3L, "A", Option(normal)),
      (4L, "A", None: Option[String]), (5L, "A", Option("")))
      .toDF("doc_id", "source", "text")
    val keepCfg = CurationConfig(gopher = None, exactDedup = false,
      compressionBounds = Some((0.2, 0.75)))
    val kept = Curation.run(docs, keepCfg).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L),
      "the loop, the noise, NULL text (unscorable) and empty text (ratio 0) fall outside the window")
  }

  test("span-strip stage rewrites text, audits drops, and later stages see the cleaned text") {
    // the footer is a repeated 5-token window across docs; with ONLY the
    // span stage on, docs 1 and 2 reduce to the same residual text
    val out = Curation.run(corpus, CurationConfig(
      gopher = None, exactDedup = false, spanStripWindow = Some(5)))
    assert(out.columns.contains("n_span_tokens_dropped"))
    assert(out.count() === corpus.count(), "span strip rewrites, never drops rows")
    val texts = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(!texts.values.exists(_.contains("subscribe")),
      "cross-doc footer must be stripped from every doc")
    assert(texts(1L) === texts(2L), "footer variants must converge")
    // and with dedup also on, the converged pair collapses to the keeper
    val deduped = Curation.run(corpus, CurationConfig(
      gopher = None, exactDedup = true, spanStripWindow = Some(5)))
      .select("doc_id").as[Long].collect().toSet
    assert(deduped.contains(1L) && !deduped.contains(2L))
    graft.operators.Caches.release()
  }

  test("fluency stage drops the per-source tail bucket on the pooled LM score") {
    // model trained on the corpus itself; h=0.4, m=0.4 → per source the
    // bottom ~20% (tail) drops. Unscorable (<2-token) docs drop too.
    val model = graft.operators.NgramLm.trainBigramStats(corpus, "text", minCount = 1L)
    val out = Curation.run(corpus, CurationConfig(
      gopher = None, exactDedup = false,
      fluencyModel = Some(model), fluencyHeadFraction = 0.4, fluencyMiddleFraction = 0.4))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(out.columns.toSeq === corpus.columns.toSeq, "stage must not leak helper columns")
    // source A: 5 scorable docs → head 2 + middle 2, one tail drop;
    // source B: 2 docs → head 0 (floor .8) ... middle 0? floor(0.4·2)=0 twice → both tail
    val bySource = corpus.select("doc_id", "source").as[(Long, String)].collect().toMap
    assert(kept.forall(bySource(_) == "A"))
    assert(kept.size === 2 + 2, s"A keeps head+middle quotas: $kept")
    graft.operators.Caches.release()
  }
}
