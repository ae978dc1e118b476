package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.text

/** One-call corpus curation: the standard pretraining cleanup chain —
  *
  *   boilerplate strip → stutter collapse → span strip → quality filter
  *   → exact dedup → decontamination → fluency (LM) cut → per-source
  *   keep cut
  *
  * — composed from the individually-gated stage operators, in the order
  * the stages depend on each other (stripping changes the text every
  * later signal reads; dedup must see cleaned text or trivially-equal
  * chrome survives; the keep cut runs last so quotas apply to what's
  * actually shippable). Every stage is optional via [[CurationConfig]];
  * a disabled stage is a no-op, not an identity scan.
  *
  * Scale contract: the composition adds NOTHING to the stages' own
  * costs — quality filtering fuses into the scan as a plain `where`,
  * dedup is one fingerprint aggregation + semi-join, decontamination is
  * a broadcast semi-join (zero corpus-side shuffle), and the keep cut is
  * the one window exchange [[Filtering.topFractionBySource]] documents
  * (prefer the sketch form off-pipeline for quota-free 100 TB cuts).
  * When the tail of the chain references the filtered frame three or
  * more times (dedup + decontamination/fluency — each is a two-sided
  * consumer), the composition pins the survivors ONCE (disk-spillable,
  * released via [[Caches.release]]) instead of re-running the
  * tokenize-heavy filters per reference; a single-consumer tail never
  * materializes a corpus copy. The boilerplate stage's common-line
  * collection is the one eager action ([[Boilerplate.stripCommonLines]]'s
  * contract — it scans `docs` once at composition time), so
  * nondeterministic inputs follow the standard pin-first rule.
  */
final case class CurationConfig(
    idCol: String = "doc_id",
    textCol: String = "text",
    sourceCol: String = "source",
    gopher: Option[Filtering.GopherThresholds] = Some(Filtering.GopherThresholds()),
    compressionBounds: Option[(Double, Double)] = None,
    boilerplateMinDf: Option[Long] = None,
    collapseTokenRuns: Boolean = false,
    spanStripWindow: Option[Int] = None,
    spanStripMinDf: Long = 2L,
    exactDedup: Boolean = true,
    benchmark: Option[DataFrame] = None,
    benchTextCol: String = "text",
    contaminationN: Int = 13,
    maxContamination: Double = 0.05,
    fluencyModel: Option[DataFrame] = None,
    fluencyHeadFraction: Double = 0.3,
    fluencyMiddleFraction: Double = 0.4,
    keepTopFraction: Option[Double] = None)

object Curation {

  /** Run the configured stages over `docs`. Output: the surviving rows
    * with the original schema — except that when the boilerplate stage
    * is on, `textCol` holds the CLEANED text and an `n_lines_dropped`
    * audit column is appended (the raw text is consumed, not carried;
    * a pipeline that wants both should join back on `idCol`).
    */
  def run(docs: DataFrame, cfg: CurationConfig = CurationConfig()): DataFrame = {
    var cur = docs
    cfg.boilerplateMinDf.foreach { minDf =>
      cur = Boilerplate
        .stripCommonLines(cur, cfg.textCol, minDf)
        .withColumn(cfg.textCol, col("text_clean"))
        .drop("text_clean")
    }
    if (cfg.collapseTokenRuns)
      // stutter collapse rewrites the text like the strip stages (and
      // runs before quality signals judge it); zero shuffle — it fuses
      // into whatever scan follows
      cur = cur.withColumn(cfg.textCol, text.collapseRunsText(col(cfg.textCol)))
    cfg.spanStripWindow.foreach { l =>
      // span strip rewrites the text (like the boilerplate stage) and
      // appends an `n_span_tokens_dropped` audit column; it runs BEFORE
      // quality signals so they judge the de-boilerplated text
      val stripped = SpanDedup
        .stripRepeatedSpans(cur, cfg.idCol, cfg.textCol, l, cfg.spanStripMinDf)
        .select(
          col("doc_id").as("__sd_id"),
          col("clean_text"),
          col("n_dropped").as("n_span_tokens_dropped"))
      // null-safe key: a null-id doc must be rewritten, not silently
      // dropped by the join (the stage's rewrite-never-drop contract)
      cur = cur
        .join(stripped, cur(cfg.idCol) <=> col("__sd_id"))
        .drop("__sd_id")
        .withColumn(cfg.textCol, col("clean_text"))
        .drop("clean_text")
    }
    cfg.gopher.foreach { th =>
      cur = Filtering.gopherFilter(cur, cfg.textCol, th)
    }
    cfg.compressionBounds.foreach { case (lo, hi) =>
      // compressibility window: below lo is boilerplate loops, above hi
      // is noise/base64 — both ends cut; judges the CLEANED text like
      // every quality signal, and fuses into the scan as a plain where.
      // coalesce(false): NULL text is unscorable and fails explicitly,
      // not through three-valued logic
      cur = cur.where(coalesce(
        Quality.deflateRatio(col(cfg.textCol)).between(lo, hi), lit(false)))
    }
    // Pin the filtered survivors ONCE before a multi-consumer tail: the
    // dedup semi-join evaluates its input twice (keeper aggregate + the
    // kept side), decontamination twice more (the pinned shingle pass and
    // the keep join) — unpinned, the tokenize-heavy quality filters above
    // re-run per reference (~4 full passes measured in the r20 q81
    // probe). One disk-spillable materialization replaces those
    // re-evaluations (guide §5: reused AND expensive to recompute);
    // released via Caches.release like every operator pin. A single-
    // consumer tail (e.g. dedup alone) keeps the zero-copy contract — two
    // cheap-filter evaluations beat materializing the corpus.
    val tailRefs =
      (if (cfg.exactDedup) 2 else 0) +
        (if (cfg.benchmark.nonEmpty) 2 else 0) +
        (if (cfg.fluencyModel.nonEmpty) 2 else 0)
    if (tailRefs >= 3) cur = Caches.pin(cur)
    if (cfg.exactDedup)
      cur = Dedup.exactDedup(cur, cfg.textCol, cfg.idCol)
    cfg.benchmark.foreach { bench =>
      cur = Decontaminate.clean(
        cur, cfg.textCol, cfg.idCol, bench, cfg.benchTextCol,
        cfg.contaminationN, cfg.maxContamination)
    }
    cfg.fluencyModel.foreach { model =>
      // CCNet LM stage: pooled-likelihood score, per-source head/middle/
      // tail cut, tail dropped. Docs without a single token transition
      // (< 2 tokens) are unscorable and are dropped with the tail — the
      // quality filter ahead of this stage normally removes them anyway.
      val scored = NgramLm
        .pooledLikelihood(cur, model, cfg.idCol, cfg.textCol, 1L, 1L)
        .select(
          col("doc_id").as("__fl_id"),
          (col("num_mass").cast("double") / col("den_mass").cast("double")).as("__fl_score"))
      cur = Filtering
        .scoreBucketsBySource(
          cur.join(scored, cur(cfg.idCol) <=> col("__fl_id")).drop("__fl_id"),
          cfg.sourceCol, cfg.idCol, "__fl_score",
          cfg.fluencyHeadFraction, cfg.fluencyMiddleFraction)
        .where(col("bucket") =!= "tail")
        .drop("bucket", "__fl_score")
    }
    cfg.keepTopFraction.foreach { f =>
      cur = Filtering
        .topFractionBySource(
          cur.withColumn("__score", text.tokenCount(col(cfg.textCol)).cast("long")),
          cfg.sourceCol, cfg.idCol, "__score", f)
        .drop("__score")
    }
    cur
  }
}
