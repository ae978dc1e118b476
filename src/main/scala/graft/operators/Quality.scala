package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality harness (reference: silver_check.py:20-53), as
  * DataFrame-returning functions instead of print statements so results are
  * assertable in tests and dumpable through the oracle gate.
  */
object Quality {

  /** The DEFLATE ratio as a column: bytes-compressed / bytes-raw, 0.0
    * for EMPTY text by convention (a zero-byte doc has no meaningful
    * quotient), NULL only for NULL text. The ONE definition both
    * [[compressionReport]] and Curation's compression stage use — the
    * two diverged once (empty text scored NULL in the stage and was
    * silently cut even by a lo = 0 window; review, round 12).
    */
  def deflateRatio(textC: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val dl = ColumnBridge.column(
      graft.expressions.DeflateLenExpr(ColumnBridge.expression(textC)))
    when(octet_length(textC) > 0, dl.cast("double") / octet_length(textC).cast("double"))
      .when(octet_length(textC).isNotNull, lit(0.0))
  }

  /** Compressibility report per document — the DEFLATE quality signal
    * ([[graft.expressions.DeflateLenExpr]]): `ratio` near 1 flags
    * incompressible noise (random ids, base64, encrypted blobs), near 0
    * flags repeated boilerplate, and it sees long-period repetition
    * structure that token-level stats (type/token q21, repeated n-grams
    * q34) miss. Pure projection inside whole-stage codegen — zero
    * shuffle at any corpus size. NULL text rows stay in the report with
    * NULL bytes/ratio (the caller's filter decides their fate, not this
    * operator); empty text reports its fixed DEFLATE overhead with
    * ratio 0 by convention (raw_bytes = 0 has no meaningful quotient).
    */
  def compressionReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val dl = ColumnBridge.column(
      graft.expressions.DeflateLenExpr(ColumnBridge.expression(col(textCol))))
    docs
      .select(
        col(idCol),
        octet_length(col(textCol)).as("raw_bytes"),
        dl.as("deflate_bytes"))
      .withColumn(
        "ratio",
        when(col("raw_bytes") > 0,
          col("deflate_bytes").cast("double") / col("raw_bytes").cast("double"))
          .when(col("raw_bytes").isNotNull, lit(0.0)))
  }

  /** EXACT quantile normalization of a score across sources: each row's
    * within-source rank position maps to the POOLED distribution's order
    * statistic at the same quantile — `score_norm` = the k-th smallest
    * pooled score with k = ⌈r·N / n_s⌉ (exact integer arithmetic). After
    * normalization "top 20% of src A" and "top 20% of src B" mean the
    * same pooled level, which is what a cross-source quality threshold
    * needs when sources score on different scales (classifiers trained
    * per-language, length stats across registers). Deterministic ties:
    * rank by (score, id).
    *
    * Scale shape: the per-source ranking is one exchange on the source
    * key (AQE skew-splits giant sources); the pooled distribution
    * collapses to DISTINCT-SCORE cardinality before its running sum
    * (prev = cum − count, no lag), and the order-statistic lookup is a
    * point-in-interval range join against that broadcast table — the
    * [[Gold]] J3 shape, never a cartesian. Quantize continuous scores
    * first: the pooled side is assumed score-cardinality-bounded (a
    * quality score with a billion distinct values is noise, not a
    * distribution). Rows with NULL score or NULL source are EXCLUDED —
    * a null quality score has no quantile; filter or impute upstream.
    * The scored frame is pinned (read four times), with the
    * [[Graphs.pageRankInt]] pin lifetime.
    */
  def quantileNormalize(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // refuse fractional scores rather than silently truncating them to
    // long (a [0,1] classifier score would collapse to {0, 1} and the
    // "ranks" would be tie-break noise): quantize to an integer grid
    // first — that IS the documented precondition
    docs.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"quantileNormalize needs an INTEGRAL score column (got $scoreCol: " +
          s"${other.catalogString}); quantize first, e.g. floor(score * 1000)")
    }
    val scored = docs
      .select(col(idCol), col(sourceCol).as("source"), col(scoreCol).cast("long").as("score"))
      .where(col("score").isNotNull && col("source").isNotNull)
      // read by ranks, source counts, totals, pooled
      .transform(Caches.pin)
    val srcN = scored.groupBy("source").agg(count(lit(1)).as("__ns"))
    val totals = scored.agg(count(lit(1)).as("__N"))
    val w = Window.partitionBy("source").orderBy(col("score"), col(idCol))
    val ranked = scored
      .withColumn("__r", row_number().over(w).cast("long"))
      .join(srcN, Seq("source"))
      .crossJoin(broadcast(totals))
      // decimal(38,0), not long: r·N is rank × corpus size, which clears
      // 2^63 near 10^10 rows — far below a 100 TB corpus. The quotient
      // itself is ≤ N and fits a long again.
      .withColumn("__k",
        expr("CAST((CAST(__r AS DECIMAL(38,0)) * __N + __ns - 1) DIV __ns AS BIGINT)"))
    val pooled = scored.groupBy("score").agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(Window.orderBy("score")))
      .select(
        col("score").as("score_norm"),
        (col("__cum") - col("__c")).as("__prev"),
        col("__cum"))
    ranked
      .join(broadcast(pooled), col("__k") > col("__prev") && col("__k") <= col("__cum"))
      .select(col(idCol), col("source"), col("score"),
        col("__k").as("pooled_rank"), col("score_norm"))
  }

  /** Rows whose composite key occurs more than once
    * (reference: silver_check.py:32-37).
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** One-row profile: row count, distinct keys, duplicate-key groups,
    * min/max of the date column (reference: silver_check.py:24-49 folds five
    * separate actions; here it is ONE aggregate job — one pass at scale).
    */
  def profile(df: DataFrame, keys: Seq[String], dateCol: String): DataFrame = {
    val keyStruct = struct(keys.map(col): _*)
    df.agg(
      count(lit(1)).as("row_count"),
      count_distinct(keyStruct).as("distinct_keys"),
      min(col(dateCol).cast("date")).as("min_date"),
      max(col(dateCol).cast("date")).as("max_date"))
  }

  /** Ordered sample (reference: silver_check.py:52-53). */
  def sample(df: DataFrame, orderCols: Seq[String], n: Int = 5): DataFrame =
    df.orderBy(orderCols.map(col): _*).limit(n)

  /** Column-level profile in ONE aggregation pass: per column, the null
    * fraction, approximate distinct count, and min/max (as strings, so the
    * profile is schema-stable across column types). Output: one row per
    * column. The generalization of silver_check's per-table checks to
    * every column — at 100 TB a single pass instead of 4×columns jobs.
    */
  def columnProfile(df: DataFrame, withApproxDistinct: Boolean = true): DataFrame = {
    // maps (and other unorderable types): min/max would fail analysis
    def orderable(t: org.apache.spark.sql.types.DataType): Boolean =
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(t)
    val total = count(lit(1))
    val perCol = df.schema.fields.map { f =>
      val c = f.name
      val (mn, mx) =
        if (orderable(f.dataType)) (min(col(c)).cast("string"), max(col(c)).cast("string"))
        else (lit(null).cast("string"), lit(null).cast("string"))
      val base = Seq(
        lit(c).as("col_name"),
        (sum(when(col(c).isNull, 1L).otherwise(0L)).cast("double") / total).as("null_fraction"))
      val sketch =
        if (withApproxDistinct) Seq(approx_count_distinct(col(c)).as("approx_distinct")) else Nil
      struct(base ++ sketch ++ Seq(mn.as("min_value"), mx.as("max_value")): _*)
    }
    val outCols = Seq("p.col_name", "p.null_fraction") ++
      (if (withApproxDistinct) Seq("p.approx_distinct") else Nil) ++
      Seq("p.min_value", "p.max_value")
    df.agg(array(perCol.toIndexedSeq: _*).as("cols"))
      .select(explode(col("cols")).as("p"))
      .select(outCols.head, outCols.tail: _*)
  }

  /** Per-ITEM disagreement report — the routing face of the corpus-
    * level kappas ([[fleissKappa]]/[[cohenKappa]] say whether the
    * PANEL is reliable; this says WHICH items to re-annotate). One
    * row per item: `n_ratings`, `n_distinct_labels`, `majority_label`
    * (ties → lexicographically smallest label, the engine-
    * reproducible break), `majority_n`, `majority_frac` (one fixed
    * double over two integers), and `needs_reannotation` (majority
    * below `minMajorityFrac`, or fewer than `minRatings` ratings —
    * an under-rated item is undecided, not agreed). NULL items or
    * labels drop as missing ratings, the kappa convention.
    *
    * Scale shape: one (item, label) hash aggregation — map-side
    * combined, the wire carries distinct pairs — then one rollup to
    * items (max_by under an explicit (count, reversed-label) total
    * order; no window, no re-scan of the ratings).
    */
  def annotationDisagreement(
      df: DataFrame,
      itemCol: String,
      labelCol: String,
      minMajorityFrac: Double = 0.7,
      minRatings: Long = 2L): DataFrame = {
    require(minMajorityFrac > 0.0 && minMajorityFrac <= 1.0,
      s"minMajorityFrac out of (0, 1]: $minMajorityFrac")
    require(minRatings >= 1L, s"minRatings must be positive, got $minRatings")
    val counts = df
      .where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol), col(labelCol).as("__label"))
      .agg(count(lit(1)).as("__c"))
    counts
      .groupBy(col(itemCol))
      .agg(
        sum(col("__c")).as("n_ratings"),
        count(lit(1)).as("n_distinct_labels"),
        // ties on count break to the SMALLEST label: the struct orders by
        // (count, negated-rank-of-label) — string negation isn't a thing,
        // so invert via min_by on (negated count, label)
        min_by(col("__label"), struct((col("__c") * -1).as("__nc"), col("__label")))
          .as("majority_label"),
        max(col("__c")).as("majority_n"))
      .select(
        col(itemCol),
        col("n_ratings"),
        col("n_distinct_labels"),
        col("majority_label"),
        col("majority_n"),
        (col("majority_n").cast("double") / col("n_ratings").cast("double"))
          .as("majority_frac"),
        (col("n_ratings") < minRatings ||
          col("majority_n").cast("double") <
            lit(minMajorityFrac) * col("n_ratings").cast("double"))
          .as("needs_reannotation"))
  }

  /** FLEISS' KAPPA — chance-corrected inter-rater agreement over an
    * annotation frame with one row per (item, rating), the label-quality
    * audit a human- or model-annotated training set ships with (Fleiss
    * 1971, "Measuring nominal scale agreement among many raters" —
    * public formula, restated). One row out:
    * `(n_items, n_raters, n_categories, p_bar, p_e, kappa)`.
    *
    * Exactness: every double derives from INTEGER aggregates through one
    * fixed expression — P̄ = (Σᵢⱼ n_ij² − N·n) / (N·n·(n−1)) has an
    * integer numerator by algebra (never a sum of per-item doubles,
    * which would be summation-order-dependent), P̄ₑ = Σⱼ Tⱼ² / (N·n)²
    * likewise — so the statistic replays bit-for-bit in any engine
    * (q142). Category totals square in decimal(38,0): Tⱼ can reach
    * N·n, whose square overflows a long at corpus scale.
    *
    * Contract: rater identity never enters (Fleiss needs only per-item
    * category counts), but every item must carry the SAME number of
    * ratings n ≥ 2 — both violations fail loudly per-run (an unbalanced
    * panel silently biases P̄ toward its over-rated items). NULL items
    * or labels are dropped before counting: an unlabeled row is a
    * missing rating, not a category. Degenerate unanimity (P̄ₑ = 1
    * forces P̄ = 1) reports κ = 1 rather than 0/0.
    *
    * Scale shape: one (item, label) hash aggregation — map-side combined,
    * the wire carries distinct pairs — feeding two key-bounded rollups
    * off the pinned counts ([[Caches.inScope]] in long-lived sessions); the
    * kappa row itself is a 1×1 cross of two scalar aggregates.
    */
  def fleissKappa(
      df: DataFrame,
      itemCol: String,
      labelCol: String): DataFrame = {
    val cnt = Caches.pin(df
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__c")))
    val items = cnt
      .groupBy("__i")
      .agg(sum("__c").as("__n"), sum(col("__c") * col("__c")).as("__s2"))
      .agg(
        count(lit(1)).as("n_items"),
        min("__n").as("__nmin"), max("__n").as("__nmax"),
        sum(col("__s2").cast("decimal(38,0)")).as("__S2"))
    val labels = cnt
      .groupBy("__l")
      .agg(sum("__c").as("__t"))
      .agg(
        count(lit(1)).as("n_categories"),
        sum(col("__t").cast("decimal(38,0)") * col("__t").cast("decimal(38,0)"))
          .as("__C"))
    val joined = items.crossJoin(labels)
      .withColumn("n_raters",
        when(col("__nmin") =!= col("__nmax"),
          raise_error(concat(
            lit("fleissKappa: unbalanced panel — items carry between "),
            col("__nmin").cast("string"), lit(" and "),
            col("__nmax").cast("string"),
            lit(" ratings; complete or subsample to a fixed n first")))
            .cast("long"))
          .when(col("__nmin") < 2L,
            raise_error(lit("fleissKappa: agreement needs n >= 2 ratings per item"))
              .cast("long"))
          .otherwise(col("__nmin")))
    val nnD = (col("n_items") * col("n_raters")).cast("double")
    val pBar = (col("__S2").cast("double") - nnD) /
      (nnD * (col("n_raters") - 1L).cast("double"))
    val pE = col("__C").cast("double") / (nnD * nnD)
    joined
      .withColumn("p_bar", pBar)
      .withColumn("p_e", pE)
      .withColumn("kappa",
        when(lit(1.0) - col("p_e") === 0.0, lit(1.0))
          .otherwise((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))))
      .select("n_items", "n_raters", "n_categories", "p_bar", "p_e", "kappa")
  }

  /** COHEN'S KAPPA — the two-annotator agreement statistic (Cohen 1960,
    * public formula restated), for the double-annotation pass most
    * labeling projects run before scaling up. Unlike [[fleissKappa]],
    * rater IDENTITY matters: chance agreement uses each rater's own
    * marginal label distribution. One row out:
    * `(n_items, n_categories, p_o, p_e, kappa)`.
    *
    * Exactness: p_o = agreements / N and
    * p_e = Σ_c marginal₁(c)·marginal₂(c) / N² both have integer
    * numerators, so every double falls out of integer aggregates
    * through one fixed expression — bit-replayable (q148). Marginal
    * products accumulate in decimal(38,0).
    *
    * Contract: EXACTLY two distinct raters, each rating every item
    * exactly once — anything else fails loudly per-run (a missing
    * second rating silently deflates observed agreement). NULL rows
    * drop first (a missing rating is not a label). Unanimity with one
    * shared category (p_e = 1 forces p_o = 1) reports κ = 1.
    *
    * Scale shape: one (item)-keyed pivot aggregation, two label-keyed
    * marginal rollups joined label-to-label (category-bounded), and a
    * scalar cross — the corpus never re-shuffles.
    */
  def cohenKappa(
      df: DataFrame,
      itemCol: String,
      raterCol: String,
      labelCol: String): DataFrame = {
    val clean = df.filter(
      col(itemCol).isNotNull && col(raterCol).isNotNull && col(labelCol).isNotNull)
    // LIMIT 3 bounds the collect even against a garbage rater column (a
    // billion distinct "raters" must not reach the driver before the
    // two-rater require can fire); 3 rows still distinguishes 2 from >2
    val raters = clean.select(col(raterCol).cast("string").as("r"))
      .distinct().orderBy("r").limit(3).collect().map(_.getString(0))
    require(raters.length == 2,
      s"cohenKappa needs exactly two raters, got " +
        s"${if (raters.length > 2) "3 or more" else raters.length.toString}: " +
        raters.mkString(", "))
    val Array(r1, r2) = raters
    val rc = col(raterCol).cast("string")
    val perItem = Caches.pin(clean
      .groupBy(col(itemCol).as("__i"))
      .agg(
        sum(when(rc === r1, 1L).otherwise(0L)).as("__c1"),
        sum(when(rc === r2, 1L).otherwise(0L)).as("__c2"),
        max(when(rc === r1, col(labelCol).cast("string"))).as("__l1"),
        max(when(rc === r2, col(labelCol).cast("string"))).as("__l2"))
      .withColumn("__ok",
        when(col("__c1") =!= 1L || col("__c2") =!= 1L,
          raise_error(concat(
            lit("cohenKappa: item "), col("__i").cast("string"),
            lit(" has "), col("__c1").cast("string"), lit("/"),
            col("__c2").cast("string"),
            lit(" ratings from the two raters — every item needs exactly one from each"))))
          .otherwise(lit(true)))
      .filter(col("__ok")))
    // PINNED: agg + both marginals read it (the fleissKappa shape) — an
    // unpinned perItem would rescan the raw annotation frame three times
    // and re-run the raise_error validation per scan
    val agg = perItem.agg(
      count(lit(1)).as("n_items"),
      sum(when(col("__l1") === col("__l2"), 1L).otherwise(0L)).as("__agree"))
    val m1 = perItem.groupBy(col("__l1").as("__lab")).agg(count(lit(1)).as("__m1"))
    val m2 = perItem.groupBy(col("__l2").as("__lab")).agg(count(lit(1)).as("__m2"))
    val cats = m1.join(m2, Seq("__lab"), "full_outer")
      .agg(
        count(lit(1)).as("n_categories"),
        sum(coalesce(col("__m1"), lit(0L)).cast("decimal(38,0)") *
          coalesce(col("__m2"), lit(0L)).cast("decimal(38,0)")).as("__pe_num"))
    val nD = col("n_items").cast("double")
    agg.crossJoin(cats)
      .withColumn("p_o", col("__agree").cast("double") / nD)
      .withColumn("p_e", col("__pe_num").cast("double") / (nD * nD))
      .withColumn("kappa",
        when(lit(1.0) - col("p_e") === 0.0, lit(1.0))
          .otherwise((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))))
      .select("n_items", "n_categories", "p_o", "p_e", "kappa")
  }

  /** Precision/recall scorecard of an APPROXIMATE pair set against an
    * EXACT ground-truth pair set — the harness that turns this repo's
    * "every sketch family has an exact twin" discipline into a number:
    * run the exact twin on a sample, feed both pair frames here, and the
    * sketch's loss is measured instead of assumed (tune bands/bits/
    * hamming radius against the report, not folklore).
    *
    * Pairs are undirected: each side is normalized to
    * (least, greatest) and de-duplicated before comparison, so callers
    * can emit either orientation. One row out:
    * (n_exact, n_approx, true_pos, false_pos, false_neg, precision,
    * recall) — counts exact longs, ratios one correctly-rounded division
    * each (0.0 against an empty denominator, never NaN).
    *
    * Scale shape: two distinct-aggregations plus ONE full-outer hash
    * join on the pair key, then a single global rollup of three
    * counters — no all-pairs anything; the cost is linear in the pair
    * frames, which are candidate-scale by construction.
    */
  def pairAgreementReport(
      approx: DataFrame,
      exact: DataFrame,
      idACol: String,
      idBCol: String): DataFrame = {
    def norm(df: DataFrame, marker: String) = df.select(
      least(col(idACol), col(idBCol)).as("__a"),
      greatest(col(idACol), col(idBCol)).as("__b"))
      .distinct()
      .withColumn(marker, lit(1L))
    norm(approx, "__inApprox")
      .join(norm(exact, "__inExact"), Seq("__a", "__b"), "full_outer")
      .agg(
        coalesce(sum(col("__inExact")), lit(0L)).as("n_exact"),
        coalesce(sum(col("__inApprox")), lit(0L)).as("n_approx"),
        coalesce(sum(col("__inApprox") * col("__inExact")), lit(0L)).as("true_pos"))
      .select(
        col("n_exact"), col("n_approx"), col("true_pos"),
        (col("n_approx") - col("true_pos")).as("false_pos"),
        (col("n_exact") - col("true_pos")).as("false_neg"),
        when(col("n_approx") === 0L, lit(0.0))
          .otherwise(col("true_pos").cast("double") / col("n_approx").cast("double"))
          .as("precision"),
        when(col("n_exact") === 0L, lit(0.0))
          .otherwise(col("true_pos").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** The per-doc projection every dataset-card face shares — one row per
    * doc with the normalized source, integer volume stats, the exact-dup
    * fingerprint, quality ratios, and the lang/script ids. UNPINNED;
    * callers that aggregate it more than once pin it themselves.
    */
  private[graft] def cardPrep(
      docs: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    import graft.functions.text
    docs.select(
      col(sourceCol).cast("string").as("source"),
      length(col(textCol)).cast("long").as("n_chars"),
      text.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      text.fingerprintMd5(col(textCol)).as("fp"),
      text.punctRatio(col(textCol)).as("punct"),
      text.stopwordRatio(col(textCol)).as("stopr"),
      text.langId(col(textCol)).as("lang"),
      text.scriptId(col(textCol)).as("script"))
  }

  /** DATASET CARD: the one-call corpus audit artifact a published
    * training set ships — long-format `(section, metric, value)` rows
    * covering volume, exact-duplication, quality-flag counts, and the
    * language / script / source mixes. Every value is an exact INTEGER
    * (counts and integer sums only — a mean of per-doc doubles would
    * make the card summation-order-dependent and unreproducible across
    * engines; ratios are the READER's division). Quality flags count
    * per-doc threshold exceedances, which are deterministic double
    * comparisons on identical operands.
    *
    * Scale shape: ONE corpus scan materializes the per-doc projection
    * (pinned, with the [[Graphs.pageRankInt]] pin lifetime); the five
    * sections are cheap
    * aggregations over that projection (a global aggregate melted via
    * `stack`, three low-cardinality group-bys, one distinct count).
    */
  def datasetCard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      shortTokens: Long = 10L,
      highPunct: Double = 0.05): DataFrame = {
    val prep = Caches.pin(cardPrep(docs, textCol, sourceCol))
    def cnt(pred: org.apache.spark.sql.Column) = sum(when(pred, 1L).otherwise(0L))
    val corpus = prep.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("n_chars")), lit(0L)).as("total_chars"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"),
      count_distinct(col("fp")).as("distinct_texts"),
      cnt(col("punct") > highPunct).as("high_punct_docs"),
      cnt(col("stopr") === 0.0 && col("n_tokens") > 0L).as("no_stopword_docs"),
      cnt(col("n_tokens") < shortTokens).as("short_docs"))
      .withColumn("exact_dup_docs", col("n_docs") - col("distinct_texts"))
      .selectExpr(
        """stack(8,
           'corpus', 'n_docs', n_docs,
           'corpus', 'total_chars', total_chars,
           'corpus', 'total_tokens', total_tokens,
           'corpus', 'distinct_texts', distinct_texts,
           'corpus', 'exact_dup_docs', exact_dup_docs,
           'flags', 'high_punct_docs', high_punct_docs,
           'flags', 'no_stopword_docs', no_stopword_docs,
           'flags', 'short_docs', short_docs) AS (section, metric, value)""")
    def mix(section: String, c: String) = prep.groupBy(col(c))
      .agg(count(lit(1)).as("value"))
      .select(lit(section).as("section"),
        coalesce(col(c), lit("__null__")).as("metric"), col("value"))
    corpus
      .unionByName(mix("lang", "lang"))
      .unionByName(mix("script", "script"))
      .unionByName(mix("source", "source"))
  }

  /** Audit delta between two dataset cards (old snapshot vs new): a
    * full-outer join on `(section, metric)` with absent metrics read as 0
    * — a mix value present only in the new card (a language that just
    * appeared) surfaces as `old_value = 0` rather than a dropped row.
    * Pure composition of two already-gated cards; card-sized (tens of
    * rows), never corpus-sized.
    */
  def cardDiff(oldCard: DataFrame, newCard: DataFrame): DataFrame =
    oldCard.select(col("section"), col("metric"), col("value").as("old_value"))
      .join(
        newCard.select(col("section"), col("metric"), col("value").as("new_value")),
        Seq("section", "metric"), "full_outer")
      .select(col("section"), col("metric"),
        coalesce(col("old_value"), lit(0L)).as("old_value"),
        coalesce(col("new_value"), lit(0L)).as("new_value"),
        (coalesce(col("new_value"), lit(0L)) - coalesce(col("old_value"), lit(0L)))
          .as("delta"))
}
