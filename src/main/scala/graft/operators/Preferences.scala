package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference-pair construction for DPO/RLHF-style post-training: turn
  * per-prompt scored responses (rater scores, reward-model outputs,
  * win counts) into (chosen, rejected) training pairs with explicit,
  * engine-reproducible tie-breaks.
  *
  * NULL-scored responses are quarantined (excluded from ranking, still
  * counted in `n_responses`) — a response without a score cannot
  * express a preference, and letting it rank would make the pair
  * depend on engine NULL-ordering conventions.
  *
  * Scale shape: [[pairsByScore]] is ONE hash aggregation keyed by the
  * prompt (map-side combinable `min_by`/`max_by` — no window, no
  * self-join); [[topBottomPairs]] is one exchange by prompt feeding
  * two windowed ranks plus a candidate join whose sides are capped at
  * `p` rows per prompt, so the pairwise expansion is ≤ p² per prompt
  * by construction — never the quadratic all-pairs blowup.
  */
object Preferences {

  /** Per-prompt best-vs-worst pair: chosen = highest score (ties →
    * LOWEST response id), rejected = lowest score (ties → lowest id),
    * emitted only when the prompt has ≥ 2 scored responses and a
    * strictly positive margin (a zero-margin pair carries no
    * preference signal). Output: `prompt, chosen_id, rejected_id,
    * chosen_score, rejected_score, margin, n_responses`.
    *
    * The chosen-side tie-break inverts the SCORE (exactly — integral
    * scores negate in decimal(20,0), fractional in their own type),
    * never the id: `min_by` over (−score, id) keeps the documented
    * total order for ANY orderable id type. Negating the id would
    * cast string ids to NULL (non-ANSI) — silently aggregation-order-
    * dependent — or throw under ANSI, and overflows at Long.MinValue.
    */
  def pairsByScore(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val id = col(idCol)
    val score = col(scoreCol)
    val negScore = responses.schema(scoreCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // decimal(20,0) holds the full negated 64-bit range exactly
        negate(score.cast(DecimalType(20, 0)))
      case FloatType | DoubleType | _: DecimalType => negate(score)
      case other => throw new IllegalArgumentException(
        s"pairsByScore needs a numeric score column (margin arithmetic); " +
          s"got ${other.catalogString}")
    }
    val scored = when(score.isNotNull, lit(1)) // quarantine marker
    responses
      .groupBy(col(promptCol))
      .agg(
        count(lit(1)).as("n_responses"),
        count(scored).as("__n_scored"),
        min_by(id, when(score.isNotNull, struct(negScore.as("__s"), id.as("__t"))))
          .as("chosen_id"),
        min_by(id, when(score.isNotNull, struct(score.as("__s"), id.as("__t"))))
          .as("rejected_id"),
        max(score).as("chosen_score"),
        min(score).as("rejected_score"))
      .where(col("__n_scored") >= 2 && col("chosen_score") > col("rejected_score"))
      .select(
        col(promptCol),
        col("chosen_id"),
        col("rejected_id"),
        col("chosen_score"),
        col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"),
        col("n_responses"))
  }

  /** Bounded pairwise expansion: every (top-`p`, bottom-`p`) response
    * pair per prompt with a strictly positive margin — the listwise →
    * pairwise step that keeps more signal than best-vs-worst while
    * staying ≤ p² pairs per prompt (all-pairs is quadratic in the
    * response count and dies on heavily-sampled prompts). Ranks use
    * the same total order as [[pairsByScore]]: score, then response
    * id ascending on both sides. Output: `prompt, chosen_id,
    * rejected_id, chosen_score, rejected_score, margin`.
    */
  def topBottomPairs(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      p: Int): DataFrame = {
    require(p >= 1, s"p must be positive, got $p")
    val scored = responses
      .where(col(scoreCol).isNotNull)
      .select(col(promptCol), col(idCol), col(scoreCol))
    // same exchange (hash by prompt) serves both window sorts
    val wTop = Window.partitionBy(col(promptCol)).orderBy(col(scoreCol).desc, col(idCol).asc)
    val wBot = Window.partitionBy(col(promptCol)).orderBy(col(scoreCol).asc, col(idCol).asc)
    val ranked = scored
      .withColumn("__rt", row_number().over(wTop))
      .withColumn("__rb", row_number().over(wBot))
    val top = ranked.where(col("__rt") <= p)
      .select(col(promptCol), col(idCol).as("chosen_id"), col(scoreCol).as("chosen_score"))
    val bottom = ranked.where(col("__rb") <= p)
      .select(col(promptCol), col(idCol).as("rejected_id"), col(scoreCol).as("rejected_score"))
    top.join(bottom, Seq(promptCol))
      .where(col("chosen_score") > col("rejected_score"))
      .select(
        col(promptCol),
        col("chosen_id"),
        col("rejected_id"),
        col("chosen_score"),
        col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
  }

  /** Group-relative advantage (the GRPO normalization — Shao et al.
    * 2024, "DeepSeekMath", §4.1): per prompt group of sampled
    * responses, advantage_i = (r_i − mean_g) / std_g with the
    * POPULATION std — the baseline-free policy-gradient signal
    * computed entirely from data, no value model.
    *
    * Cross-engine exactness (the kappa/curriculum discipline): rewards
    * are required INTEGRAL, the group moments are integer aggregates
    * (n, S = Σr, Q = Σr²), and the advantage is ONE fixed double
    * expression over them —
    *
    *   advantage = (n·r − S) / sqrt(n·Q − S²)
    *
    * (algebraically (r − S/n) / (sqrt(nQ − S²)/n)) — IEEE mul/sub/
    * sqrt/div agree across engines when the operand set is identical,
    * which integer aggregates guarantee; a naive avg/stddev_pop over
    * doubles would differ in the last ulp per aggregation order.
    *
    * Conventions: NULL rewards are quarantined — emitted with NULL
    * advantage, excluded from the moments (a reward-less sample can't
    * shape the baseline) — and zero-variance groups get advantage 0
    * for every member (GRPO's no-gradient group; division would be
    * 0/0). NULL prompts DROP (standard equi-join semantics, identical
    * on every SQL engine): a response without a group key has no
    * baseline to normalize against. Overflow contract: per group,
    * n·Q < 2⁶³ and S² < 2⁶³.
    *
    * Scale shape: one map-side-combinable hash aggregation for the
    * moments + one hash join back to the rows — group count is the
    * prompt count, so the moment side is small and AQE broadcasts it;
    * no window, no per-group sort. Output: `(promptCol, idCol,
    * rewardCol, advantage, n_scored)`.
    */
  def groupRelativeAdvantage(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      rewardCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rt = responses.schema(rewardCol).dataType
    require(Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(rt),
      s"groupRelativeAdvantage needs an integral reward column (exact group " +
        s"moments are the cross-engine contract); got ${rt.catalogString} — " +
        "quantize scores first")
    val r = col(rewardCol).cast("long")
    val moments = responses
      .groupBy(col(promptCol))
      .agg(
        count(col(rewardCol)).as("n_scored"),
        coalesce(sum(r), lit(0L)).as("__S"),
        coalesce(sum(r * r), lit(0L)).as("__Q"))
    val n = col("n_scored")
    val varN2 = n * col("__Q") - col("__S") * col("__S") // n²·σ²
    responses
      .join(moments, Seq(promptCol))
      .select(
        col(promptCol),
        col(idCol),
        col(rewardCol),
        when(col(rewardCol).isNull, lit(null).cast("double"))
          .when(varN2 === 0L, lit(0.0d))
          .otherwise((n * r - col("__S")).cast("double") / sqrt(varN2.cast("double")))
          .as("advantage"),
        col("n_scored"))
  }

  /** Rejection-sampling selection (the RFT / best-of-n SFT-set
    * construction): per prompt, keep the top `perPrompt` responses
    * scoring at least `minScore`, under the family's explicit total
    * order (score desc, then response id asc — engine-reproducible
    * ties). NULL scores can never pass the threshold (SQL comparison
    * semantics) — the quarantine falls out of the predicate.
    *
    * Scale shape: the threshold is a pushed scan filter, and the
    * per-prompt cut rides the bounded-heap [[graft.plans.TopK]]
    * native plan — partial heaps map-side, ≤ perPrompt rows per
    * prompt cross the exchange, never a full window sort of every
    * surviving response. Output: `(promptCol, idCol, scoreCol)`.
    */
  def rejectionSample(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      minScore: Long,
      perPrompt: Int): DataFrame = {
    require(perPrompt >= 1, s"perPrompt must be positive, got $perPrompt")
    graft.plans.TopK.perKey(
      responses
        .where(col(scoreCol) >= minScore)
        .select(col(promptCol), col(idCol), col(scoreCol)),
      Seq(promptCol),
      Seq(col(scoreCol).desc, col(idCol).asc),
      perPrompt)
  }

  /** Per-group reward winsorization — the hygiene step BEFORE
    * [[groupRelativeAdvantage]]: reward-model failures (one absurd
    * score in a prompt group) dominate the group's mean and std, so
    * clipping to the group's exact [pLo, pHi] order statistics is the
    * standard fix. Cut ranks are `max(1, ceil(p·n))` over the scored
    * rows under the family's explicit (reward, id) total order — EXACT
    * k-th order statistics, not an approximate quantile sketch, so the
    * cuts (and therefore every clipped value) replay bit-for-bit on
    * any engine. NULL rewards pass through as NULL clipped values;
    * groups with zero scored rows have no cuts and DROP (nothing to
    * clip against). n = 1 degenerates to lo = hi = the value: clipping
    * is the identity, never a crash.
    *
    * Scale shape: one exchange by prompt serves the rank window and
    * both aggregations; the cuts frame is prompt-count-sized, so the
    * join back broadcasts. Output: input columns + `clipped_reward,
    * lo, hi` (cut values in the reward's own type).
    */
  def clipRewards(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      rewardCol: String,
      pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    require(0.0 <= pLo && pLo <= pHi && pHi <= 1.0,
      s"need 0 <= pLo <= pHi <= 1, got ($pLo, $pHi)")
    val r = col(rewardCol)
    val scored = responses.where(r.isNotNull)
      .select(col(promptCol), col(idCol), r)
    val w = Window.partitionBy(col(promptCol)).orderBy(r.asc, col(idCol).asc)
    val ranked = scored.withColumn("__rn", row_number().over(w))
    val counts = scored.groupBy(col(promptCol)).agg(count(lit(1)).as("__n"))
    val cuts = ranked.join(counts, Seq(promptCol))
      .groupBy(col(promptCol))
      .agg(
        max(when(col("__rn") === greatest(lit(1L), ceil(lit(pLo) * col("__n"))), r))
          .as("lo"),
        max(when(col("__rn") === greatest(lit(1L), ceil(lit(pHi) * col("__n"))), r))
          .as("hi"))
    responses
      .join(cuts, Seq(promptCol))
      .withColumn("clipped_reward",
        when(r.isNull, lit(null)).otherwise(least(greatest(r, col("lo")), col("hi"))))
  }

  /** Length-bias audit for preference pairs — DPO's best-known failure
    * mode: raters (and reward models) systematically prefer LONGER
    * responses, and a pair set with high margin↔length correlation
    * trains verbosity, not quality. One row out:
    *
    *   - `n_pairs`, `chosen_longer` (count), `chosen_longer_frac`
    *   - `mean_len_delta` (mean of chosen − rejected token counts)
    *   - `margin_len_corr` — Pearson correlation between the pair's
    *     score margin and its token-count delta, THE verbosity-reward
    *     signal (≈0 healthy; near 1 means the margin is just length)
    *
    * Cross-engine exactness: token counts and margins are integers,
    * all five sums (Σx, Σy, Σxy, Σx², Σy²) are integer aggregates,
    * and every double derives from them through one fixed expression
    * (the Fleiss-kappa discipline). The correlation denominator
    * multiplies the two variance terms as √·√ in DOUBLE — never the
    * long product, which overflows at corpus scale (the round-11
    * cosine lesson). Degenerate variance (all margins equal, or all
    * deltas equal) reports 0. Overflow contract: n·Σxy < 2⁶³ and
    * Σx·Σy < 2⁶³.
    *
    * Scale shape: two broadcast-or-hash joins (pairs → token counts)
    * and ONE global aggregation whose partials are map-side
    * combinable; the report is one row regardless of corpus size.
    */
  def lengthBiasReport(
      pairs: DataFrame,
      texts: DataFrame,
      idCol: String,
      textCol: String,
      chosenCol: String = "chosen_id",
      rejectedCol: String = "rejected_id",
      marginCol: String = "margin"): DataFrame = {
    import org.apache.spark.sql.types._
    val mt = pairs.schema(marginCol).dataType
    require(Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(mt),
      s"lengthBiasReport needs an integral margin column (the five sums are " +
        s"integer aggregates — the cross-engine exactness contract); got " +
        s"${mt.catalogString} — quantize margins first (a fractional margin " +
        "of 0.7 would silently truncate to 0 and zero the correlation)")
    val tok = graft.functions.text.tokenCount(col(textCol)).cast("long")
    val t = texts.select(col(idCol).as("__tid"), tok.as("__tok"))
    val joined = pairs
      .join(t.select(col("__tid").as("__cid"), col("__tok").as("__ctok")),
        col(chosenCol) === col("__cid"))
      .join(t.select(col("__tid").as("__rid2"), col("__tok").as("__rtok")),
        col(rejectedCol) === col("__rid2"))
      .select(
        (col("__ctok") - col("__rtok")).as("__x"), // length delta
        col(marginCol).cast("long").as("__y")) // score margin
    val agg = joined.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(when(col("__x") > 0, 1L).otherwise(0L)), lit(0L)).as("chosen_longer"),
      coalesce(sum(col("__x")), lit(0L)).as("__sx"),
      coalesce(sum(col("__y")), lit(0L)).as("__sy"),
      coalesce(sum(col("__x") * col("__y")), lit(0L)).as("__sxy"),
      coalesce(sum(col("__x") * col("__x")), lit(0L)).as("__sxx"),
      coalesce(sum(col("__y") * col("__y")), lit(0L)).as("__syy"))
    val n = col("n_pairs")
    val varX = n * col("__sxx") - col("__sx") * col("__sx")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    agg.select(
      n,
      col("chosen_longer"),
      when(n === 0L, lit(0.0d))
        .otherwise(col("chosen_longer").cast("double") / n.cast("double"))
        .as("chosen_longer_frac"),
      when(n === 0L, lit(0.0d))
        .otherwise(col("__sx").cast("double") / n.cast("double"))
        .as("mean_len_delta"),
      when(varX <= 0L || varY <= 0L, lit(0.0d))
        .otherwise((n * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
          (sqrt(varX.cast("double")) * sqrt(varY.cast("double"))))
        .as("margin_len_corr"))
  }

  /** Bradley–Terry strength fitting over pairwise outcomes (the
    * reward-model / leaderboard step AFTER pair construction: turn
    * "A beat B" rows into one scalar strength per item), via `iters`
    * rounds of the minorization–maximization update (Hunter 2004,
    * "MM algorithms for generalized Bradley–Terry models") in FIXED-
    * POINT INTEGER arithmetic — the [[graft.operators.Graphs.hitsInt]]
    * discipline: scaled-long strengths, integer division, integer
    * sums, and a max-normalize per round, so every round is exact,
    * aggregation-order-independent, and replays bit-for-bit on any
    * engine, partitioning, or retry. Float BT differs in the last ulp
    * per aggregation order; the integer face is the oracle-gateable
    * one, accurate to ~1/scale per round — far below any ranking
    * decision made with a strength score.
    *
    * Per round, with v(i) the scaled strength (v₀ = scale):
    *
    *   den(i) = Σ_{j : games(i,j)>0}  (n_ij·scale²) div (v(i)+v(j))
    *   raw(i) = (W_i·scale²) div den(i)       (0 if W_i = 0)
    *   v(i)   = (raw(i)·scale) div max(raw)   (strongest item ≡ scale)
    *
    * Items with zero wins settle at 0 (the MM fixed point when the
    * comparison graph is not strongly connected — BT's standard
    * caveat applies: strengths are only jointly identified within a
    * strongly connected component, and the max-normalize pins the
    * global scale in all cases). A pair whose BOTH endpoints have
    * reached 0 contributes 0 to the denominator — its games can only
    * be between zero-win items, whose raw is 0 regardless.
    *
    * Overflow contract (documented like hitsInt's n·scale² bound):
    * `(games involving any single item) · scale² < 2⁶³` — at the
    * default scale=10⁶, up to ~9.2·10⁶ games per item.
    *
    * Scale shape: the symmetric pair-count table (2 rows per undirected
    * pair) and the win counts are built ONCE and pinned — each round
    * pays two broadcast-or-shuffle hash joins (strengths are a 2-column
    * frame, the narrowest shuffle payload) plus one aggregate keyed by
    * item; each round ends in an [[Iterate.maxNormalize]], so the plan
    * stays bounded in `iters`. Pin lifetime: the
    * [[graft.operators.Graphs.pageRankInt]] convention.
    *
    * Output: `(item_id, wins, games, strength)` — wins/games are the
    * exact per-item tallies, strength the round-`iters` scaled long.
    */
  def bradleyTerryInt(
      games: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "bradleyTerryInt needs at least one iteration")
    require(scale >= 1000L, "scale under 1000 makes integer division too lossy")
    val g = games.select(col(winnerCol).as("__w"), col(loserCol).as("__l"))
    // symmetric per-ordered-pair game counts: one (a, b, n) row per
    // direction, so each item's denominator is one groupBy over its rows
    val pairs = Caches.pin(g.select(col("__w").as("__a"), col("__l").as("__b"))
      .unionAll(g.select(col("__l").as("__a"), col("__w").as("__b")))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n")))
    val wins = g.groupBy(col("__w").as("__wid")).agg(count(lit(1)).as("__wins"))
    val ids = pairs.select(col("__a").as("__id")).distinct()
      .join(wins, col("__id") === col("__wid"), "left")
      .select(col("__id"), coalesce(col("__wins"), lit(0L)).as("__W"))
      .transform(Iterate.cut) // small (one row per item); pins wins/ids once
    var v = ids.select(col("__id"), lit(scale).as("__s"))
    for (_ <- 1 to iters) {
      val den = pairs
        .join(v.select(col("__id").as("__ia"), col("__s").as("__sa")), col("__a") === col("__ia"))
        .join(v.select(col("__id").as("__ib"), col("__s").as("__sb")), col("__b") === col("__ib"))
        .select(
          col("__a"),
          when(col("__sa") + col("__sb") > 0,
            expr(s"(__n * ${scale}L * ${scale}L) div (__sa + __sb)"))
            .otherwise(lit(0L)).as("__t"))
        .groupBy(col("__a"))
        .agg(sum(col("__t")).as("__den"))
      v = Iterate.maxNormalize(
        ids
          .join(den, col("__id") === col("__a"), "left")
          .select(
            col("__id"),
            when(col("__W") === 0 || coalesce(col("__den"), lit(0L)) === 0, lit(0L))
              .otherwise(expr(s"(__W * ${scale}L * ${scale}L) div __den")).as("__raw")),
        scale)
    }
    val tally = pairs.groupBy(col("__a")).agg(sum(col("__n")).as("games"))
    ids
      .join(tally, col("__id") === col("__a"))
      .join(v.select(col("__id").as("__vid"), col("__s")), col("__id") === col("__vid"))
      .select(
        col("__id").as("item_id"),
        col("__W").as("wins"),
        col("games"),
        col("__s").as("strength"))
  }
}
