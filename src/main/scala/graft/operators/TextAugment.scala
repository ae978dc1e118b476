package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic text augmentation for denoising-objective training data
  * (the T5 span-corruption recipe — Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning…", §3.1.4 — simplified to an unnumbered
  * sentinel and restated): every masking decision is a PURE FUNCTION of
  * `(id, position, seed)` through the injectable linear-mod-P hash
  * family (the q26c bridge), so re-runs, retries, and external engines
  * reproduce the corrupted corpus byte-for-byte — augmentation that
  * changes under recomputation silently breaks loss-curve comparisons
  * between runs that believe they trained on the same data.
  *
  * Everything is codegen'd array builtins over the token array — zero
  * shuffle, zero UDFs. Per-row cost is O(tokens · spanLen) for the
  * windowed mask test; spanLen is a small constant by construction.
  */
object TextAugment {

  val P: Long = 2147483647L
  val Mask = "<mask>"

  private def isStart(id: Column, j: Column, seed: Long, permille: Int): Column =
    pmod(id * 1103515245L + j * 12345L + seed, lit(P)) % 1000L < permille

  /** Independent per-token deletion at `dropPermille`/1000: the
    * word-dropout robustness augmentation. Deterministic per
    * (id, position, seed); emits the surviving tokens.
    */
  def tokenDropout(
      df: DataFrame, idCol: String, tokensCol: String,
      dropPermille: Int, seed: Long): DataFrame = {
    require(dropPermille >= 0 && dropPermille < 1000,
      s"dropPermille out of [0, 1000): $dropPermille")
    val toks = col(tokensCol)
    val n = size(toks)
    val pos = when(n > 0, sequence(lit(0), n - 1))
      .otherwise(array().cast("array<int>"))
    df.withColumn("kept_tokens",
      flatten(transform(pos, i =>
        when(isStart(col(idCol), i, seed, dropPermille), array())
          .otherwise(array(element_at(toks, i + 1))))))
  }

  /** SPAN CORRUPTION: positions where the hash fires open a mask span of
    * `spanLen` tokens (overlapping spans merge into one run). Each
    * maximal masked run collapses to ONE `<mask>` sentinel in
    * `input_tokens`; `target_tokens` carries the removed tokens with a
    * `<mask>` opener per run — the (input, target) pair a denoising
    * objective trains on. `n_masked` counts removed tokens, the
    * corruption-rate audit column.
    *
    * Expected corruption rate ≈ startPermille/1000 · spanLen (before
    * overlap merging) — tune `startPermille` down as `spanLen` grows.
    */
  def spanCorrupt(
      df: DataFrame, idCol: String, tokensCol: String,
      startPermille: Int, spanLen: Int, seed: Long): DataFrame = {
    require(startPermille >= 0 && startPermille < 1000,
      s"startPermille out of [0, 1000): $startPermille")
    require(spanLen >= 1, "spanLen must be positive")
    val toks = col(tokensCol)
    val id = col(idCol)
    val n = size(toks)
    val pos = when(n > 0, sequence(lit(0), n - 1))
      .otherwise(array().cast("array<int>"))
    def maskedAt(i: Column): Column =
      exists(sequence(greatest(lit(0), i - (spanLen - 1)), i),
        j => isStart(id, j, seed, startPermille))
    def prevMasked(i: Column): Column =
      i > 0 && exists(sequence(greatest(lit(0), i - spanLen), i - 1),
        j => isStart(id, j, seed, startPermille))
    // ONE per-position pass emits (input-part, target-part, masked-bit);
    // the parts array is then referenced only through a transform lambda
    // slot (the repetitionRatio single-eval discipline) so the O(n·L)
    // window test runs once per row, not once per consumer.
    val parts = transform(pos, i => {
      val tok = element_at(toks, i + 1)
      val m = maskedAt(i)
      val boundary = m && !prevMasked(i)
      struct(
        when(boundary, array(lit(Mask)))
          .when(m, array())
          .otherwise(array(tok)).as("inp"),
        when(boundary, array(lit(Mask), tok))
          .when(m, array(tok))
          .otherwise(array()).as("tgt"),
        m.cast("int").as("m"))
    })
    val packed = element_at(
      transform(array(parts), ps => struct(
        flatten(transform(ps, p => p.getField("inp"))).as("input_tokens"),
        flatten(transform(ps, p => p.getField("tgt"))).as("target_tokens"),
        aggregate(ps, lit(0L), (acc, p) => acc + p.getField("m")).as("n_masked"))),
      1)
    df.withColumn("input_tokens", packed.getField("input_tokens"))
      .withColumn("target_tokens", packed.getField("target_tokens"))
      .withColumn("n_masked", packed.getField("n_masked"))
  }

  /** Needle insertion — the needle-in-a-haystack long-context eval
    * prep: plant `needle` at a hash-uniform character position per
    * document and RECORD the position and depth fraction, so recall
    * can later be scored against where the needle actually sits.
    * Deterministic per (id, seed) through the linear-mod-P bridge
    * (an eval set whose needle positions move under recomputation is
    * not an eval set). NULL text stays NULL; `depth_frac` is one
    * fixed double over two integers (0.0 for empty documents).
    * Output: input columns + `needle_pos, depth_frac,
    * text_with_needle`. Zero shuffle, zero UDFs.
    */
  def insertNeedle(
      df: DataFrame, idCol: String, textCol: String,
      needle: String, seed: Long): DataFrame = {
    require(needle.nonEmpty, "an empty needle scores every haystack")
    val id = col(idCol)
    val text = col(textCol)
    val len = length(text)
    val pos = (pmod(id * 1103515245L + seed, lit(P)) % (len + 1).cast("long")).cast("int")
    df
      .withColumn("needle_pos", when(text.isNotNull, pos.cast("long")))
      .withColumn("depth_frac",
        when(text.isNull, lit(null).cast("double"))
          .when(len === 0, lit(0.0d))
          .otherwise(col("needle_pos").cast("double") / len.cast("double")))
      .withColumn("text_with_needle",
        when(text.isNotNull,
          concat(text.substr(lit(1), col("needle_pos").cast("int")), lit(needle),
            text.substr(col("needle_pos").cast("int") + 1, len - col("needle_pos").cast("int")))))
  }

  /** FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle"):
    * a hash-chosen `fimPermille`/1000 of documents split at two
    * hash-uniform character positions into (prefix, middle, suffix)
    * and re-serialize in PSM order —
    *
    *   `<fim_prefix>` prefix `<fim_suffix>` suffix `<fim_middle>` middle
    *
    * — so the model learns infilling while the untransformed share
    * preserves left-to-right quality (the paper's 50/50 default).
    * Every decision — the apply coin and both cut points — is a pure
    * function of `(id, seed)` through the same linear-mod-P bridge as
    * [[spanCorrupt]]: recomputation, retries, and any partitioning
    * reproduce the identical corpus, the property loss-curve
    * comparisons rest on. Untransformed rows emit `fim_text = text`
    * with NULL parts; NULL text stays NULL (quarantine, not '' —
    * a missing document must not become an empty training row).
    * Cut points are CHARACTER offsets (`substring` semantics on both
    * engines); zero shuffle, zero UDFs.
    */
  def fimSplit(
      df: DataFrame, idCol: String, textCol: String,
      fimPermille: Int, seed: Long): DataFrame = {
    require(fimPermille >= 0 && fimPermille <= 1000,
      s"fimPermille out of [0, 1000]: $fimPermille")
    val id = col(idCol)
    val text = col(textCol)
    val len = length(text)
    def h(j: Int): Column = pmod(id * 1103515245L + lit(j) * 12345L + seed, lit(P))
    val applied = text.isNotNull && (h(0) % 1000L < fimPermille)
    val c1 = (h(1) % (len + 1).cast("long")).cast("int")
    val c2 = (h(2) % (len + 1).cast("long")).cast("int")
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val prefix = text.substr(lit(1), lo)
    val middle = text.substr(lo + 1, hi - lo)
    val suffix = text.substr(hi + 1, len - hi)
    df
      .withColumn("fim_applied", applied)
      .withColumn("fim_prefix", when(applied, prefix))
      .withColumn("fim_middle", when(applied, middle))
      .withColumn("fim_suffix", when(applied, suffix))
      .withColumn("fim_text",
        when(applied, concat(
          lit("<fim_prefix>"), prefix,
          lit("<fim_suffix>"), suffix,
          lit("<fim_middle>"), middle))
          .otherwise(text))
  }
}
