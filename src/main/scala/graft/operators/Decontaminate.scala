package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: measure and remove n-gram overlap between a
  * training corpus and an evaluation set. Standard practice for training
  *-data pipelines — a training document that contains an eval benchmark's
  * n-grams leaks the test set into the model — and a first-class sibling
  * of dedup: same shingle machinery, but the comparison is corpus × a
  * SMALL fixed set, so the scale shape is a broadcast semi-join instead
  * of an LSH self-join.
  *
  * Mechanics: the benchmark's distinct word n-grams (hashed to 64-bit by
  * the same native [[graft.expressions.ShingleHashesExpr]] the dedup
  * pipeline uses) form one small broadcast set; each corpus document
  * counts how many of its OWN distinct n-grams appear in that set. Cost
  * at 100 TB: one corpus scan, zero shuffles on the corpus side (the
  * per-doc counts aggregate inside the scan stage; the only exchange
  * carries one row per document). Hashing note: counts are over 64-bit
  * n-gram hashes, identical to string-n-gram counts up to negligible
  * collisions — the same exactness argument as [[Dedup.minHashDedupPairs]]
  * verification.
  */
object Decontaminate {

  /** Per-document overlap profile against `bench`:
    * (id, doc_ngrams, hit_ngrams, contamination) where `doc_ngrams` is
    * the document's distinct n-gram count, `hit_ngrams` how many of those
    * appear anywhere in the benchmark, and `contamination` their ratio.
    * NULL text yields NULL counts/ratio (overlap with an absent document
    * is undefined), mirroring the dedup pipeline's null contract.
    *
    * `n` defaults to 13 — the overlap window common in published training
    *-data decontamination setups; short-document semantics follow
    * [[graft.functions.text.shingles]] (a document shorter than `n`
    * tokens contributes its whole token sequence as one n-gram, so tiny
    * docs still participate instead of silently never matching).
    */
  def overlap(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13): DataFrame = {
    // Distinct benchmark n-gram hashes: tiny (an eval set is KBs–MBs of
    // text), deduplicated before the broadcast so the build side is
    // minimal. array_except against it runs per-row inside the scan —
    // the corpus side needs no join at all, hence no shuffle.
    val benchSh = bench
      .select(explode(Dedup.shingleHashes(col(benchTextCol), n)).as("h"))
      .distinct()
    // The per-doc shingle set is computed ONCE (single native-expression
    // column); hits derive from it via a broadcast LEFT SEMI join of the
    // exploded set — the aggregate collapses back to one row per doc
    // before the only exchange.
    val sh = Caches.pin(
      Partitioning.spread(docs)
        .select(col(idCol).as("id"), Dedup.shingleHashes(col(textCol), n).as("sh")))
    val perDoc = sh.select(col("id"), size(col("sh")).cast("long").as("doc_ngrams"))
    val hits = sh
      .select(col("id"), explode(col("sh")).as("h"))
      .join(broadcast(benchSh), Seq("h"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("hit_ngrams"))
    perDoc
      .join(hits, Seq("id"), "left")
      .select(
        col("id"),
        col("doc_ngrams"),
        when(col("doc_ngrams").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("hit_ngrams"), lit(0L))).as("hit_ngrams"),
        (coalesce(col("hit_ngrams"), lit(0L)).cast("double") / col("doc_ngrams"))
          .as("contamination"))
  }

  /** Corpus rows whose contamination stays at or below `maxRatio` — the
    * frame a pipeline ships to training. NULL-text rows (undefined
    * contamination) are dropped: an unmeasurable document must not slip
    * through a filter whose whole point is a guarantee.
    */
  def clean(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      maxRatio: Double = 0.05): DataFrame = {
    val keep = overlap(docs, textCol, idCol, bench, benchTextCol, n)
      .where(col("contamination") <= maxRatio)
      .select(col("id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Corpus-level n-gram overlap audit between GROUPS of one corpus
    * (sources, snapshots, language slices): for every ordered pair
    * (group_a, group_b) of distinct groups, the distinct-n-gram counts
    * of both sides, the shared count, and the containment
    * `shared / grams_a` — the corpus-granularity contamination report
    * (how much of source A's n-gram inventory also lives in B) that
    * complements [[overlap]]'s doc-granularity benchmark check. Zero-
    * overlap pairs are PRESENT with shared 0 — an audit that silently
    * omits the clean pairs reads as incomplete coverage.
    *
    * Scale shape: all-pairs in GROUP space, never doc space. One
    * exchange builds the distinct (group, gram) inventory (per-doc
    * `array_distinct` bounds the explode); the pair counts come from a
    * gram-keyed self-join whose per-gram output is ≤ |groups|² rows —
    * bounded by contract (groups are sources/slices, a small set), so
    * even a gram present everywhere cannot blow up. The inventory is
    * pinned: totals and the pair join both read it, with the
    * [[Graphs.pageRankInt]] pin lifetime (the returned frame references
    * the pin lazily, so this operator cannot release it). String grams
    * keep the audit oracle-exact; swap in
    * [[graft.expressions.ShingleHashesExpr]] 64-bit grams at production
    * scale (the [[overlap]] note — collisions are negligible and the
    * inventory shrinks to fixed-width keys).
    *
    * Empty documents have no n-gram identity: a whitespace-only text
    * shingles to the single empty gram, and two clean sources each
    * carrying one blank doc would otherwise report a phantom shared
    * gram — the empty gram is dropped from the inventory alongside
    * NULL text.
    */
  def corpusOverlap(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      n: Int = 8): DataFrame = {
    require(n > 0, "n-gram size must be positive")
    val grams = Caches.pin(Partitioning.spread(docs)
      .where(col(textCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        explode(array_distinct(graft.functions.text.shingles(lower(col(textCol)), n)))
          .as("gram"))
      .where(col("gram") =!= "")
      .distinct())
    val totals = grams.groupBy("grp").agg(count(lit(1)).as("n_grams"))
    val pairs = grams.select(col("grp").as("group_a"), col("gram"))
      .join(grams.select(col("grp").as("group_b"), col("gram")), Seq("gram"))
      .where(col("group_a") =!= col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("shared"))
    val ta = totals.select(col("grp").as("group_a"), col("n_grams").as("grams_a"))
    val tb = totals.select(col("grp").as("group_b"), col("n_grams").as("grams_b"))
    ta.crossJoin(broadcast(tb))
      .where(col("group_a") =!= col("group_b"))
      .join(pairs, Seq("group_a", "group_b"), "left")
      .select(
        col("group_a"), col("group_b"), col("grams_a"), col("grams_b"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        (coalesce(col("shared"), lit(0L)).cast("double") / col("grams_a").cast("double"))
          .as("containment"))
  }

  /** SCAN-ONCE sketch face of [[corpusOverlap]]: per-group datasketches
    * HLL sketches of the gram inventory, pairwise intersection by
    * inclusion–exclusion (`|A∩B| ≈ |A| + |B| − |A∪B|`, union being the
    * operation HLL merges losslessly). Same schema as the exact face
    * with `_est` semantics: (group_a, group_b, grams_a, grams_b,
    * shared, containment).
    *
    * What it buys at 100 TB: the exact face pays a distinct
    * (group, gram) inventory exchange plus a gram-keyed self-join; this
    * face is ONE aggregation — no distinct (HLL dedups inherently), no
    * join, KB of state per group riding Spark's partial/final merge
    * tree — and the pairwise arithmetic happens over |groups|² sketch
    * pairs, corpus-blind.
    *
    * Error contract: each estimate carries HLL stderr (~1.04/√2^lgK ≈
    * 1.6% at lgK 12), and inclusion–exclusion COMPOUNDS three of them —
    * the shared estimate's absolute error scales with the LARGER
    * inventory, so a tiny true overlap between huge corpora can
    * disappear into noise (clamped at 0, never negative). Use this to
    * rank pairs for investigation; confirm suspicious ones with the
    * exact face (DecontaminateSpec pins the agreement band against
    * q108's exact twin — the q10b/q38b discipline).
    */
  def corpusOverlapSketch(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      n: Int = 8,
      lgK: Int = 12): DataFrame = {
    require(n > 0, "n-gram size must be positive")
    require(lgK >= 4 && lgK <= 21, s"lgK out of datasketches range: $lgK")
    val grams = Partitioning.spread(docs)
      .where(col(textCol).isNotNull)
      .select(
        col(groupCol).as("grp"),
        explode(array_distinct(graft.functions.text.shingles(lower(col(textCol)), n)))
          .as("gram"))
      .where(col("gram") =!= "")
    val sk = grams.groupBy("grp")
      .agg(hll_sketch_agg(col("gram"), lit(lgK)).as("sk"))
    val a = sk.select(col("grp").as("group_a"), col("sk").as("__sa"))
    val b = sk.select(col("grp").as("group_b"), col("sk").as("__sb"))
    a.crossJoin(broadcast(b))
      .where(col("group_a") =!= col("group_b"))
      .withColumn("grams_a", hll_sketch_estimate(col("__sa")))
      .withColumn("grams_b", hll_sketch_estimate(col("__sb")))
      .withColumn("shared",
        greatest(lit(0L),
          col("grams_a") + col("grams_b") -
            hll_sketch_estimate(hll_union(col("__sa"), col("__sb")))))
      .withColumn("containment",
        when(col("grams_a") === 0L, lit(0.0))
          .otherwise(col("shared").cast("double") / col("grams_a").cast("double")))
      .select("group_a", "group_b", "grams_a", "grams_b", "shared", "containment")
  }
}
