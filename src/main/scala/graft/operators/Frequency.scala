package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Heavy-hitter detection at corpus scale.
  *
  * The naive form — groupBy(item).count().where(count >= minCount) —
  * shuffles EVERY distinct item: at 100 TB of text that is billions of
  * distinct tokens moving through an exchange to produce a result with a
  * few thousand rows. The two-pass form here never shuffles the long tail:
  *
  *   pass 1  [[graft.expressions.MisraGriesAgg]] — one k-counter mergeable
  *           summary per partition, combined up a normal partial/final
  *           aggregate tree; O(k) state, no key shuffle. Any item with
  *           count > n/(k+1) is guaranteed present (see MisraGriesAgg).
  *   pass 2  exact counts of the ≤ k candidates only: the filter
  *           `item IN (candidates)` prunes the scan output BEFORE the
  *           exchange, so the groupBy shuffles at most k distinct keys.
  *
  * The result is EXACT (not approximate) whenever the sketch is large
  * enough for the threshold — `minCount > n/(k+1)` — which [[heavyHitters]]
  * enforces with a loud failure rather than a silently incomplete answer.
  * (This is the standard candidate-then-verify shape the dedup operators
  * use too: bounded candidate generation, exact verification.)
  */
object Frequency {

  /** One-pass bounded summary: (total item count, candidates with their
    * surviving undercounts, sorted by count desc then item).
    */
  def mgSummary(df: DataFrame, item: Column, k: Int): (Long, Seq[(String, Long)]) = {
    val agg = graft.expressions.MisraGriesAgg(ColumnBridge.eagerExpression(item), k)
      .toAggregateExpression()
    val row = df.agg(ColumnBridge.column(agg).as("mg")).head.getStruct(0)
    val items = row.getSeq[Row](1).map(r => r.getString(0) -> r.getLong(1))
    (row.getLong(0), items)
  }

  /** Exact items with count >= minCount, computed without shuffling the
    * distinct-item long tail. Output: (item, n), one row per heavy hitter.
    *
    * `sketchK` is the memory/threshold dial: exactness requires
    * `minCount > n/(sketchK+1)` (checked — raise sketchK or minCount if it
    * trips). The default 4096 counters cover minCount down to ~0.025% of
    * the corpus.
    *
    * STABILITY CONTRACT: this runs TWO separate jobs over `df` (the sketch
    * pass, then the exact count of its candidates), and the EXACT guarantee
    * holds only if both passes observe the same rows. A deterministic
    * lineage over immutable files — the normal case — satisfies that for
    * free. A nondeterministic source (fresh `rand()`, a re-rolled sample, a
    * table overwritten between the two actions) silently breaks it: a
    * candidate found by pass 1 is then counted against DIFFERENT data in
    * pass 2. For such frames, pin first: `pinned = Caches.pin(df)` (or a
    * plain persist), run heavyHitters on the pinned frame, release after.
    * This is deliberately NOT done internally — on the 100 TB scan-shaped
    * inputs this operator exists for, an implicit full-corpus cache would
    * cost more than both passes combined.
    */
  def heavyHitters(
      df: DataFrame,
      itemCol: String,
      minCount: Long,
      sketchK: Int = 4096): DataFrame = {
    require(minCount > 0, "minCount must be positive")
    val (n, cand) = mgSummary(df, col(itemCol), sketchK)
    require(minCount.toDouble > n.toDouble / (sketchK + 1),
      s"sketchK=$sketchK cannot guarantee exactness for minCount=$minCount at n=$n " +
        s"(needs minCount > n/(k+1) = ${n / (sketchK + 1)}); raise sketchK")
    // ≤ k candidate literals: an InSet filter evaluated at the scan, so
    // only candidate rows reach the (now tiny, ≤ k keys) exchange.
    df.where(col(itemCol).isin(cand.map(_._1): _*))
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  // --- Count-Min: the estimate-side sketch ---

  /** Driver-side decoded Count-Min sketch. `estimate(item)` answers a point
    * frequency query for ANY item (not just survivors): the min across the
    * depth hash rows, always >= the true count, and <= true + e·n/width
    * with probability 1 − e^−depth. Merge is exact (element-wise sums), so
    * summaries from corpus shards, days, or streams combine losslessly.
    */
  final case class CmSummary(n: Long, width: Int, depth: Int, counters: Array[Long]) {
    def estimate(item: String): Long = {
      var best = Long.MaxValue
      var i = 0
      while (i < depth) {
        val c = counters(i * width + graft.expressions.CountMin.bucket(item, i, width))
        if (c < best) best = c
        i += 1
      }
      best
    }

    def merge(other: CmSummary): CmSummary = {
      require(width == other.width && depth == other.depth,
        "can only merge sketches of identical geometry")
      val out = new Array[Long](counters.length)
      var i = 0
      while (i < counters.length) { out(i) = counters(i) + other.counters(i); i += 1 }
      CmSummary(n + other.n, width, depth, out)
    }
  }

  /** Single-pass APPROXIMATE heavy hitters: both sketches ride ONE scan
    * (one agg computes MG and CM together), so unlike [[heavyHitters]]
    * there is no second exact-count job — the answer for when the corpus
    * is a stream or too expensive to scan twice. Recall is guaranteed
    * (MG keeps every item over n/(sketchK+1); CM only OVERcounts, so the
    * `est >= minCount` filter cannot drop a true heavy hitter when the MG
    * precondition `minCount > n/(sketchK+1)` holds — enforced like the
    * exact operator); precision is approximate (an item within ε·n below
    * minCount can slip in). Output: (item, est), est >= the true count.
    */
  def approxHeavyHitters(
      df: DataFrame,
      itemCol: String,
      minCount: Long,
      sketchK: Int = 4096,
      cmWidth: Int = 2048,
      cmDepth: Int = 5): DataFrame = {
    require(minCount > 0, "minCount must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val mgAgg = graft.expressions.MisraGriesAgg(ColumnBridge.eagerExpression(col(itemCol)), sketchK)
      .toAggregateExpression()
    val cmAgg = graft.expressions.CountMinAgg(ColumnBridge.eagerExpression(col(itemCol)), cmWidth, cmDepth)
      .toAggregateExpression()
    val row = df.agg(
      ColumnBridge.column(mgAgg).as("mg"),
      ColumnBridge.column(cmAgg).as("cm")).head
    val mg = row.getStruct(0)
    val n = mg.getLong(0)
    require(minCount.toDouble > n.toDouble / (sketchK + 1),
      s"sketchK=$sketchK cannot guarantee recall for minCount=$minCount at n=$n " +
        s"(needs minCount > n/(k+1) = ${n / (sketchK + 1)}); raise sketchK")
    val cmRow = row.getStruct(1)
    val cm = CmSummary(cmRow.getLong(0), cmRow.getInt(1), cmRow.getInt(2),
      cmRow.getSeq[Long](3).toArray)
    mg.getSeq[Row](1)
      .map(r => r.getString(0))
      .map(item => (item, cm.estimate(item)))
      .filter(_._2 >= minCount)
      .sortBy { case (item, est) => (-est, item) }
      .toDF("item", "est")
  }
}
