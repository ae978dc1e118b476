package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-flight planning for a join you cannot afford to run twice: at
  * 100 TB, committing a shuffle join on a guess is how a cluster loses
  * an afternoon. This module answers the three questions that decide a
  * join strategy BEFORE any full-width shuffle happens:
  *
  *   1. How many rows will the equi-join emit?
  *      [[estimateEquiJoinRows]] — count-min inner product. Each side
  *      compresses to a `depth × width` counter table in one scan with
  *      full map-side combine; the estimate is the minimum over depth
  *      rows of the bucket-wise count product. Deterministic and
  *      NEVER an underestimate: hash collisions only add mass, so
  *      `estimate ≥ true |A ⋈ B|` unconditionally, and the expected
  *      overestimate is ≤ |A|·|B| / width (Cormode & Muthukrishnan
  *      2005, "An improved data stream summary: the count-min sketch
  *      and its applications", §4.2).
  *   2. Which keys blow up? [[keyProducts]] — exact per-key frequency
  *      product, two key-bounded aggregations plus a join that is the
  *      SIZE OF THE KEY DOMAIN, not of the output. The single worst key
  *      is the salting decision.
  *   3. What should the join do? [[advise]] — one row combining both
  *      with exact side/key counts into a deterministic strategy call
  *      (broadcast / salt / shuffle) under caller thresholds.
  *
  * Every number is integer arithmetic over an INJECTABLE linear hash
  * family applied to a 48-bit md5 prefix — the q26c/q31c move — so an
  * external engine can rebuild the sketch tables bucket-for-bucket and
  * the whole report is oracle-gated end to end, estimate included.
  *
  * Scale contract: one scan per side for the sketch (shuffle bounded
  * by depth·width per partial), one key-shaped aggregation per side
  * for the products. Products and the estimate accumulate in
  * decimal(38,0) — two 10^12-row sides overflow a long.
  */
object JoinAdvisor {

  /** Counter-table geometry plus the per-row linear hash family
    * `h_d(x) = ((a_d·x + b_d) mod P) mod width`. Coefficients are data
    * — callers vary them per run if adversarial keys are a concern —
    * and every `a` must be in (0, P) so the product stays in a long
    * (x < P = 2^31−1, a < 2^31 ⇒ a·x < 2^62).
    */
  final case class CmParams(width: Int, rows: Seq[(Long, Long)]) {
    require(width > 0, "width must be positive")
    require(rows.nonEmpty, "need at least one hash row")
    rows.foreach { case (a, b) =>
      require(a > 0 && a < P, s"a must be in (0, $P): $a")
      require(b >= 0 && b < P, s"b must be in [0, $P): $b")
    }
    def depth: Int = rows.size
  }

  val P: Long = 2147483647L // 2^31 − 1, Mersenne prime

  /** Default geometry: ±|A|·|B|/4096 expected overestimate, 4 chances
    * to dodge a bad collision. 4·4096 counters ≈ 128 KB per side.
    */
  val defaultParams: CmParams = CmParams(
    width = 4096,
    rows = Seq((1103515245L, 12345L), (214013L, 2531011L),
      (69069L, 1L), (1664525L, 1013904223L)))

  /** The shared 48-bit key image: first 12 hex chars of md5 of the
    * key's string form, reduced mod P. Both halves are replayable in
    * any engine with md5 — the [[Privacy.corpusChecksum]] bridge.
    */
  def keyImage(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long") % P

  /** One side's counter table in long form: `(d, w, cnt)`, at most
    * depth·width rows regardless of input size. NULL keys are dropped —
    * they cannot match in an equi-join, so counting them would only
    * inflate the estimate. The explode-then-aggregate shape partial-
    * aggregates before the exchange: the shuffle carries ≤ depth·width
    * rows PER PARTITION, never depth× the data.
    */
  def cmSketch(df: DataFrame, keyCol: String, params: CmParams = defaultParams): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .select(keyImage(col(keyCol)).as("__x"), lit(1L).as("__wt"))
      .transform(weightedSketch(params))

  /** The ONE definition of the counter-table build: explode the per-row
    * bucket records over a pre-hashed `__x`, partial-aggregate the `__wt`
    * weights. Raw rows weigh 1; per-key count tables weigh their counts —
    * identical counters either way, which is the law `advise` rests on.
    */
  private def weightedSketch(params: CmParams)(xs: DataFrame): DataFrame = {
    val dw = params.rows.zipWithIndex.map { case ((a, b), d) =>
      struct(
        lit(d).as("d"),
        (((lit(a) * col("__x") + lit(b)) % P) % params.width).cast("int").as("w"))
    }
    xs.select(explode(array(dw: _*)).as("dw"), col("__wt"))
      .groupBy(col("dw.d").as("d"), col("dw.w").as("w"))
      .agg(sum("__wt").as("cnt"))
  }

  /** The ONE definition of the estimate tail: bucket-wise count products
    * per depth row, missing depth rows re-attached at 0 (a zero-overlap
    * row proves the join empty and must win the min), min over rows.
    */
  private def innerProductEstimate(l: DataFrame, r: DataFrame, params: CmParams): DataFrame = {
    val ip = l.withColumnRenamed("cnt", "cnt_l")
      .join(r.withColumnRenamed("cnt", "cnt_r"), Seq("d", "w"))
      .groupBy("d")
      .agg(sum(col("cnt_l").cast("decimal(19,0)") * col("cnt_r").cast("decimal(19,0)"))
        .as("ip"))
    l.sparkSession.range(params.depth).select(col("id").cast("int").as("d"))
      .join(ip, Seq("d"), "left")
      .agg(min(coalesce(col("ip"), lit(0))).cast("decimal(38,0)").as("est_rows"))
  }

  /** Inner-join cardinality estimate as one row `(est_rows)`:
    * `min_d Σ_w cntL[d,w]·cntR[d,w]`. The sketch join is depth·width
    * rows a side — broadcast territory at any corpus size. Guaranteed
    * `≥` the true inner equi-join row count (collisions only add).
    */
  def estimateEquiJoinRows(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      params: CmParams = defaultParams): DataFrame =
    innerProductEstimate(
      cmSketch(left, leftKey, params), cmSketch(right, rightKey, params), params)

  /** Exact per-key join contribution `(key, cnt_l, cnt_r, product)`
    * for keys present on BOTH sides: the inner join on this key emits
    * exactly `product` rows. Two key-bounded aggregations and a
    * key-domain-sized join — never the output-sized one being planned.
    */
  def keyProducts(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val l = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).cast("string").as("key")).agg(count(lit(1)).as("cnt_l"))
    val r = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).cast("string").as("key")).agg(count(lit(1)).as("cnt_r"))
    l.join(r, "key")
      .select(col("key"), col("cnt_l"), col("cnt_r"),
        (col("cnt_l").cast("decimal(19,0)") * col("cnt_r").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("product"))
  }

  /** The pre-flight report: ONE row.
    *
    * {{{ left_rows, right_rows, left_keys, right_keys, est_join_rows,
    *     max_key_product, hot_key, recommended }}}
    *
    * `recommended` is a deterministic function of the report's own
    * numbers under the caller's thresholds, in priority order:
    * broadcast the smaller side if it fits (`≤ broadcastRowsMax`),
    * else salt if one key alone would emit `≥ saltProductMin` rows,
    * else plain shuffle. `hot_key` breaks product ties by MIN key so
    * the row is reproducible bit-for-bit. No both-sides-NULL-key row
    * or empty-join special case survives: an empty key intersection
    * reports `max_key_product = 0` with a NULL `hot_key`.
    *
    * Scale shape: ONE scan per side. Every field derives from the
    * side's per-key count table — rows and distinct keys are its
    * trivial rollup, the key products are its pairwise join, and the
    * CM sketch buckets the SAME md5 key image weighted by the counts,
    * which lands counter-for-counter where the raw-scan sketch lands
    * (spec-pinned). The per-key tables pin for reuse across those
    * reads — call under [[Caches.inScope]] in long-lived sessions.
    */
  def advise(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      params: CmParams = defaultParams,
      broadcastRowsMax: Long = 10000000L,
      saltProductMin: Long = 100000000L): DataFrame = {
    def keyCounts(df: DataFrame, k: String): DataFrame =
      Caches.pin(df.filter(col(k).isNotNull)
        .groupBy(col(k).cast("string").as("key")).agg(count(lit(1)).as("cnt")))
    val lkc = keyCounts(left, leftKey)
    val rkc = keyCounts(right, rightKey)
    def sideStats(kc: DataFrame, rows: String, keys: String): DataFrame =
      // coalesce: an EMPTY side must report 0 rows, not NULL (a NULL
      // would null out every threshold comparison in `recommended`)
      kc.agg(coalesce(sum("cnt"), lit(0L)).as(rows), count(lit(1)).as(keys))
    val sides = sideStats(lkc, "left_rows", "left_keys")
      .crossJoin(sideStats(rkc, "right_rows", "right_keys"))
    val hot = lkc.withColumnRenamed("cnt", "cnt_l")
      .join(rkc.withColumnRenamed("cnt", "cnt_r"), "key")
      .select(col("key"),
        (col("cnt_l").cast("decimal(19,0)") * col("cnt_r").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("product"))
      .orderBy(desc("product"), asc("key"))
      .limit(1)
      .select(col("product").as("max_key_product"), col("key").as("hot_key"))
    val hotOrEmpty = hot.unionByName(
      hot.sparkSession.range(1).select(
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)").as("max_key_product"),
        lit(null).cast("string").as("hot_key")))
      .orderBy(desc("max_key_product"), asc("hot_key"))
      .limit(1)
    sides
      .crossJoin(estimateFromKeyCounts(lkc, rkc, params)
        .withColumnRenamed("est_rows", "est_join_rows"))
      .crossJoin(hotOrEmpty)
      .withColumn("recommended",
        when(col("left_rows") <= broadcastRowsMax &&
          col("left_rows") <= col("right_rows"), lit("broadcast_left"))
          .when(col("right_rows") <= broadcastRowsMax, lit("broadcast_right"))
          .when(col("max_key_product") >= lit(saltProductMin), lit("salt_hot_keys"))
          .otherwise(lit("shuffle_hash")))
  }

  /** The same estimate as [[estimateEquiJoinRows]], computed off per-key
    * `(key, cnt)` tables instead of raw rows: each distinct key buckets
    * through the identical md5 image and contributes its count as
    * WEIGHT, so the counter tables — and therefore the estimate — agree
    * value-for-value with the raw-scan path (spec-pinned). This is what
    * lets [[advise]] touch each side once.
    */
  private def estimateFromKeyCounts(
      lkc: DataFrame, rkc: DataFrame, params: CmParams): DataFrame = {
    def sketch(kc: DataFrame): DataFrame =
      kc.select(keyImage(col("key")).as("__x"), col("cnt").as("__wt"))
        .transform(weightedSketch(params))
    innerProductEstimate(sketch(lkc), sketch(rkc), params)
  }

  /** An [[advise]] verdict made executable: the strategy string plus the
    * inner-join frame built that way.
    */
  final case class AdvisedJoin(strategy: String, df: DataFrame)

  /** Advise, then EXECUTE the advised inner join — the report made
    * actionable in one call. Broadcast branches hint the small side
    * explicitly (never trust the size estimator with a frame that hasn't
    * been scanned); the salt branch salts the side whose single
    * worst key carries more rows (splitting the other side mitigates
    * nothing — two extra key-bounded aggs buy that decision) with a
    * deterministic payload-hash salt and explodes the other side to
    * match (the [[Salt]] move, generalized to differing key names);
    * the fallback is the plain shuffled join.
    *
    * Contract: INNER equi-join; the two frames' column names must be
    * disjoint (both key columns survive into the output, so even the
    * keys may not collide). Output columns are `left ++ right` order
    * regardless of which branch ran — every strategy returns the SAME
    * frame, row-for-row (spec-pinned). The advise row is one bounded
    * driver collect; at 100 TB that is two scans + two key-shaped aggs
    * spent to avoid mis-planning the output-sized one.
    */
  def executeAdvised(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      params: CmParams = defaultParams,
      broadcastRowsMax: Long = 10000000L,
      saltProductMin: Long = 100000000L,
      saltFactor: Int = 8): AdvisedJoin = {
    require(saltFactor > 0, "saltFactor must be positive")
    val overlap = left.columns.toSet intersect right.columns.toSet
    require(overlap.isEmpty,
      s"left/right column names must be disjoint, both share: ${overlap.mkString(", ")}")
    // the advise pins live only for this one collect — the verdict row is
    // fully materialized before the join plan is built, so the per-key
    // count tables release immediately (the quantileNormalize scope
    // lesson: an operator that pins must not outlive its own read)
    val strategy = Caches.scoped {
      advise(left, leftKey, right, rightKey, params, broadcastRowsMax, saltProductMin)
        .select("recommended").collect()(0).getString(0)
    }
    val cond = left(leftKey) === right(rightKey)
    val outCols = (left.columns.map(left(_)) ++ right.columns.map(right(_))).toIndexedSeq
    val joined = strategy match {
      case "broadcast_left" => right.join(broadcast(left), cond)
      case "broadcast_right" => left.join(broadcast(right), cond)
      case "salt_hot_keys" =>
        // salt the side whose single worst key carries MORE rows — the
        // multiplicity being split is per-side, and salting the wrong
        // side pays saltFactor× replication for zero skew relief (the
        // round-13 review catch). Two key-bounded scalar aggs, spent
        // only on this branch, ahead of the output-sized join.
        def maxKeyCnt(df: DataFrame, k: String): Long = {
          val r = df.filter(col(k).isNotNull)
            .groupBy(col(k)).agg(count(lit(1)).as("c"))
            .agg(max("c")).collect()(0)
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        val saltLeftSide = maxKeyCnt(left, leftKey) >= maxKeyCnt(right, rightKey)
        val (big, bigKey, small, smallKey) =
          if (saltLeftSide) (left, leftKey, right, rightKey)
          else (right, rightKey, left, leftKey)
        // deterministic payload-hash salt (reruns salt identically — no
        // rand()); the small side replicates saltFactor×
        val saltCol = "__graft_advisor_salt"
        val payload = big.columns.filterNot(_ == bigKey).map(col)
        val basis = if (payload.nonEmpty) payload.toIndexedSeq
          else IndexedSeq(col(bigKey))
        val bs = big.withColumn(saltCol,
          pmod(xxhash64(basis: _*), lit(saltFactor.toLong)).cast("int"))
        val se = small.withColumn(saltCol,
          explode(sequence(lit(0), lit(saltFactor - 1))))
        bs.join(se, bs(bigKey) === se(smallKey) && bs(saltCol) === se(saltCol))
          .drop(bs(saltCol)).drop(se(saltCol))
      case _ => left.join(right, cond)
    }
    AdvisedJoin(strategy, joined.select(outCols: _*))
  }

  /** Persist one shard's counter table under `storePath/shard=<shard>`
    * (overwrite — re-ingesting a shard is idempotent). Counters are a
    * SEMIGROUP: addition merges shards losslessly, so sketch once at
    * ingest and every later estimate is a KB-scale read — the corpus is
    * never rescanned to plan a join against it. Geometry rides along as
    * audit columns so a store can refuse a mismatched merge.
    */
  def writeSketchShard(
      df: DataFrame, keyCol: String, params: CmParams,
      storePath: String, shard: String): Unit = {
    require(shard.nonEmpty && !shard.contains("/"), s"bad shard id: '$shard'")
    cmSketch(df, keyCol, params)
      .withColumn("width", lit(params.width))
      .withColumn("depth", lit(params.depth))
      .write.mode("overwrite").parquet(s"$storePath/shard=$shard")
  }

  /** Fold every shard of a store back into one counter table, refusing
    * mixed geometry (differing width/depth means differing hash images —
    * adding those counters would be silent garbage; differing (a,b)
    * coefficients under the same geometry are on the caller, exactly as
    * with any keyed sketch store).
    */
  def mergeSketchStore(
      spark: org.apache.spark.sql.SparkSession, storePath: String,
      expect: Option[CmParams] = None): DataFrame = {
    val raw = spark.read.parquet(storePath)
    val geoms = raw.select("width", "depth").distinct().collect() // ≤ #geometries by contract
    require(geoms.length == 1,
      s"sketch store $storePath mixes geometries: " +
        geoms.map(g => s"${g.get(0)}x${g.get(1)}").mkString(", "))
    expect.foreach { p =>
      require(geoms(0).getInt(0) == p.width && geoms(0).getInt(1) == p.depth,
        s"store $storePath geometry ${geoms(0).getInt(0)}x${geoms(0).getInt(1)} " +
          s"!= params ${p.width}x${p.depth}")
    }
    raw.groupBy("d", "w").agg(sum("cnt").as("cnt"))
  }

  /** The join-cardinality estimate straight from two persisted stores —
    * no scan of either corpus. Merge is exact (counter addition), so
    * this equals [[estimateEquiJoinRows]] over the concatenated shards
    * bit-for-bit (spec-pinned law). `params` must be the family both
    * stores were written with; geometry is cross-checked against the
    * stored audit columns.
    */
  def estimateFromStores(
      spark: org.apache.spark.sql.SparkSession,
      storeL: String, storeR: String,
      params: CmParams): DataFrame =
    innerProductEstimate(
      mergeSketchStore(spark, storeL, Some(params)),
      mergeSketchStore(spark, storeR, Some(params)), params)
}
