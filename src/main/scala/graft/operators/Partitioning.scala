package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Partition-count hygiene for compute-heavy per-row operators.
  *
  * A small parquet file arrives as ONE input split, so an expression-heavy
  * stage (minhash sketching, LSH signatures, simhash folds — thousands of
  * ops per row) runs on a single core no matter how many the cluster has.
  * `spread` round-robins such inputs up to the session's default
  * parallelism first; the shuffle moves only the raw rows (cheap) and buys
  * a full-width compute stage. Inputs that already have enough splits — the
  * 100 TB case — pass through untouched.
  *
  * The split estimate is METADATA-ONLY (file count from the scan
  * relations): calling `df.rdd.getNumPartitions` under AQE would
  * materialize every upstream exchange just to read a number, running the
  * caller's pipeline once for the count and again for real. Frames without
  * file-scan leaves (joins/aggregates as input) pass through unchanged —
  * their exchanges already restored parallelism.
  */
object Partitioning {

  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val scanFiles = df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.inputFiles.length
    }
    if (scanFiles.nonEmpty && scanFiles.sum < target) df.repartition(target) else df
  }

  /** Global running total WITHOUT a single-partition window.
    *
    * The textbook `sum().over(Window.orderBy(o))` puts the ENTIRE dataset
    * in one partition — the canonical window-function scale killer. This
    * is the classic two-phase prefix-sum instead:
    *
    *   1. range-partition by `orderCol` (global order across partitions,
    *      local order within);
    *   2. per-partition totals — numPartitions rows — collected to the
    *      driver and turned into per-partition prefix OFFSETS, shipped
    *      back as a literal map (broadcast for free in the plan);
    *   3. a window partitioned BY PARTITION ID (parallel, not global)
    *      computes the local running sum; offset + local = global.
    *
    * Cost: one range shuffle + one tiny job for the totals. The collect is
    * O(numPartitions), never O(rows). NOTE: calling this triggers that
    * small job eagerly (like ANN centroid training).
    *
    * `valueCol` must be integral (LongType result — integer prefix sums
    * are exact and order-independent; float running sums are neither: cast
    * upstream and accept approximation explicitly if needed).
    *
    * Duplicate `orderCol` values get ROWS-frame semantics: ties are broken
    * deterministically within one materialization by a row-identity tie
    * column that both the range partitioner and the window order on, so
    * ties straddling a partition boundary still accumulate one row at a
    * time in a single consistent global order. This differs from the
    * single-window RANGE default (which gives every peer the same
    * all-peers-inclusive total) — for a running total used to PACK (shard
    * budgeting), ROWS is the semantics you want; take max(running) per key
    * if peers-inclusive totals are needed.
    */
  def runningSum(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String = "running_total",
      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions._
    {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = df.schema(valueCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"runningSum needs an integral value column, got $dt")
    }
    val n =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // PINNED: repartitionByRange samples with a seed derived from the RDD
    // id, so a re-materialization can pick DIFFERENT range boundaries —
    // offsets computed against one partitioning would be applied to
    // another. The persist barrier fixes the boundaries (and partition
    // ids) once for both the totals job and the final pass; release via
    // Caches.release() like every operator pin. The __tie column gives
    // ties a total order the partitioner and the window agree on (stable
    // within the pinned materialization, which is the only one used).
    val ranged = Caches.pin(
      df.withColumn("__tie", monotonically_increasing_id())
        .repartitionByRange(n, col(orderCol), col("__tie"))
        .withColumn("__pid", spark_partition_id()))
    val partials = ranged
      .groupBy("__pid")
      // coalesce: an all-null partition sums to NULL, which would NPE the
      // driver-side unboxing below
      .agg(coalesce(sum(col(valueCol)), lit(0L)).as("__psum"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = partials.map { case (p, s) =>
      val o = acc; acc += s; p -> o
    }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(col(orderCol), col("__tie"))
    ranged
      .withColumn(outCol,
        sum(col(valueCol)).over(w) +
          coalesce(element_at(typedLit(offsets), col("__pid")), lit(0L)))
      .drop("__pid", "__tie")
  }

  /** Deterministic train/val/test (or any weighted) splitting by key hash.
    *
    * `randomSplit` is the textbook answer and the wrong one for training
    * data: it is nondeterministic across re-runs/retries (a recomputed
    * partition can re-roll its randoms), and it splits ROWS — two near-
    * duplicate documents, or two rows of the same source domain, can land
    * in train and test and leak. Hashing a stable KEY fixes both: the
    * assignment is a pure function of the key (reproducible on any
    * cluster, any partitioning, any day), and every row sharing the key
    * (all chunks of a document, all docs of a domain) lands in the same
    * split — group-coherent by construction.
    *
    * `weights` are normalized; `seed` selects an independent assignment
    * (resplitting with a new seed is a fresh deterministic shuffle).
    * Adds `outCol` with the split name; pure projection — no shuffle, no
    * sampling pass, fully codegen'd (xxhash64 + a nested CASE).
    *
    * `uniform` defaults to the key-hash draw; injectable for the
    * systematic ANSI-reproducible form (the q88c/q60c pattern — q48c).
    * An oracle must mirror the cut arithmetic EXPRESSION-for-expression
    * (`w₁/Σw`, then `w₁/Σw + w₂/Σw`, …): the running float sum is not
    * the decimal it prints as, and a hand-written literal boundary will
    * disagree for keys landing exactly on it.
    */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      weights: Seq[(String, Double)],
      seed: Int = 42,
      outCol: String = "split",
      uniform: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val uniformDraw = uniform // capture before the wildcard import (functions.uniform shadows)
    import org.apache.spark.sql.functions._
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size, "split names must be unique")
    val total = weights.map(_._2).sum
    val u = uniformDraw.getOrElse(hashUniform(keyCol, seed))
    val cuts = weights.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val assign = weights.map(_._1).zip(cuts).init
      .foldRight(lit(weights.last._1): org.apache.spark.sql.Column) {
        case ((name, cut), rest) => when(u < cut, name).otherwise(rest)
      }
    df.withColumn(outCol, assign)
  }

  /** Deterministic key-hash sampling: keep every row whose key hashes
    * under `fraction`. Same contracts as [[hashSplit]] (it is the same
    * uniform): reproducible across runs/retries/partitionings, group-
    * coherent (all rows of a key kept or dropped together), zero shuffle,
    * and the filter evaluates at the scan. Down-weighting one source in a
    * training mixture is `hashSample(docs, "domain", 0.3)` — and because
    * a key's draw is fixed per seed, `fraction = 0.3` keeps a SUBSET of
    * the keys `fraction = 0.5` keeps: nested mixtures stay consistent
    * as weights are tuned.
    */
  def hashSample(
      df: DataFrame,
      keyCol: String,
      fraction: Double,
      seed: Int = 42): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    df.where(hashUniform(keyCol, seed) < fraction)
  }

  /** Deterministic per-stratum sampling: keep each row with the fraction
    * configured for its stratum (e.g. down-weight overrepresented
    * domains/languages in a training mixture), with the same guarantees
    * as [[hashSample]] — reproducible, group-coherent on `keyCol`, zero
    * shuffle, nested subsets as any stratum's fraction is tuned (a key's
    * uniform draw is fixed per seed, so lowering 0.5 → 0.3 keeps a
    * subset, never a reshuffle). Strata not named in `fractions` fall to
    * `defaultFraction` (1.0 = pass through). Unlike
    * `DataFrameStatFunctions.sampleBy`, the decision is a pure function
    * of (key, seed) — retries and re-runs cannot change the sample.
    *
    * `uniform` defaults to the key-hash draw; injectable so callers can
    * choose a systematic draw (the [[weightedSample]]/q75 pattern —
    * q60c drives it with `pmod(key, 1000)/1000` for an ANSI-reproducible
    * sample). Values must lie in [0, 1).
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0,
      seed: Int = 42,
      uniform: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val uniformDraw = uniform // capture before the wildcard import (functions.uniform shadows)
    import org.apache.spark.sql.functions._
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (rest, (stratum, f)) => when(col(strataCol) === stratum, f).otherwise(rest)
    }
    df.where(uniformDraw.getOrElse(hashUniform(keyCol, seed)) < frac)
  }

  /** Deterministic per-key "reservoir": at most `n` rows per `keyCol`
    * group, chosen by ranking each group's rows on a key-hash uniform of
    * `idCol` (ties broken by `idCol` — a total order, so the sample is
    * EXACTLY reproducible, unlike a true reservoir whose content depends
    * on encounter order). Rides the bounded-heap top-k physical plan:
    * O(rows·log n) map work, one exchange of ≤ n·keys survivors, never a
    * full per-group sort. Growing `n` extends the sample (top-3 ⊆ top-5
    * under the same order) — per-key mixtures stay nested as caps are
    * tuned, matching [[hashSample]]'s subset discipline.
    *
    * `uniform` defaults to the key-hash draw; injectable for the
    * systematic ANSI-reproducible form (the q48c/q60c/q88c pattern) —
    * which also puts the bounded-heap [[graft.plans.TopK]] physical
    * operator itself under an external oracle (q96b): the selected SET
    * is a pure function of the draw and the idCol tiebreak.
    */
  def sampleNPerKey(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      n: Int,
      seed: Int = 42,
      uniform: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val uniformDraw = uniform // capture before the wildcard import (functions.uniform shadows)
    import org.apache.spark.sql.functions._
    require(n > 0, "sample size must be positive")
    graft.plans.TopK.perKey(
      df, Seq(keyCol),
      Seq(uniformDraw.getOrElse(uniformFromHash(xxhash64(col(idCol), lit(seed)))).asc,
        col(idCol).asc),
      n)
  }

  /** Cluster-balanced subsample — the embedding-space counterpart of the
    * per-source domain cap: assign every row to its nearest explicit
    * centroid (squared-L2 argmin via the codegen'd
    * [[graft.expressions.NearestCentroidsExpr]], ties to the lower cell)
    * and keep at most `n` rows per cluster through [[sampleNPerKey]]'s
    * bounded-heap plan. Caps redundancy in over-dense regions of the
    * embedding space instead of over-represented source domains — the
    * diversity-sampling move cluster-based curation pipelines use after
    * SemDeDup-style pruning.
    *
    * Scale shape: centroids are plan literals (they ship with the task
    * binary — no join, no broadcast exchange), assignment is a zero-
    * shuffle per-row projection inside whole-stage codegen, and the cap
    * is the [[graft.plans.TopK]] exchange of ≤ n·clusters survivors.
    * With EXPLICIT centroids the whole operator is ANSI-expressible —
    * q98 puts assignment AND cap under one external oracle; pair with
    * [[Similarity.trainIvf]] when the centroids should be learned.
    */
  def clusterBalancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      n: Int,
      seed: Int = 42,
      uniform: Option[org.apache.spark.sql.Column] = None,
      cellCol: String = "cluster"): DataFrame = {
    val uniformDraw = uniform // capture before the wildcard import (functions.uniform shadows)
    import org.apache.spark.sql.functions._
    require(centroids.nonEmpty, "clusterBalancedSample needs at least one centroid")
    // loud on collision, the documented post-SemDeDup position makes a
    // pre-existing cluster label LIKELY — silently clobbering it would
    // destroy the caller's labels with no error (review, round 11)
    require(!df.columns.contains(cellCol),
      s"input already has a '$cellCol' column — pass cellCol to keep both")
    val dim = centroids.head.length
    require(dim > 0 && centroids.forall(_.length == dim),
      "centroids must share one positive dimensionality")
    import org.apache.spark.sql.graft.ColumnBridge
    val cells = ColumnBridge.column(graft.expressions.NearestCentroidsExpr(
      ColumnBridge.eagerExpression(col(vecCol)),
      centroids.flatten.toIndexedSeq, dim, nprobe = 1))
    sampleNPerKey(
      df.withColumn(cellCol, element_at(cells, 1)),
      cellCol, idCol, n, seed, uniformDraw)
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis &
    * Spirakis 2006, A-ES): keep the `n` rows with the largest
    * u^(1/w), u = the key-hash uniform — each row's inclusion odds are
    * proportional to `weightCol` in the exponential-rank sense, and the
    * draw is a pure function of (id, seed): reproducible across runs,
    * retries and engines, like every sampler here. The quality-weighted
    * mixture draw: feed classifier scores ([[Classifier.scoreNB]]) or
    * fluency scores as weights and high-quality rows win the quota
    * stochastically instead of by hard cutoff.
    *
    * Rows with NULL or non-positive weight are EXCLUDED (a zero weight
    * cannot win any rank; a negative one is a caller bug surfaced by the
    * documented filter, not a crash). Ties (identical rank doubles)
    * break by `idCol`. Scale: rank is a per-row projection; the top-n
    * global draw rides TakeOrderedAndProject (never a full sort) via the
    * same bounded-heap plan as [[sampleNPerKey]] when `perKey` strata
    * are given.
    *
    * `uniform` defaults to the key-hash draw (a pure function of
    * (id, seed)); injectable so callers can choose a systematic draw —
    * e.g. `pmod(id, 1000)/1000.0`, the oracle-comparable form
    * [[Packing.mixtureSampleRepeats]] established for q75 and q88c uses
    * here — without a second code path. Values must lie in [0, 1).
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      n: Int,
      seed: Int = 42,
      perKey: Seq[String] = Nil,
      uniform: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val uniformDraw = uniform // capture before the wildcard import (functions.uniform shadows)
    import org.apache.spark.sql.functions._
    require(n > 0, "sample size must be positive")
    val rank = pow(
      uniformDraw.getOrElse(uniformFromHash(xxhash64(col(idCol), lit(seed)))),
      lit(1.0) / col(weightCol).cast("double"))
    val eligible = df.where(col(weightCol).isNotNull && col(weightCol) > 0)
    if (perKey.isEmpty)
      eligible
        .withColumn("__wr", rank)
        .orderBy(col("__wr").desc, col(idCol).asc)
        .limit(n)
        .drop("__wr")
    else
      graft.plans.TopK.perKey(
        eligible.withColumn("__wr", rank),
        perKey,
        Seq(col("__wr").desc, col(idCol).asc),
        n)
        .drop("__wr")
  }

  /** xxhash64(key, seed) → uniform double STRICTLY in [0, 1). */
  private def hashUniform(keyCol: String, seed: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    uniformFromHash(xxhash64(col(keyCol), lit(seed)))
  }

  /** Top 53 bits of a 64-bit hash, over 2^53 — the mantissa-width trick.
    *
    * Using 63 bits (`shiftrightunsigned(h, 1).cast("double") /
    * Long.MaxValue`) is subtly broken at BOTH ends of the division:
    * doubles near 2^63 are 1024 apart, so the numerator cast rounds any
    * shifted hash in [2^63 − 512, 2^63 − 1] (raw hashes −1024..−1) UP to
    * exactly 2^63, and `Long.MaxValue.toDouble` is itself exactly 2^63 —
    * those keys get u = 1.0, `hashSample(df, k, 1.0)` silently drops them,
    * and the documented [0, 1) contract is false. Every 53-bit value is
    * exactly representable, so here the max is (2^53 − 1)/2^53 < 1 with no
    * rounding anywhere. Exposed package-private so the spec can drive the
    * boundary hashes directly (finding a key whose xxhash64 is −1 is not
    * feasible).
    */
  private[graft] def uniformFromHash(hashCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    shiftrightunsigned(hashCol, 11).cast("double") / (1L << 53).toDouble
  }
}
