package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.expressions.NearestCentroidsExpr

/** INTEGER Lloyd training (k-means) over embedding columns — the
  * oracle-gateable twin of [[Similarity.trainIvfFull]] (the production
  * float trainer): every step here is exact integer arithmetic, so a
  * fixed-round run is reproducible bit-for-bit on any engine, any
  * partitioning, any retry — the same contract as
  * [[Graphs.pageRankInt]] — and an external SQL engine can replay the
  * WHOLE training, not just consume its artifact. Feeds every operator
  * that takes explicit centroids ([[Partitioning.clusterBalancedSample]],
  * SemDedup's cluster stage, IVF coarse quantizers) when reproducible
  * training is part of the data contract.
  *
  * Determinism construction:
  *   - vectors quantize to integer grids (`floor(x·scale + 0.5)`), held
  *     as integer-VALUED doubles: IEEE addition on integers ≤ 2⁵³ is
  *     exact and order-independent, so [[graft.expressions.VectorSumAgg]]'s partial/final
  *     tree yields identical sums under any aggregation order;
  *   - initial centroids are the `k` smallest-id vectors (ids are unique
  *     by contract), not a seeded sample — trivially replayable;
  *   - assignment is argmin of exact integer squared-L2 with ties to the
  *     LOWER centroid index ([[NearestCentroidsExpr]]'s lexicographic
  *     (distance, cell) rule);
  *   - the new mean is integer division truncated toward zero
  *     (`sum / count` on longs), one unambiguous value per component;
  *   - a cluster that loses all members keeps its previous centroid.
  *
  * Scale shape: training never shuffles the corpus. Each round is ONE
  * scan of the pinned quantized frame + a k-group [[graft.expressions.VectorSumAgg]]
  * aggregate (k·dim partial state per task, map-side combined) whose k
  * result rows collect to the driver; assignment is a stateless
  * projection against centroid CONSTANTS baked into the expression (they
  * ship with the task binary — no join, no broadcast exchange). k and
  * dim are bounded by contract (coarse quantizers: k in the thousands);
  * `iters` is fixed and small, the oracle-gateable face of a training
  * run that would otherwise iterate to tolerance.
  */
object Clustering {

  /** floor(x·scale + 0.5) per component, kept as exact integer-valued
    * DOUBLES — the one array representation both [[graft.expressions.VectorSumAgg]] and
    * [[NearestCentroidsExpr]] accept.
    */
  private def quantInt(c: Column, scale: Int): Column =
    transform(c, x => floor(x.cast("double") * scale + lit(0.5)).cast("double"))

  /** `iters` [[Similarity.lloydRound]]s from the k smallest-id seeds,
    * with truncating long means; returns the trained centroids as k rows
    * of integer components (row i = centroid i). Consumes its own pin —
    * the quantized corpus is released before returning.
    */
  def trainKmeansInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Int = 1000): IndexedSeq[Array[Long]] = {
    require(k >= 1, "k must be at least 1")
    require(iters >= 0, "iters must be non-negative")
    Caches.scoped {
      val q = Caches.pin(
        emb.select(col(idCol).as("__id"), quantInt(col(vecCol), scale).as("__qv")))
      val seeds = q.orderBy("__id").limit(k).collect()
      require(seeds.length == k, s"need at least k=$k vectors, got ${seeds.length}")
      var cents: Array[Array[Double]] = seeds.map { r =>
        require(!r.isNullAt(1),
          s"trainKmeansInt: NULL $vecCol on seed id ${r.get(0)} — filter or impute upstream")
        r.getSeq[Double](1).map(_.toLong.toDouble).toArray
      }
      val dim = cents.head.length
      require(cents.forall(_.length == dim), "seed vectors must share one dimension")
      // sums are integer-valued doubles, exact below 2^53; divide as longs
      // so "truncate toward zero" is unambiguous
      for (_ <- 1 to iters)
        cents = Similarity.lloydRound(q, "__qv", cents, vecCol)(
          (sums, n) => sums.map(x => (x.toLong / n).toDouble))
      cents.map(_.map(_.toLong)).toIndexedSeq
    }
  }

  /** Assign every vector to its nearest trained centroid; output
    * `(idCol, cluster int, dist2 bigint)` where dist2 is the EXACT
    * integer squared L2 on the quantized grid — the full witness of the
    * assignment arithmetic, not just the argmin.
    */
  def assignKmeansInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: IndexedSeq[Array[Long]],
      scale: Int = 1000): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val dim = centroids.head.length
    val q = emb.select(col(idCol), quantInt(col(vecCol), scale).as("__qv"))
    val flat = centroids.flatMap(_.map(_.toDouble))
    val withC = q.withColumn(
      "cluster",
      ColumnBridge.column(NearestCentroidsExpr(
        ColumnBridge.eagerExpression(col("__qv")), flat, dim, 1)).getItem(0))
    // per-row centroid lookup via a k-row array-of-arrays literal: dist2
    // recomputed compositionally, NOT read out of the expression — two
    // independent arithmetic paths must agree for the gate to pass
    val centLit = array(centroids.map(c => array(c.map(x => lit(x.toDouble)): _*)): _*)
    withC
      .withColumn(
        "dist2",
        aggregate(
          zip_with(col("__qv"), element_at(centLit, col("cluster") + 1),
            (a, b) => (a - b) * (a - b)),
          lit(0.0),
          (acc, x) => acc + x).cast("long"))
      .select(col(idCol), col("cluster"), col("dist2"))
  }

  /** Train-then-assign in one call — the catalog face. */
  def kmeansInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Int = 1000): DataFrame =
    assignKmeansInt(emb, idCol, vecCol,
      trainKmeansInt(emb, idCol, vecCol, k, iters, scale), scale)
}
