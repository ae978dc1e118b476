package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The inverted multi-index coarse quantizer (Babenko & Lempitsky 2012) —
  * [[AnnIndex]]'s two-level scale path past the single-level ceiling the
  * round-15 audit named: a flat quantizer's centroid table is `nlist ×
  * dim` doubles baked into every probe task (~400 MB at 2¹⁶ cells × 768
  * dims — prohibitive long before the 2¹⁶ clamp binds at ~2.7×10⁸
  * vectors under default cells), and retraining it is one k-means over
  * `nlist` centroids. Here the cell grid is the cartesian product of two
  * INDEPENDENT half-space quantizers of `k` centroids each: `k²` cells
  * from `2k` trained centroids, a `(k₁+k₂) · dim/2`-double task payload
  * (~1.5 MB for the same 2¹⁶ cells), and training cost that scales with
  * `k = √nlist`, not `nlist`. Assignment stays EXACT nearest-of-grid —
  * d² to a product centroid decomposes into the two half-distances
  * ([[graft.expressions.NearestImiCellsExpr]]), so probes rank product
  * cells by true distance; the only semantic difference from a flat
  * quantizer is that the centroid SET is a product grid rather than free
  * k-means (a coarser fit per cell — the standard IMI trade, bought back
  * by the much larger affordable cell count).
  *
  * At 10⁹ vectors × 4,096-row target cells the sizing wants ~2.4×10⁵
  * cells: flat is off the table (the clamp binds, cells regrow, and
  * [[AnnIndex.rebuildAuto]] can no longer fix what [[AnnIndex
  * .resizeReport]] flags); IMI serves it with k ≈ 500 per half — a 3 MB
  * payload and half-space k-means the existing distributed trainer
  * ([[Similarity.trainIvfFull]] with k-means|| seeding) already handles.
  * [[AnnIndex.buildAuto]]/[[AnnIndex.rebuildAuto]] switch here
  * automatically above `imiAbove` sized cells; SCALE.md carries the
  * arithmetic.
  */
object Imi {

  /** A trained product quantizer pair: `q1` over the first half-space,
    * `q2` over the second. Combined cell id = `c₁ · k₂ + c₂`. The halves
    * may differ in width (odd corpus dims split ceil/floor — d²
    * decomposes over any partition of the dimensions). Same driver-side
    * artifact lifecycle as [[Similarity.IvfIndex]] — train once, save,
    * serve forever.
    */
  final case class ImiIndex(q1: Array[Array[Double]], q2: Array[Array[Double]]) {
    require(q1.nonEmpty && q2.nonEmpty, "an IMI index needs centroids in both halves")
    val dim1: Int = q1.head.length
    val dim2: Int = q2.head.length
    require(dim1 > 0 && dim2 > 0, "half dims must be positive")
    require(q1.forall(_.length == dim1) && q2.forall(_.length == dim2),
      "ragged centroids")
    val k1: Int = q1.length
    val k2: Int = q2.length
    require(k1.toLong * k2 <= Int.MaxValue, "k1 * k2 must fit an int cell id")
    val nlist: Int = k1 * k2
    val dim: Int = dim1 + dim2
    private[operators] lazy val flat1: IndexedSeq[Double] = q1.flatten.toIndexedSeq
    private[operators] lazy val flat2: IndexedSeq[Double] = q2.flatten.toIndexedSeq

    /** Persist as one tiny parquet table (half, cell, centroid) via the
      * atomic staged swap — the [[Similarity.IvfIndex.save]] discipline.
      */
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      graft.sources.Sinks.writePartitionedAtomic(
        (q1.zipWithIndex.map { case (c, i) => (1, i, c.toSeq) } ++
          q2.zipWithIndex.map { case (c, i) => (2, i, c.toSeq) })
          .toSeq.toDF("half", "cell", "centroid")
          .coalesce(1),
        path, Nil)
    }
  }

  object ImiIndex {
    /** Load a saved pair, absorbing a concurrent save's sub-millisecond
      * swap window with the shared bounded retry
      * ([[graft.sources.Sinks.loadWithSwapRetry]]).
      */
    def load(spark: SparkSession, path: String, retries: Int = 8): ImiIndex =
      graft.sources.Sinks.loadWithSwapRetry(retries) {
        val rows = spark.read.parquet(path)
          .orderBy("half", "cell")
          .collect()
          .map(r => (r.getInt(r.fieldIndex("half")),
            r.getSeq[Double](r.fieldIndex("centroid")).toArray))
        ImiIndex(rows.filter(_._1 == 1).map(_._2), rows.filter(_._1 == 2).map(_._2))
      }
  }

  /** Train the half-space pair: each half is an ordinary coarse-quantizer
    * training run over the SLICED vector column — the sampled-kmeans path
    * below `fullTrainAbove` centroids (sample widened to 32 × k, the
    * starvation floor), the distributed full-corpus Lloyd with k-means||
    * seeding above it. Everything the single-level trainer learned about
    * seeding, NaN quarantine, and scan budget applies per half verbatim,
    * at k = √nlist instead of nlist — which is why IMI training stays
    * tractable exactly where flat training stops being so. Odd corpus
    * dims split ceil/floor across the halves (nothing is lost — d²
    * decomposes over any dim partition), so the auto path never needs
    * an even-dim precondition. Trained halves can come back narrower
    * than `kPerHalf` on low-distinct-cardinality corpora; the product
    * nlist follows suit (the [[AnnIndex.buildAuto]] trained-vs-target
    * contract).
    *
    * Scan budget: the sampled branch (`kPerHalf ≤ fullTrainAbove`)
    * draws ONE deterministic 32×k sample of the full vectors and
    * trains both halves from its slices driver-side — one corpus scan
    * total, not one per half. The full branch runs the distributed
    * trainer per half (each is multi-scan by nature; they cannot share
    * a pass because Lloyd's exchanges are keyed by that half's cells).
    */
  def trainImi(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      kPerHalf: Int,
      kmeansIters: Int = 5,
      fullTrainAbove: Int = 512): ImiIndex = {
    require(kPerHalf >= 1, s"kPerHalf must be >= 1, got $kPerHalf")
    val first = emb.where(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>")).limit(1).collect()
    require(first.nonEmpty, "cannot train an IMI quantizer on an empty corpus")
    val dim = first(0).getSeq[Double](0).size
    require(dim >= 2, s"IMI needs at least 2 dims to split, got $dim")
    val dim1 = (dim + 1) / 2
    val dim2 = dim - dim1
    if (kPerHalf <= fullTrainAbove) {
      val sample = Similarity.trainingSample(emb, idCol, vecCol, math.max(512, 32 * kPerHalf))
      require(sample.nonEmpty, "cannot train an IMI quantizer: no finite vectors")
      def half(off: Int, w: Int): Array[Array[Double]] =
        Similarity.kmeans(
          sample.map { v =>
            // clamp both bounds so a shorter-than-off vector slices to
            // empty instead of throwing; padTo keeps the half rectangular
            val from = math.min(off, v.length)
            val to = math.max(from, math.min(off + w, v.length))
            java.util.Arrays.copyOfRange(v, from, to).padTo(w, 0.0)
          },
          kPerHalf, kmeansIters)
      ImiIndex(half(0, dim1), half(dim1, dim2))
    } else {
      def trainHalf(start: Int, w: Int): Array[Array[Double]] =
        Similarity.trainIvfFull(
          emb.select(
            col(idCol).as("__id"),
            slice(col(vecCol).cast("array<double>"), start, w).as("__hv")),
          "__id", "__hv", kPerHalf, kmeansIters, scalableSeed = true).centroids
      ImiIndex(trainHalf(1, dim1), trainHalf(dim1 + 1, dim2))
    }
  }
}
