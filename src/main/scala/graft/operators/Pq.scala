package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid 2011) — the compression
  * leg that turns [[AnnIndex]]'s persisted IVF into IVF-PQ. Raw float32
  * postings at production scale are the problem: 10⁹ vectors × 768 dims
  * × 4 B ≈ 3 TB that every probe's candidate pass reads and ships. A PQ
  * code is `m` BYTES per vector (plus one stored double for the exact
  * norm), so the candidate pass reads m+8 bytes instead of 4·dim — at
  * m=96 over 768 dims that is 3072 B → 104 B per vector (~30×), and the
  * raw vector column is touched only for the few screened survivors
  * (parquet is columnar: same postings table, pruned columns).
  *
  * This is the NO-RESIDUAL IVF-PQ variant (faiss `by_residual=false`):
  * codes quantize the vector itself, not its offset from the coarse
  * centroid. Residual coding buys accuracy at the cost of coupling the
  * codebook to the coarse quantizer (retraining either invalidates both);
  * the uncoupled form keeps [[AnnIndex.init]]'s refuse-to-retrain
  * contract simple, and the probe's exact re-rank makes the screening
  * accuracy a recall/IO dial (`margin`, `rerank`), not a correctness one.
  */
object Pq {

  /** A trained codebook: `codebooks(sub)(code)` is the `dsub`-dim
    * sub-centroid. The driver-side artifact of the PQ lifecycle — train
    * once, encode every batch with it ([[Similarity.IvfIndex]]
    * precedent, same save/load discipline).
    */
  final case class Codebook(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty, "a PQ codebook needs at least one subspace")
    val m: Int = codebooks.length
    val ksub: Int = codebooks.head.length
    val dsub: Int = codebooks.head.head.length
    require(ksub > 0 && ksub <= 256, s"ksub must be in 1..256 (one byte per subspace), got $ksub")
    require(codebooks.forall(cb => cb.length == ksub && cb.forall(_.length == dsub)),
      "ragged codebook: every subspace needs ksub centroids of dsub dims")
    def dim: Int = m * dsub
    private[operators] lazy val flat: IndexedSeq[Double] =
      codebooks.flatten.flatten.toIndexedSeq

    /** Persist as parquet (sub, code, centroid) via the atomic staged
      * swap — re-saving while other sessions load is safe, same as
      * [[Similarity.IvfIndex.save]].
      */
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      graft.sources.Sinks.writePartitionedAtomic(
        codebooks.zipWithIndex.flatMap { case (cb, sub) =>
          cb.zipWithIndex.map { case (c, k) => (sub, k, c.toSeq) }
        }.toSeq.toDF("sub", "code", "centroid").coalesce(1),
        path, Nil)
    }
  }

  object Codebook {
    /** Load a saved codebook, absorbing a concurrent save's swap window
      * with the bounded retry every swap-managed artifact's reader uses.
      */
    def load(spark: SparkSession, path: String, retries: Int = 8): Codebook =
      graft.sources.Sinks.loadWithSwapRetry(retries) {
        val rows = spark.read.parquet(path)
          .orderBy("sub", "code")
          .collect()
          .map(r => (r.getInt(r.fieldIndex("sub")),
            r.getSeq[Double](r.fieldIndex("centroid")).toArray))
        Codebook(rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2)).toArray)
      }
  }

  /** Train a codebook: per subspace, k-means over the sub-slices of a
    * `sampleRows`-point [[Similarity.trainingSample]]. `dim` must split
    * evenly into `m` subspaces.
    *
    * The sample must be REPRESENTATIVE of what the index will hold: the
    * ADC screen's `margin` bounds quantization error only over regions
    * the codebook trained on — a direction the sample never contained
    * has no nearby sub-centroid, its vectors quantize arbitrarily far
    * away, and the screen can drop true matches no margin rescues
    * (StreamsSpec's PQ-ingest seed documents the live case). Train over
    * the corpus the index ingests, not a stub batch; raise `sampleRows`
    * before raising `margin`.
    *
    * The sample must also be big enough PER SUB-CENTROID: `sampleRows`
    * is floored at `32 × ksub` (the same ~32-points-per-centroid rule
    * the coarse quantizer's auto path uses) — Lloyd over 4 points per
    * centroid leaves codes empty or duplicated, quantization coarsens,
    * and the ADC screen silently loses recall (precision is safe, the
    * exact verify keeps it; recall is what starves). `ksub ≤ 256` (one
    * byte per subspace) bounds the floor at 8,192 driver-collected rows
    * regardless of corpus size, so no distributed trainer is needed:
    * unlike the coarse quantizer, whose centroid count scales with the
    * corpus, PQ codebook geometry is data-width — the floor is a
    * constant. PqProperties pins near-full codebook utilization at
    * ksub = 256 on a spread corpus.
    */
  def train(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int = 16,
      sampleRows: Int = 2048,
      iters: Int = 10): Codebook = {
    require(m > 0, "m must be positive")
    // the sample casts in-plan, so array<float> and array<double> corpora
    // both train; its finiteVec quarantine keeps a NaN/Inf element from
    // poisoning a sub-centroid whose ADC distances would then rank
    // NaN/Inf and silently starve recall
    val sample = Similarity.trainingSample(emb, idCol, vecCol, math.max(sampleRows, 32 * ksub))
    require(sample.nonEmpty, "cannot train a PQ codebook: no finite vectors in the corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim=$dim does not split into m=$m subspaces")
    val dsub = dim / m
    Codebook(Array.tabulate(m) { sub =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      val cents = Similarity.kmeans(pts, ksub, iters)
      // k-means returns ≤ k distinct centroids on degenerate samples; a
      // codebook must be exactly ksub wide (codes address it) — pad by
      // repeating the last centroid (never selected over its twin, so
      // padding is inert)
      if (cents.length >= ksub) cents.take(ksub)
      else cents ++ Array.fill(ksub - cents.length)(cents.last)
    })
  }
}
