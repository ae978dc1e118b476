package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** SemDeDup — semantic deduplication over an embedding column (Abbas et
  * al. 2023, arXiv:2303.09540): k-means-cluster the corpus embeddings,
  * compare pairs only WITHIN a cluster, and keep one representative per
  * connected near-dup group. Textual dedup ([[Dedup]]) catches copies of
  * the same bytes; semantic dedup catches re-tellings — same meaning,
  * different words — which textual shingles never pair.
  *
  * Scale shape (the reason this beats the exact form at 100 TB): the
  * quadratic cosine comparison is confined to cells, so cost is
  * Σ |cell|² / 2 with |cell| ≈ n/nlist — `nlist` is the dial that holds
  * per-cell work constant as the corpus grows (the paper uses ~11k
  * clusters for LAION-440M). Cell assignment is the codegen'd
  * nearest-centroid argmin in the scan stage ([[graft.expressions.NearestCentroidsExpr]]);
  * the only exchanges are the cell-keyed candidate join and the
  * pair-deduping groupBy. Degenerate cells (the same embedding repeated
  * millions of times) cap to a LINEAR keeper probe — same contract and
  * observability as every other capped blocker in the repo
  * ([[Blocking.keeperStarPairs]]).
  *
  * Correctness posture, mirroring the q25/q25c and q53/q53c twin
  * pattern: cluster blocking can only MISS pairs (both members must land
  * in the same cell), never invent them — every emitted pair is verified
  * by true cosine. So `semanticDedup`'s dropped set is a SUBSET of the
  * exact form's dropped set (precision 1, SemDedupSpec), and the exact
  * twin [[exactKeptIds]] is oracle-gated end to end (q89c): all-pairs
  * cosine → transitive closure → min-id keepers, reproduced by DuckDB
  * with a recursive CTE.
  */
object SemDedup {

  /** Within-cell cosine near-dup pairs under a trained coarse quantizer.
    *
    * Every row is assigned its nearest centroid (ONE cell per row — so
    * unlike banded LSH there is no multi-probe union and a component can
    * never span cells). Cells at or under `maxCell` run the full
    * within-cell self-join; over-cap cells fall back to the linear
    * keeper-verification + identical-vector star pairs of
    * [[Similarity.cosineNearDupPairs]], with recall loss bounded to
    * non-keeper non-identical members of hot cells.
    *
    * Output: (id_a, id_b, cosine) with id_a < id_b, one row per pair.
    */
  def cellPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: Similarity.IvfIndex,
      threshold: Double = 0.95,
      maxCell: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val cell = ColumnBridge.column(graft.expressions.NearestCentroidsExpr(
      ColumnBridge.eagerExpression(col(vecCol)), index.flat, index.dim, 1)).getItem(0)
    // pin: both self-join sides and the occupancy window read this —
    // without the barrier the assignment expression runs once per side.
    val assigned = Partitioning.spread(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v"), cell.as("__cell"))
      .transform(Caches.pin)
    // r20: hot/cold split from a grouped count ([[Blocking.hotKeys]],
    // partial aggregation over the pinned assignment table) instead of a
    // full-frame window shuffle+sort; the uncapped default skips the
    // count and the hot machinery entirely.
    val hotKeys =
      if (maxCell == Int.MaxValue) None
      else Some(Caches.pin(Blocking.hotKeys(assigned, Seq("__cell"), maxCell)))
    val cold = hotKeys.fold(assigned)(h => assigned.join(h, Seq("__cell"), "left_anti"))
    val coldPairs = cold.select(col("__cell"), col("id").as("id_a"), col("v").as("v_a"))
      .join(cold.select(col("__cell"), col("id").as("id_b"), col("v").as("v_b")), Seq("__cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), vectors.cosine(col("v_a"), col("v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
    val allPairs = hotKeys match {
      case None => coldPairs
      case Some(h) =>
        val hotRows = assigned.join(h, Seq("__cell"), "left_semi")
        val cellKeepers = hotRows.groupBy("__cell")
          .agg(min(col("id")).as("kid"), min_by(col("v"), col("id")).as("kv"))
        val hotNearKeeper = hotRows.join(cellKeepers, Seq("__cell"))
          .where(col("id") =!= col("kid")) // kid = cell min, so kid < id
          .select(col("kid").as("id_a"), col("id").as("id_b"),
            vectors.cosine(col("v"), col("kv")).as("cosine"))
          .where(col("cosine") >= threshold)
        // Exact copies whose vector differs from the keeper's still pair
        // at 1.0. Zero-norm vectors are EXCLUDED: cosine is undefined
        // there, and [[vectors.cosine]] (used by the cold path AND the
        // exact twin) defines it as 0.0 — pairing duplicated zero vectors
        // here would drop rows the exact form keeps and break the
        // precision-1 subset law (SemDedupSpec). Deduping degenerate
        // all-zero embeddings is content dedup's job
        // ([[Dedup.exactDedup]] on a vector hash), not cosine's.
        val hotIdentical = Blocking.keeperStarPairs(
          hotRows.where(vectors.dot(col("v"), col("v")) > 0).select("id", "v"),
          "v", "cosine", lit(1.0))
        coldPairs.unionByName(hotNearKeeper).unionByName(hotIdentical)
    }
    allPairs
      .groupBy("id_a", "id_b")
      .agg(max("cosine").as("cosine"))
  }

  /** SemDeDup proper: drop every within-cell near-dup that is not its
    * group's min-id representative; return the KEPT frame with the
    * original columns. Group = connected component of the verified pair
    * graph (pairwise similarity is not transitive — components give one
    * keeper per chain, the same argument as [[Dedup.dedupByClusters]]).
    */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      index: Similarity.IvfIndex,
      threshold: Double = 0.95,
      maxCell: Int = Int.MaxValue): DataFrame = {
    val pairs = cellPairs(emb, idCol, vecCol, index, threshold, maxCell)
    val clustered = Dedup.duplicateClusters(pairs)
    val dropped = clustered.where(col("id") =!= col("cluster")).select(col("id").as(idCol))
    emb.join(dropped, Seq(idCol), "left_anti")
  }

  /** One-call form: train the quantizer over the full corpus
    * ([[Similarity.trainIvfFull]] — one scan + one nlist-keyed exchange
    * per Lloyd iteration) and dedup with it. Index-lifecycle workflows
    * (train once, dedup many batches) should train separately and call
    * [[semanticDedup]] with the saved index.
    */
  def semanticDedupTrained(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      iters: Int = 5,
      threshold: Double = 0.95,
      maxCell: Int = Int.MaxValue): DataFrame =
    semanticDedup(
      emb, idCol, vecCol,
      Similarity.trainIvfFull(emb, idCol, vecCol, nlist, iters),
      threshold, maxCell)

  /** EXACT validation twin, oracle-gated (q89c): global all-pairs cosine
    * ≥ threshold → connected components → keep min-id per component plus
    * every unpaired row. Emits kept ids only, so an external oracle
    * reproduces the set as a threshold decision (the q32c argument) plus
    * a recursive transitive closure (the q25d argument). Deliberately
    * quadratic — the measuring stick, not the scale path.
    */
  def exactKeptIds(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95): DataFrame = {
    val pairs = Similarity.cosineNearDupPairsExact(emb, idCol, vecCol, threshold)
    val clustered = Dedup.duplicateClusters(pairs)
    val dropped = clustered.where(col("id") =!= col("cluster")).select(col("id").as(idCol))
    emb.join(dropped, Seq(idCol), "left_anti").select(col(idCol))
  }
}
