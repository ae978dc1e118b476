package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vectors
import graft.operators.Similarity.IvfIndex
import graft.sources.BatchTable

/** Persistable IVF embedding index — the production shape of similarity
  * search, and the vector twin of [[DedupIndex]]. [[Similarity.ivfSearch]]
  * answers "what is near this query in THIS frame" and re-lands corpus
  * vectors on every call; a training-data pipeline instead receives
  * embedding batches forever and must answer "is this NEW embedding near
  * anything already accepted" without rescanning the accepted corpus.
  * This module persists the two artifacts the IVF pipeline computes — the
  * trained coarse quantizer (tiny, driver-side) and the cell-assigned
  * vector postings (corpus-sized, on disk) — so each incoming batch pays
  * O(batch + probed-cell postings), never O(corpus):
  *
  *   1. [[build]]/[[append]] — assign a batch's vectors to their coarse
  *      cell once and land them as a new immutable `batch=<label>`
  *      partition of the postings table (atomic rename; readers see the
  *      whole batch or none of it).
  *   2. [[crossNeighbors]] — probe a new batch against the index: the
  *      batch's probed-cell set broadcast-semi-joins the postings scan
  *      (map-side pruning, the corpus side never shuffles), survivors are
  *      verified by exact cosine on the stored vectors.
  *   3. [[dedupBatch]] — end-to-end acceptance: drop batch vectors that
  *      near-duplicate the corpus, then near-dedup the rest among
  *      themselves.
  *
  * On-disk layout under `path` (plain parquet, engine-agnostic):
  * {{{
  *   centroids/            (cell, centroid: array<double>) — flat
  *                         quantizer + existence marker; atomic swap
  *   imi/                  (half, cell, centroid) — ALTERNATIVE two-level
  *                         product quantizer ([[Imi]], [[initImi]]) for
  *                         sized cell counts past the flat payload
  *                         ceiling; exactly one of centroids/ or imi/
  *   pq/                   (sub, code, centroid) — OPTIONAL [[Pq]]
  *                         codebook ([[initPq]]); atomic swap
  *   vectors/batch=<b>/    (cell, id, vec: array<float>[, code: binary,
  *                         norm: double]) — postings, range-clustered by
  *                         cell; code+norm present iff the index has PQ
  * }}}
  * Batches commit through [[graft.sources.BatchTable]] with `vectors/`
  * as the marker and no companion: the rename itself is the commit, so
  * retry loops need no two-table repair — [[appendIdempotent]] is "skip
  * if the label exists".
  *
  * Scale notes (100 TB corpus, ~10⁹ vectors):
  *  - postings are written `repartitionByRange(cell)` and sorted within
  *    partitions, so files and row groups carry disjoint cell ranges and
  *    the probe's semi-join prunes whole files before any exchange.
  *  - a probe touches ≈ corpus × nprobe/nlist rows; `nlist` is the scale
  *    knob, fixed at [[build]] (re-training requires a rebuild — [[init]]
  *    refuses to replace centroids once batches exist, because postings
  *    carry the OLD assignment and a probe against new centroids would
  *    look in the wrong cells).
  *  - degenerate corpora (one embedding repeated 10⁸ times) concentrate a
  *    cell; `maxCell` routes over-cap cells to a linear keeper-only
  *    verification with an audit view ([[hotCells]]) — the same bounded,
  *    observable recall contract as every capped operator in the repo.
  *
  * Cache lifecycle: [[crossNeighbors]]/[[dedupBatch]] pin batch prep
  * tables like every graft operator; a per-batch caller should scope each
  * batch with [[Caches.inScope]] and release after consuming the result.
  */
object AnnIndex {

  /** Probe-width specification for the serving calls ([[crossNeighbors]],
    * [[crossNeighborsPq]], [[dedupBatch]], [[dedupBatchPq]], and
    * [[graft.streaming.Streams.annIngest]]). IVF recall is governed by
    * nprobe/nlist, so a caller holding a raw `nprobe = 16` across a
    * [[rebuildAuto]] that scales nlist 16 → 160 silently drops to 10%
    * cell coverage — the exact hazard [[nprobeFor]] closes, but as an
    * opt-in. [[Probe.Fraction]] makes the contract structural: the
    * fraction resolves against the index's ACTUAL saved geometry inside
    * every probe call (reusing the quantizer the probe loads anyway —
    * no extra read), so probe semantics survive rebuilds and restarts.
    * `Fraction(1.0)` is the exact mode the q65e/q65f gates run at.
    * [[Probe.Cells]] is the classic fixed cell count, clamped to nlist.
    */
  sealed trait Probe
  object Probe {
    final case class Cells(nprobe: Int) extends Probe {
      require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    }
    final case class Fraction(fraction: Double) extends Probe {
      require(fraction > 0.0 && fraction <= 1.0,
        s"recall fraction must be in (0, 1], got $fraction")
    }
    private[graft] def resolve(probe: Probe, nlist: Int): Int = probe match {
      case Cells(n) => math.min(n, nlist)
      case Fraction(f) => math.max(1, math.ceil(f * nlist).toInt)
    }
  }

  private def centroidsDir(path: String) = s"$path/centroids"
  private def vectorsDir(path: String) = s"$path/vectors"
  private def pqDir(path: String) = s"$path/pq"
  private def imiDir(path: String) = s"$path/imi"
  private def table(spark: SparkSession, path: String) = BatchTable(spark, vectorsDir(path))

  private def nearestCells(index: IvfIndex, v: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.NearestCentroidsExpr(
      ColumnBridge.eagerExpression(v), index.flat, index.dim, n))
  }

  /** Uniform face over the two coarse-quantizer artifacts — the flat
    * k-means table ([[Similarity.IvfIndex]], `centroids/`) and the
    * two-level product pair ([[Imi.ImiIndex]], `imi/`). Every probe,
    * append, and report dispatches through this, so an index serves
    * identically whichever quantizer it was built with; the postings
    * layout, PQ leg, batch lifecycle, and [[Probe]] semantics never see
    * the difference (cell ids are plain ints either way).
    */
  private[graft] sealed trait Coarse {
    def nlist: Int
    def dim: Int
    private[operators] def cells(v: Column, n: Int): Column
  }
  private[graft] final case class CoarseIvf(idx: IvfIndex) extends Coarse {
    def nlist: Int = idx.nlist
    def dim: Int = idx.dim
    private[operators] def cells(v: Column, n: Int): Column = nearestCells(idx, v, n)
  }
  private[graft] final case class CoarseImi(idx: Imi.ImiIndex) extends Coarse {
    def nlist: Int = idx.nlist
    def dim: Int = idx.dim
    private[operators] def cells(v: Column, n: Int): Column = {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.expressions.NearestImiCellsExpr(
        ColumnBridge.eagerExpression(v), idx.flat1, idx.flat2, idx.dim1, idx.dim2, n))
    }
  }

  /** Load whichever quantizer the index at `path` carries. The DISPATCH
    * itself retries through the shared swap policy: a concurrent
    * quantizer re-save has a sub-millisecond window where `imi/` (or
    * `centroids/`) is renamed out, and in that window `hasImi` can
    * misroute to a loader whose path never existed — the per-artifact
    * load retries can't absorb a wrong-artifact choice, so the retry
    * wraps the choice too (re-evaluating `hasImi` each attempt).
    */
  private[graft] def coarse(spark: SparkSession, path: String): Coarse =
    graft.sources.Sinks.loadWithSwapRetry() {
      if (hasImi(spark, path)) CoarseImi(Imi.ImiIndex.load(spark, imiDir(path), retries = 0))
      else CoarseIvf(IvfIndex.load(spark, centroidsDir(path), retries = 0))
    }

  /** Does the index at `path` use the two-level IMI quantizer? */
  def hasImi(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(imiDir(path))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  private def pqEncode(cb: Pq.Codebook, v: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.PqEncodeExpr(
      ColumnBridge.eagerExpression(v), cb.flat, cb.m, cb.ksub, cb.dsub))
  }

  private def pqAdcDot(cb: Pq.Codebook, code: Column, q: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.PqAdcDotExpr(
      ColumnBridge.eagerExpression(code), ColumnBridge.eagerExpression(q),
      cb.flat, cb.m, cb.ksub, cb.dsub))
  }

  private def pqLut(cb: Pq.Codebook, q: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.PqLutExpr(
      ColumnBridge.eagerExpression(q), cb.flat, cb.m, cb.ksub, cb.dsub))
  }

  private def pqLutDot(cb: Pq.Codebook, code: Column, lut: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.PqLutDotExpr(
      ColumnBridge.eagerExpression(code), ColumnBridge.eagerExpression(lut),
      cb.m, cb.ksub))
  }

  /** Persist a trained quantizer as the index at `path`. Refuses to
    * replace the centroids of an index that already holds postings: cell
    * ids in landed batches were assigned by the OLD centroids, and a
    * probe through new ones would look in the wrong cells. Re-training is
    * a rebuild (new path, re-append, atomic switch at the caller).
    */
  def init(spark: SparkSession, path: String, index: IvfIndex): Unit = {
    require(batches(spark, path).isEmpty,
      s"index at $path already has batches; re-training requires a rebuild")
    require(!hasImi(spark, path),
      s"index at $path carries an IMI quantizer; one index, one quantizer type")
    index.save(spark, centroidsDir(path))
  }

  /** [[init]] with the two-level product quantizer ([[Imi.ImiIndex]]) —
    * the scale path when the sized cell count outgrows what a flat
    * centroid table can ship per task (see [[Imi]]; [[buildAuto]]
    * switches here automatically above `imiAbove`). Same
    * refuse-to-retrain and one-quantizer-per-index contracts.
    */
  def initImi(spark: SparkSession, path: String, imi: Imi.ImiIndex): Unit = {
    require(batches(spark, path).isEmpty,
      s"index at $path already has batches; re-training requires a rebuild")
    val cdir = new Path(centroidsDir(path))
    require(!cdir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cdir),
      s"index at $path carries a flat quantizer; one index, one quantizer type")
    imi.save(spark, imiDir(path))
  }

  /** [[initImi]] + a PQ codebook — the IMI face of [[initPq]]: coarse
    * routing through the product grid, candidate screening on code
    * bytes. The two are orthogonal by design (IMI replaces the cell
    * ROUTER, PQ compresses the postings PAYLOAD), which is the faiss
    * IMI+PQ serving shape for billion-vector corpora.
    */
  def initImiPq(
      spark: SparkSession, path: String, imi: Imi.ImiIndex, codebook: Pq.Codebook): Unit = {
    require(codebook.dim == imi.dim,
      s"PQ codebook dim ${codebook.dim} != IMI quantizer dim ${imi.dim}")
    initImi(spark, path, imi)
    codebook.save(spark, pqDir(path))
  }

  /** Train + [[initImi]] + [[append]] the first batch — the two-level
    * [[build]]. `kPerHalf` centroids per half-space give a `kPerHalf²`
    * cell grid from a `(2 · kPerHalf) × dim/2`-double task payload.
    * Returns the TRAINED nlist (k₁ · k₂ — halves can come back narrower
    * on low-cardinality corpora, the [[buildAuto]] contract).
    */
  def buildImi(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      kPerHalf: Int,
      kmeansIters: Int = 5,
      fullTrainAbove: Int = 512,
      batch: String = "00000001"): Int = {
    val imi = Imi.trainImi(emb, idCol, vecCol, kPerHalf, kmeansIters, fullTrainAbove)
    initImi(emb.sparkSession, path, imi)
    append(emb, idCol, vecCol, path, batch)
    imi.nlist
  }

  /** [[init]] + a PQ codebook: every subsequent [[append]] also lands an
    * `m`-byte [[Pq]] code and the exact vector norm per posting, and
    * probes can run the [[crossNeighborsPq]] path — candidate screening
    * over code bytes, raw vectors read only for the screened survivors'
    * exact verify. Same refuse-to-retrain contract as the coarse
    * quantizer, for the same reason: landed codes were assigned by THIS
    * codebook.
    */
  def initPq(spark: SparkSession, path: String, index: IvfIndex, codebook: Pq.Codebook): Unit = {
    require(codebook.dim == index.dim,
      s"PQ codebook dim ${codebook.dim} != coarse quantizer dim ${index.dim}")
    init(spark, path, index)
    codebook.save(spark, pqDir(path))
  }

  /** Does the index at `path` carry a PQ codebook? */
  def hasPq(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(pqDir(path))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  /** Load the index's PQ codebook. Fails loudly if there is none. */
  def pqCodebook(spark: SparkSession, path: String): Pq.Codebook =
    Pq.Codebook.load(spark, pqDir(path))

  /** Load the index's quantizer. Fails loudly if `path` holds no index. */
  def quantizer(spark: SparkSession, path: String): IvfIndex =
    IvfIndex.load(spark, centroidsDir(path))

  /** Labels of the committed batches, sorted — a listing of `vectors/`. */
  def batches(spark: SparkSession, path: String): Seq[String] =
    table(spark, path).committed

  /** Next zero-padded numeric batch label (`00000001`, …). SINGLE-WRITER
    * allocation: see [[graft.sources.BatchTable]] (AnnIndexSpec pins the
    * loud, corruption-free collision).
    *
    * Label VALUES carry no serving order here (VERDICT r18 item 7):
    * batches union ADDITIVELY — probes read all committed batches and
    * dedupe by content, so a free-form label serves identically to a
    * numeric one and [[append]] accepts any path-safe shape
    * (AnnIndexSpec pins the equivalence). The deliberate contrast is
    * [[TextIndex.append]], where versionKey RANKS labels and free-form
    * shapes are refused without an opt-in.
    */
  def nextBatchLabel(spark: SparkSession, path: String): String =
    table(spark, path).nextLabel

  /** Assign `emb`'s vectors to their coarse cell with the index's
    * quantizer and land the result as batch partition `batch` of the
    * postings table. The batch becomes visible to probes atomically
    * (staging + rename) and is immutable afterwards; an existing label is
    * refused. Vectors must have the quantizer's dimension (a shorter
    * vector scores over its prefix — the expression contract — so
    * mixed-dim corpora belong in separate indexes). Callers dedup BEFORE appending ([[dedupBatch]] does) — the
    * index stores what the pipeline accepted, it does not re-judge it.
    */
  def append(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      batch: String): Unit =
    table(emb.sparkSession, path).commit(batch, postings(emb, idCol, vecCol, path))

  private def postings(emb: DataFrame, idCol: String, vecCol: String, path: String): DataFrame = {
    val spark = emb.sparkSession
    val index = coarse(spark, path)
    val base = emb.select(
      index.cells(col(vecCol), 1).getItem(0).as("cell"),
      col(idCol).as("id"),
      col(vecCol).as("vec"))
    // PQ indexes also land the m-byte code and the exact norm: the probe's
    // screening columns. Encoding is O(dim·ksub) per row, paid once here.
    val rows =
      if (hasPq(spark, path)) {
        val cb = pqCodebook(spark, path)
        base.select(col("cell"), col("id"), col("vec"),
          pqEncode(cb, col("vec")).as("code"),
          vectors.norm(col("vec")).as("norm"))
      } else base
    rows
      .repartitionByRange(col("cell"))
      .sortWithinPartitions("cell", "id")
  }

  /** Retry-safe [[append]] for exactly-once ingestion loops (streaming
    * foreachBatch re-executes a micro-batch after a crash with the SAME
    * batch id). One postings table, one rename: the `batch=` directory IS
    * the commit marker, so "already landed" is a plain existence check.
    */
  def appendIdempotent(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      batch: String): Unit =
    table(emb.sparkSession, path).commitOnce(batch, postings(emb, idCol, vecCol, path))

  /** Train + [[init]] + [[append]] the first batch in one call. */
  def build(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nlist: Int = 16,
      sampleRows: Int = 512,
      kmeansIters: Int = 5,
      batch: String = "00000001"): Unit = {
    init(emb.sparkSession, path,
      Similarity.trainIvf(emb, idCol, vecCol, nlist, sampleRows, kmeansIters))
    append(emb, idCol, vecCol, path, batch)
  }

  /** Train coarse quantizer + PQ codebook over the corpus, [[initPq]],
    * and land the first batch — the one-call IVF-PQ [[build]].
    */
  def buildPq(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      sampleRows: Int = 512,
      kmeansIters: Int = 5,
      batch: String = "00000001"): Unit = {
    initPq(emb.sparkSession, path,
      Similarity.trainIvf(emb, idCol, vecCol, nlist, sampleRows, kmeansIters),
      // Pq.train floors the sample at 32 × ksub (≈32 points per
      // sub-centroid) — the caller's sampleRows only ever widens it
      Pq.train(emb, idCol, vecCol, m, ksub, sampleRows, kmeansIters))
    append(emb, idCol, vecCol, path, batch)
  }

  /** Corpus-scaled coarse-cell count: `ceil(corpusRows / targetCellRows)`
    * clamped to `[minNlist, maxNlist]` — production IVF sizing keeps the
    * CELL size constant as the corpus grows, so probe cost
    * (≈ batch × nprobe × targetCellRows) stays flat instead of growing
    * with the corpus. The need is measured, not theoretical: at a 100×
    * corpus a `nlist = 16` index probed 2.6× slower than the same corpus
    * rebuilt at the corpus-scaled `nlist = 160`, with a bit-identical
    * result (BENCH_NOTES.md round-15 100× table — ADC-scan work is
    * ∝ corpus/nlist, so fixed geometry turns 10× corpus × 10× batch into
    * 100× work). The default 4096-row cells keep per-probe posting reads
    * page-sized at any corpus; `maxNlist` bounds quantizer size. This
    * helper's own 2¹⁶ default is the FLAT-quantizer payload bound
    * (nlist × dim doubles per task); the auto builders pass 2²² instead
    * (round 16) because their flat branch is separately bounded by
    * `imiAbove` and the cap then only bounds the IMI product grid,
    * whose payload grows with √nlist — at 2²² cells ≈ 2048 centroids
    * per half, ~12 MB at dim 768, and the 10⁹-vector sizing (~2.4×10⁵
    * cells) passes unclamped.
    */
  def autoNlist(
      corpusRows: Long,
      targetCellRows: Long = 4096L,
      minNlist: Int = 16,
      maxNlist: Int = 1 << 16): Int = {
    require(targetCellRows > 0, s"targetCellRows must be positive, got $targetCellRows")
    require(minNlist >= 1 && maxNlist >= minNlist,
      s"need 1 <= minNlist <= maxNlist, got [$minNlist, $maxNlist]")
    val want = (math.max(0L, corpusRows) + targetCellRows - 1L) / targetCellRows
    math.min(maxNlist.toLong, math.max(minNlist.toLong, want)).toInt
  }

  /** [[build]] with [[autoNlist]] geometry: one corpus count (skipped when
    * the caller already knows `corpusRows`) picks the cell count, training
    * scales with it — the sampled-kmeans path widens its driver-side
    * sample to `32 × nlist` rows (a fixed 512-row sample starves k-means
    * past a few dozen centroids), and above `fullTrainAbove` centroids
    * training switches to the distributed full-corpus Lloyd
    * ([[Similarity.trainIvfFull]]) where a driver-side sample is both too
    * small to cover the cells and too big to hold. Returns the TRAINED
    * `nlist` — the saved quantizer's actual cell count, which lands
    * below the sized target on corpora with fewer distinct vectors than
    * cells — so the caller can size `nprobe` (recall is governed by
    * nprobe/nlist, so a caller holding a fixed nprobe while nlist scales
    * should scale nprobe with it — [[nprobeFor]] reads the fraction off
    * the saved index). Scan budget on the full-train branch: one corpus
    * scan per Lloyd iteration plus ~two per seeding round (trainIvfFull's
    * documented shape) — pin the input first when it fits, as
    * [[rebuildAuto]] does for its postings read. Driver-gated as q65e at
    * `nprobe = nlist` (exact semantics — the pure-arithmetic oracle).
    */
  def buildAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      targetCellRows: Long = 4096L,
      minNlist: Int = 16,
      maxNlist: Int = 1 << 22,
      corpusRows: Option[Long] = None,
      fullTrainAbove: Int = 512,
      kmeansIters: Int = 5,
      batch: String = "00000001",
      imiAbove: Int = 1 << 14): Int = {
    val n = corpusRows.getOrElse(emb.count())
    val sized = autoNlist(n, targetCellRows, minNlist, maxNlist)
    // the TRAINED nlist is returned, not the autoNlist target: training
    // keeps at most distinct-vector-many centroids, so a low-cardinality
    // corpus lands fewer cells than the target — a caller deriving
    // nprobe fractions from the return value must see the geometry the
    // saved quantizer (and nprobeFor) actually has
    trainAutoCoarse(emb, idCol, vecCol, sized, imiAbove, fullTrainAbove, kmeansIters) match {
      case Left(ivf) =>
        init(emb.sparkSession, path, ivf)
        append(emb, idCol, vecCol, path, batch)
        ivf.nlist
      case Right(imi) =>
        initImi(emb.sparkSession, path, imi)
        append(emb, idCol, vecCol, path, batch)
        imi.nlist
    }
  }

  /** [[buildPq]] with [[autoNlist]] geometry — the IVF-PQ face of
    * [[buildAuto]] (same sizing, same training switch, same returned
    * nlist). PQ codebook geometry (`m`, `ksub`) is data-width, not
    * corpus-size, so it stays explicit.
    */
  def buildPqAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      targetCellRows: Long = 4096L,
      m: Int = 8,
      ksub: Int = 16,
      minNlist: Int = 16,
      maxNlist: Int = 1 << 22,
      corpusRows: Option[Long] = None,
      fullTrainAbove: Int = 512,
      kmeansIters: Int = 5,
      batch: String = "00000001",
      imiAbove: Int = 1 << 14): Int = {
    val n = corpusRows.getOrElse(emb.count())
    val sized = autoNlist(n, targetCellRows, minNlist, maxNlist)
    // PQ sample size rides Pq.train's 32 × ksub floor — at the serving
    // shape (m = 32, ksub = 256) that is 8,192 rows, not the 1,024 the
    // old 4 × ksub callsite passed (4 points per sub-centroid — the
    // same training starvation class the coarse quantizer's 32 × nlist
    // sample exists to prevent)
    val cb = Pq.train(emb, idCol, vecCol, m, ksub, 512, kmeansIters)
    trainAutoCoarse(emb, idCol, vecCol, sized, imiAbove, fullTrainAbove, kmeansIters) match {
      case Left(ivf) =>
        initPq(emb.sparkSession, path, ivf, cb)
        append(emb, idCol, vecCol, path, batch)
        ivf.nlist
      case Right(imi) =>
        initImiPq(emb.sparkSession, path, imi, cb)
        append(emb, idCol, vecCol, path, batch)
        imi.nlist
    }
  }

  private def trainAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      fullTrainAbove: Int,
      kmeansIters: Int): IvfIndex =
    if (nlist <= fullTrainAbove)
      Similarity.trainIvf(emb, idCol, vecCol, nlist,
        sampleRows = math.max(512, 32 * nlist), kmeansIters = kmeansIters)
    else
      // the large-nlist regime is exactly where uniform seeding starves
      // cells — the full trainer runs with k-means|| seeding here
      Similarity.trainIvfFull(emb, idCol, vecCol, nlist, kmeansIters,
        scalableSeed = true)

  /** The auto-geometry quantizer decision: flat k-means up to `imiAbove`
    * sized cells, the two-level product quantizer above it. The flat
    * form's per-task payload is `sized × dim` doubles and its training
    * is one k-means over `sized` centroids — both stop being sane around
    * ~10⁴ cells (the round-15 ceiling); past that, IMI delivers the same
    * sized cell count (rounded up to the enclosing `k²` grid) from
    * `2 · ceil(√sized)` trained centroids. Everything downstream
    * (postings, probes, PQ, maintenance) is quantizer-agnostic through
    * [[Coarse]]; odd vector dimensions split ceil/floor across the IMI
    * halves (d² decomposes over any dim partition), so no corpus shape
    * is excluded from the auto path.
    */
  private def trainAutoCoarse(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      sized: Int,
      imiAbove: Int,
      fullTrainAbove: Int,
      kmeansIters: Int): Either[IvfIndex, Imi.ImiIndex] =
    if (sized > imiAbove)
      Right(Imi.trainImi(emb, idCol, vecCol,
        math.ceil(math.sqrt(sized.toDouble)).toInt, kmeansIters, fullTrainAbove))
    else
      Left(trainAuto(emb, idCol, vecCol, sized, fullTrainAbove, kmeansIters))

  /** Per-batch postings counts — the maintenance signal for [[compact]]:
    * (batch, vectors). One narrow count per batch; the label comes from
    * the file path (`_metadata.file_path`), not the inferred partition
    * column, so zero-padded labels survive numeric type inference.
    */
  def stats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(vectorsDir(path))
      .groupBy(regexp_extract(col("_metadata.file_path"), "/batch=([^/]+)/", 1).as("batch"))
      .agg(count(lit(1)).as("vectors"))

  /** Coalesce every current batch into ONE new batch partition and drop
    * the sources. Restores the range clustering ([[append]]'s
    * repartitionByRange is per batch, so cell ranges overlap ACROSS
    * batches until re-clustered) and bounds file-listing overhead for
    * per-micro-batch ingestion loops. Returns the merged batch label.
    *
    * Concurrency contract (same as [[DedupIndex.compact]]): safe against
    * concurrent PROBES in the promote-then-delete window — duplicated
    * postings cannot change a probe's answer ([[crossNeighbors]]
    * deduplicates postings and collapses pairs via groupBy-max, and its
    * occupancy cap counts distinct members). A probe that already LISTED
    * a source batch's files when the delete lands fails with a transient
    * file-not-found — retry it. Do NOT run concurrently with [[append]]
    * or another compact.
    */
  def compact(spark: SparkSession, path: String): String =
    table(spark, path).compact { old =>
      (spark.read.parquet(old.map(b => s"${vectorsDir(path)}/batch=$b"): _*)
        .repartitionByRange(col("cell"))
        .sortWithinPartitions("cell", "id"), _ => Nil)
    }

  /** Geometry health, one row: has continuous ingestion outgrown the cell
    * count this index was built with? `(nlist, corpus_rows,
    * mean_cell_rows, sized_nlist, resize_recommended)` — recommended when
    * the mean cell holds more than `slack × targetCellRows` postings AND
    * resizing would actually change the geometry. The signal behind the
    * round-15 100× finding: probe work grows ∝ corpus/nlist, so an index
    * that ingested 10× its build-time corpus probes ~10× slower per cell
    * until [[rebuildAuto]] restores constant-size cells. One
    * distinct-id count over the postings (one narrow scan + an id
    * exchange), driver-thin — run it on the [[stats]]/[[compact]]
    * maintenance cadence, where the dedup is also what makes it SAFE on
    * that cadence: a compact's promote-then-delete window doubles every
    * posting, and a raw count taken there would spuriously recommend a
    * resize.
    *
    * `slack` is the probe-cost tolerance: the recommendation fires when
    * the mean cell — and therefore per-cell probe cost — exceeds
    * `slack ×` target. Default 2.0 (round 16; was 4.0): the round-16
    * 100× measurement caught a geometry at 3.05× over target that the
    * old default left unflagged while a 3.4 s rebuild bought a 9.6×
    * probe recovery (BENCH_NOTES round-16 table) — tolerating 4× probe
    * cost by default was the wrong side of that trade.
    */
  def resizeReport(
      spark: SparkSession,
      path: String,
      targetCellRows: Long = 4096L,
      slack: Double = 2.0,
      minNlist: Int = 16,
      maxNlist: Int = 1 << 22): DataFrame = {
    val nlist = coarse(spark, path).nlist
    // distinct ids, not raw postings rows: the report runs on the same
    // maintenance cadence as [[compact]], whose promote-then-delete
    // window legitimately doubles every posting — a raw count taken in
    // that window would double corpus_rows and spuriously recommend a
    // resize at an inflated sized_nlist (the same reason crossNeighbors
    // and rebuildAuto dedup before using postings)
    val n =
      if (batches(spark, path).isEmpty) 0L
      else spark.read.parquet(vectorsDir(path))
        .select("id").dropDuplicates("id").count()
    val sized = autoNlist(n, targetCellRows, minNlist, maxNlist)
    val meanCell = if (nlist == 0) 0.0 else n.toDouble / nlist
    import spark.implicits._
    Seq((nlist, n, meanCell, sized,
      meanCell > slack * targetCellRows && sized != nlist))
      .toDF("nlist", "corpus_rows", "mean_cell_rows", "sized_nlist",
        "resize_recommended")
  }

  /** Cell-occupancy health, one row — the [[DedupIndex.occupancyReport]]
    * analogue for the vector index, and [[resizeReport]]'s skew
    * companion: `(cells, postings, mean_occupancy, max_occupancy,
    * hot_cells, hot_postings, hot_postings_frac)` where occupancy is
    * DISTINCT corpus ids per cell and "hot" means above `maxCell` (the
    * [[crossNeighbors]] cap — members of hot cells beyond the keeper are
    * exactly the recall the cap bounds). resizeReport's mean-cell signal
    * cannot see this: IMI's residual trade is SKEW (a product grid fits
    * each cell more coarsely than free k-means, so real corpora
    * concentrate), and a mean-healthy index can still route its hottest
    * cells onto the keeper-only path on every probe that touches them.
    * `hot_postings_frac` is the headline — the fraction of postings the
    * cap would short-circuit. Distinct ids, not raw rows, for the same
    * reason as resizeReport: [[compact]]'s promote-then-delete window
    * legitimately doubles every posting. `cells` counts OCCUPIED cells
    * (nlist minus empties — compare with [[resizeReport]]'s nlist to see
    * dead cells). One narrow 2-column aggregation over the postings,
    * driver-thin; zeros on an empty index. Run it on the
    * [[stats]]/[[compact]] cadence; registered no-oracle face q65j
    * (AnnIndexSpec pins the arithmetic on a hand corpus and its
    * invariance across the compact window).
    */
  def occupancyReport(
      spark: SparkSession,
      path: String,
      maxCell: Int = 256): DataFrame = {
    import spark.implicits._
    if (batches(spark, path).isEmpty)
      return Seq((0L, 0L, 0.0, 0L, 0L, 0L, 0.0))
        .toDF("cells", "postings", "mean_occupancy", "max_occupancy",
          "hot_cells", "hot_postings", "hot_postings_frac")
    // coalesce every aggregate: batches can exist with ZERO postings (an
    // empty frame appended under a real label) and the report must stay
    // all-zeros, not nullable — the [[DedupIndex.occupancyReport]] law
    spark.read.parquet(vectorsDir(path))
      .groupBy("cell")
      .agg(count_distinct(col("id")).as("occ"))
      .agg(
        count(lit(1)).as("cells"),
        coalesce(sum(col("occ")), lit(0L)).as("postings"),
        coalesce(avg(col("occ")), lit(0.0)).as("mean_occupancy"),
        coalesce(max(col("occ")), lit(0L)).as("max_occupancy"),
        count(when(col("occ") > maxCell, 1)).as("hot_cells"),
        coalesce(sum(when(col("occ") > maxCell, col("occ"))), lit(0L))
          .as("hot_postings"))
      .select(col("cells"), col("postings"), col("mean_occupancy"),
        col("max_occupancy"), col("hot_cells"), col("hot_postings"),
        when(col("postings") > 0L,
          col("hot_postings").cast("double") / col("postings").cast("double"))
          .otherwise(lit(0.0))
          .as("hot_postings_frac"))
  }

  /** Maintenance verdict combining BOTH health signals — the mean-cell
    * growth [[resizeReport]] acts on and the occupancy skew
    * [[occupancyReport]] measures but (before r18) nothing acted on: an
    * index whose `hot_postings_frac` is high serves keeper-only answers
    * on every probe that touches a hot cell, and no rebuild fires
    * because the mean is healthy (VERDICT r17 item 1). One row with the
    * evidence and a deterministic `recommended` string:
    *
    *  - `healthy` — empty index, or neither signal fires.
    *  - `rebuild_resize` — [[resizeReport]]'s condition verbatim (mean
    *    cell > slack × target and the sized nlist differs): run
    *    [[rebuildAuto]] at `targetCellRows`.
    *  - `rebuild_skew_larger_nlist` / `rebuild_skew_imi` — the mean is
    *    healthy but hot cells hold > `hotFracMax` of the postings AND
    *    the skew is REDUCIBLE (hot cells contain more distinct vectors
    *    than the cap — a finer quantizer can split them): run
    *    [[rebuildAuto]] at `targetCellRows / skewShrink`; the `_imi`
    *    variant tells the operator the finer `skew_nlist` crosses
    *    `imiAbove`, so the rebuild will land the product-grid quantizer.
    *  - `flag_irreducible_duplicates` — hot, but the dominant hot mass
    *    sits in cells whose DISTINCT-vector count is within the cap:
    *    one repeated vector (or a handful) no geometry can split. The
    *    remedy is upstream — [[dedupBatch]] at ingest, or a dedup pass —
    *    and a rebuild would only re-shuffle the duplicates.
    *
    * Distinct vectors are counted as distinct `xxhash64(vec)` — an
    * 8-byte shuffle instead of the raw vectors, with a collision
    * probability that cannot move a 0.5-fraction dominance test.
    * Distinct (cell, id) postings everywhere else, so [[compact]]'s
    * promote-then-delete window cannot double any signal. One narrow
    * aggregation over (cell, id, vec) + a driver-side one-row verdict;
    * run on the [[stats]]/[[compact]] cadence. The reducible-skew branch
    * is oracle-gated end-to-end as q65l (recommendation string pinned,
    * remediated probe exact under the q65e arithmetic oracle);
    * AnnIndexSpec pins every branch on hand-built quantizers.
    */
  def maintenanceReport(
      spark: SparkSession,
      path: String,
      targetCellRows: Long = 4096L,
      slack: Double = 2.0,
      maxCell: Int = 256,
      hotFracMax: Double = 0.2,
      minNlist: Int = 16,
      maxNlist: Int = 1 << 22,
      imiAbove: Int = 1 << 14,
      skewShrink: Long = 4L): DataFrame = {
    require(skewShrink >= 1L, s"skewShrink must be >= 1, got $skewShrink")
    import spark.implicits._
    val nlist = coarse(spark, path).nlist
    def row(
        n: Long, mean: Double, sized: Int, hotCells: Long, hotFrac: Double,
        irrFrac: Double, skewNlist: Int, rec: String): DataFrame =
      Seq((nlist.toLong, n, mean, sized.toLong, hotCells, hotFrac, irrFrac,
        skewNlist.toLong, rec))
        .toDF("nlist", "corpus_rows", "mean_cell_rows", "sized_nlist",
          "hot_cells", "hot_postings_frac", "irreducible_frac",
          "skew_nlist", "recommended")
    if (batches(spark, path).isEmpty)
      return row(0L, 0.0, autoNlist(0L, targetCellRows, minNlist, maxNlist),
        0L, 0.0, 0.0, autoNlist(0L, math.max(1L, targetCellRows / skewShrink),
          minNlist, maxNlist), "healthy")
    val agg = spark.read.parquet(vectorsDir(path))
      .groupBy("cell")
      .agg(
        count_distinct(col("id")).as("occ"),
        count_distinct(xxhash64(col("vec"))).as("vecs"))
      .agg(
        coalesce(sum(col("occ")), lit(0L)).as("postings"),
        count(when(col("occ") > maxCell, 1)).as("hot_cells"),
        coalesce(sum(when(col("occ") > maxCell, col("occ"))), lit(0L))
          .as("hot_postings"),
        coalesce(sum(when(col("occ") > maxCell && col("vecs") <= maxCell,
          col("occ"))), lit(0L)).as("irreducible_postings"))
      .head()
    val n = agg.getAs[Long]("postings")
    val hotCells = agg.getAs[Long]("hot_cells")
    val hot = agg.getAs[Long]("hot_postings")
    val irr = agg.getAs[Long]("irreducible_postings")
    val mean = if (nlist == 0) 0.0 else n.toDouble / nlist
    val sized = autoNlist(n, targetCellRows, minNlist, maxNlist)
    val skewNlist =
      autoNlist(n, math.max(1L, targetCellRows / skewShrink), minNlist, maxNlist)
    val hotFrac = if (n == 0L) 0.0 else hot.toDouble / n
    val irrFrac = if (hot == 0L) 0.0 else irr.toDouble / hot
    val rec =
      if (n == 0L) "healthy"
      else if (mean > slack * targetCellRows && sized != nlist) "rebuild_resize"
      else if (hotFrac > hotFracMax) {
        if (irrFrac > 0.5) "flag_irreducible_duplicates"
        else if (skewNlist > imiAbove && !hasImi(spark, path)) "rebuild_skew_imi"
        else "rebuild_skew_larger_nlist"
      } else "healthy"
    row(n, mean, sized, hotCells, hotFrac, irrFrac, skewNlist, rec)
  }

  /** One-call retrain-and-rebuild at [[autoNlist]] geometry — the
    * documented rebuild protocol ([[init]] refuses to retrain in place
    * because landed postings carry the OLD cell assignment) packaged as
    * an operator. Reads the landed postings' raw `(id, vec)` once
    * (id-deduplicated: during [[compact]]'s promote-then-delete window a
    * posting legitimately exists twice), trains at the corpus-sized cell
    * count, and lands everything as batch `00000001` of a fresh index at
    * `newPath`. The caller flips readers to `newPath` (a config/symlink
    * swap — the index is immutable-by-path, so the flip is atomic by
    * construction) and deletes the old index afterwards. A PQ index keeps
    * its codebook: PQ geometry is data-width, not corpus-size, and
    * [[append]] recomputes codes/norms either way. Returns the chosen
    * nlist so the caller re-sizes `nprobe` in the same breath.
    *
    * Live-ingest handover ([[graft.streaming.Streams.annIngest]] feeding
    * this index): stop the stream, rebuild, restart pointed at `newPath`
    * with the SAME checkpoint. The ingest lands output before it appends
    * postings, so the one crash window (output landed, index append
    * lost) replays cleanly: the re-executed micro-batch skips the landed
    * output and appends its postings to the NEW index — which is exactly
    * right, because the rebuild consumed only the batches the old index
    * had actually committed. A FRESH checkpoint is the one wrong move
    * (batch ids restart at 0 and replay the whole source into used
    * output labels).
    */
  def rebuildAuto(
      spark: SparkSession,
      oldPath: String,
      newPath: String,
      targetCellRows: Long = 4096L,
      minNlist: Int = 16,
      maxNlist: Int = 1 << 22,
      fullTrainAbove: Int = 512,
      kmeansIters: Int = 5,
      imiAbove: Int = 1 << 14): Int = {
    require(batches(spark, oldPath).nonEmpty,
      s"nothing to rebuild at $oldPath — the index holds no batches")
    require(batches(spark, newPath).isEmpty,
      s"rebuild target $newPath already holds batches; pick a fresh path")
    // pinned: the deduped postings read feeds MANY actions — the count,
    // every Lloyd iteration (plus the k-means|| potential/sampling/weight
    // scans on the large-nlist branch), and the final append. Unpinned,
    // each action replays the full scan AND the corpus-wide dedup
    // exchange (~15 redundant shuffles at default iters); pinning pays
    // it once, spilling to disk if the postings outgrow memory. Scoped
    // so the pin cannot leak past the rebuild.
    Caches.scoped {
      val vecs = Caches.pin(
        spark.read.parquet(vectorsDir(oldPath))
          .select(col("id"), col("vec"))
          .dropDuplicates("id"))
      val n = vecs.count()
      val sized = autoNlist(n, targetCellRows, minNlist, maxNlist)
      val pq = if (hasPq(spark, oldPath)) Some(pqCodebook(spark, oldPath)) else None
      // a rebuild can CROSS the quantizer-type boundary in either
      // direction: an index that grew past imiAbove re-lands as IMI, one
      // that shrank (after upstream pruning) re-lands flat — the
      // postings carry no quantizer-type memory, only cell ids
      val nlist = trainAutoCoarse(
        vecs, "id", "vec", sized, imiAbove, fullTrainAbove, kmeansIters) match {
        case Left(ivf) =>
          pq.fold(init(spark, newPath, ivf))(initPq(spark, newPath, ivf, _))
          ivf.nlist
        case Right(imi) =>
          pq.fold(initImi(spark, newPath, imi))(initImiPq(spark, newPath, imi, _))
          imi.nlist
      }
      append(vecs, "id", "vec", newPath, "00000001")
      // trained nlist, not the autoNlist target — see [[buildAuto]]
      nlist
    }
  }

  /** The nprobe that preserves a recall FRACTION against this index's
    * actual geometry: `ceil(fraction × nlist)`, floored at 1. IVF recall
    * is governed by nprobe/nlist, so a caller holding `nprobe = 4` while
    * [[buildAuto]]/[[rebuildAuto]] scale nlist with the corpus silently
    * probes an ever-thinner corpus slice; reading the fraction off the
    * saved quantizer keeps probe semantics stable across rebuilds
    * (`fraction = 1.0` is the exact mode the q65e/q65f gates run at).
    * One tiny centroid-table read, driver-side.
    */
  def nprobeFor(spark: SparkSession, path: String, fraction: Double): Int = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"recall fraction must be in (0, 1], got $fraction")
    math.max(1, math.ceil(fraction * coarse(spark, path).nlist).toInt)
  }

  /** Delete invisible staging residue left by crashed appends. Safe while
    * readers are active; do NOT run concurrently with an in-flight
    * [[append]] to the same index.
    */
  def vacuum(spark: SparkSession, path: String): Unit = table(spark, path).vacuum()

  /** Near-neighbor pairs between a new batch and the indexed corpus:
    * (batch_id, corpus_id, cosine) with cosine ≥ threshold, one row per
    * pair (max over probe paths). Each batch vector probes its `nprobe`
    * nearest cells; the probed-cell set broadcast-semi-joins the postings
    * scan (map-side file pruning — the corpus side never enters an
    * exchange), and every candidate is verified by exact cosine on the
    * stored vectors. Cost: one batch pass + a postings scan restricted to
    * probed cells + candidate-sized verification — corpus vectors outside
    * probed cells are never read.
    *
    * Recall contract: a pair is found iff the corpus vector's home cell
    * is among the batch vector's `nprobe` nearest cells — the standard
    * IVF trade (raise `nprobe` toward `nlist` for exact). Over-cap cells
    * (`maxCell`) contribute only their keeper (min corpus id), verified
    * by true cosine — bounded extra loss, observable via [[hotCells]].
    *
    * Batch-size contract: this physical shape broadcasts the probes
    * table (batch × nprobe rows with the query vectors) — right for the
    * per-micro-batch serving path; for bulk backfills use
    * [[crossNeighborsBulk]], which keeps the semantics and swaps the
    * broadcast for a cell-keyed shuffle join.
    */
  def crossNeighbors(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double = 0.95,
      nprobe: Int = 4,
      maxCell: Int = Int.MaxValue): DataFrame =
    crossNeighbors(batchDf, idCol, vecCol, path, threshold, Probe.Cells(nprobe), maxCell)

  /** [[crossNeighbors]] with a [[Probe]]-typed width — `Probe.Fraction`
    * resolves against the saved quantizer per call, so the probed
    * fraction (and therefore recall semantics) survives [[rebuildAuto]]
    * geometry changes without the caller re-deriving nprobe.
    */
  def crossNeighbors(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      probe: Probe,
      maxCell: Int): DataFrame =
    crossNeighborsImpl(batchDf, idCol, vecCol, path, threshold, probe, maxCell,
      broadcastProbes = true)

  /** [[crossNeighbors]] for CORPUS-SCALE batches — identical semantics
    * (AnnIndexSpec pins result equality), different physical shape. The
    * per-batch probe broadcasts the whole probes table (batch_id, query
    * vector, probed cell — batch × nprobe rows) to every task: right
    * when the batch is micro-batch-sized, a driver/executor OOM when it
    * is a bulk backfill (10⁷ rows × nprobe 4 × a 768-dim float vector ≈
    * 100+ GB of broadcast). Here only the DISTINCT probed-cell set is
    * broadcast for map-side postings pruning (≤ nlist ints — bounded by
    * geometry, not batch size), and the candidate join shuffles BOTH
    * sides by cell instead — the standard symmetric-join shape for two
    * large inputs, with AQE's skew-join splitting hot cells. Use this
    * when the batch is within an order of magnitude of the probed
    * postings; use [[crossNeighbors]] for the per-micro-batch serving
    * path its scaladoc describes.
    */
  def crossNeighborsBulk(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double = 0.95,
      probe: Probe = Probe.Cells(4),
      maxCell: Int = Int.MaxValue): DataFrame =
    crossNeighborsImpl(batchDf, idCol, vecCol, path, threshold, probe, maxCell,
      broadcastProbes = false)

  /** Probe-time staleness guard (VERDICT r17 item 7): the r16 100×
    * ladder measured a 724 s probe against a grossly outgrown geometry —
    * the cost of ignoring [[resizeReport]], visible only on the stats
    * cadence. The probe itself holds a cheap in-band signal: the mean
    * occupancy of the cells it ACTUALLY probed (rows / distinct cells of
    * the pinned probed-postings table — a narrow re-read of a cache the
    * join pass reads anyway). When that mean exceeds
    * `slack × targetCellRows`, the probe logs ONE loud warning naming
    * the remedy, so the maintenance loop's economics surface where the
    * pain is paid. The check memoizes per index path
    * ([[checkIntervalNanos]]): staleness changes on append/compact
    * timescales, so a serving loop pays the aggregate once per interval,
    * not per call. Knobs are module-wide (a diagnostics parameter on
    * every serving face would churn a dozen signatures); `onWarn` is the
    * spec hook and defaults to the slf4j warn ([[StaleGuard]]'s shell;
    * the check costs ~0.2–0.4 s per probe at sf0.1, ~zero after the
    * per-interval memo). Disable entirely with `enabled = false` — the
    * check forces the probes-side pin one aggregate early, never changes
    * an answer.
    */
  private[graft] object staleGuard extends StaleGuard("graft.AnnIndex") {
    @volatile var targetCellRows: Long = 4096L
    @volatile var slack: Double = 8.0

    private[operators] def check(path: String, matched: DataFrame): Unit = {
      if (!due(path)) return
      val r = matched.agg(
        count(lit(1)).as("rows"),
        count_distinct(col("cell")).as("cells")).head()
      val rows = r.getAs[Long]("rows")
      val cells = r.getAs[Long]("cells")
      val mean = if (cells == 0L) 0.0 else rows.toDouble / cells
      if (mean > slack * targetCellRows)
        onWarn(
          f"graft ANN probe against outgrown index $path: mean probed-cell " +
            f"occupancy $mean%.0f exceeds $slack%.1f x target $targetCellRows " +
            f"rows ($rows postings / $cells probed cells) — run " +
            "AnnIndex.maintenanceReport and rebuild; every probe is paying " +
            "for the stale geometry")
    }
  }

  private def crossNeighborsImpl(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      probe: Probe,
      maxCell: Int,
      broadcastProbes: Boolean): DataFrame = {
    val spark = batchDf.sparkSession
    val index = coarse(spark, path)
    // Batch probes: read twice (probed-cell set + candidate join) → pinned
    // (spills to disk on bulk batches — the assignment pass is paid once).
    val probes = Caches.pin(
      batchDf.select(
        col(idCol).as("batch_id"),
        col(vecCol).as("__qvec"),
        explode(index.cells(col(vecCol), Probe.resolve(probe, index.nlist)))
          .as("cell")))
    if (batches(spark, path).isEmpty)
      return probes
        .select(col("batch_id"), col("batch_id").as("corpus_id"), lit(0.0).as("cosine"))
        .where(lit(false))

    // Postings restricted to probed cells. The distinct cell set is tiny
    // (≤ nlist ints whatever the batch size) → always broadcast; the
    // semi-join prunes the postings scan map-side. distinct(): during
    // compact's promote-then-delete window every posting exists twice —
    // raw-row occupancy would double __occ and flip under-cap cells onto
    // the keeper-only path. Re-read by the occupancy split below →
    // pinned (probed-cells-sized, not corpus-sized).
    val matched = Caches.pin(
      spark.read.parquet(vectorsDir(path))
        .join(broadcast(probes.select("cell").distinct()), Seq("cell"), "left_semi")
        .select(col("cell"), col("id").as("corpus_id"), col("vec"))
        .distinct())

    staleGuard.check(path, matched)
    // Hot/cold split WITHOUT the full-frame window (§2.3): the uncapped
    // default has no hot side at all, and a finite cap derives both the
    // over-cap keys and their keepers from ONE grouped aggregate over the
    // pinned probed-cell subset (partial map-side aggregation; re-reads
    // are cache hits), the cold side anti-joining the tiny hot-key list.
    val candidates =
      if (maxCell == Int.MaxValue) matched.select(col("cell"), col("corpus_id"), col("vec"))
      else {
        val hot = matched.groupBy("cell")
          .agg(count(lit(1)).as("__occ"),
            min(col("corpus_id")).as("corpus_id"),
            min_by(col("vec"), col("corpus_id")).as("vec"))
          .where(col("__occ") > maxCell)
        matched.join(hot.select("cell"), Seq("cell"), "left_anti")
          .select(col("cell"), col("corpus_id"), col("vec"))
          .unionByName(hot.select(col("cell"), col("corpus_id"), col("vec")))
      }
    // per-micro-batch: the probes table is small → broadcast it and the
    // corpus side never enters an exchange. Bulk: hint nothing — both
    // sides are large, Catalyst shuffles them by cell (AQE splits skewed
    // cells), and the broadcast ceiling no longer binds the batch size.
    val probesSide = if (broadcastProbes) broadcast(probes) else probes
    candidates
      .join(probesSide, Seq("cell"))
      .select(
        col("batch_id"), col("corpus_id"),
        vectors.cosine(col("vec"), col("__qvec")).as("cosine"))
      .where(col("cosine") >= threshold)
      .groupBy("batch_id", "corpus_id")
      .agg(max("cosine").as("cosine"))
  }

  /** [[crossNeighbors]] through the PQ screening path — the 100 TB probe
    * shape. Three passes, each reading only what it needs (parquet column
    * pruning keeps them on the SAME postings table):
    *
    *   1. candidate screen: postings restricted to probed cells, reading
    *      (cell, id, code, norm) — m+8 bytes per vector, never `vec`.
    *      Approximate cosine = ADC dot over code bytes / (|q| · stored
    *      exact norm); candidates below `threshold − margin` drop here.
    *   2. survivor fetch: (cell, id, vec) for screened survivors only —
    *      an id-keyed join of the survivor set against the probed-cell
    *      postings subset. Survivors ≈ true pairs + margin noise, so at
    *      scale this reads a vanishing fraction of raw vectors.
    *   3. exact verify: true cosine on fetched vectors, `threshold`
    *      applied — the emitted pairs are EXACT, identical in kind to
    *      [[crossNeighbors]]'s (PQ affects which candidates are looked
    *      at, never what a match means).
    *
    * Recall contract = [[crossNeighbors]]'s cell contract AND the screen:
    * a true pair is missed only if its home cell is outside the probed
    * set, OR the ADC approximation underestimates its cosine by more than
    * `margin` (quantization error — widen `margin` or the codebook to
    * tighten; AnnIndexSpec pins planted-dup equality with the exact
    * twin). Over-cap cells route to keepers with TRUE-cosine
    * verification, bypassing the screen — the cap never compounds with
    * quantization error.
    *
    * `scoreWithLut` switches the screen to the per-query ADC lookup
    * table ([[graft.expressions.PqLutExpr]]): O(m) gathers per candidate
    * instead of O(dim) multiplies, BIT-IDENTICAL scores (both sum
    * per-subspace partials). The trade: the table is m·ksub doubles PER
    * PROBE ROW riding the batch broadcast — right for serving-style
    * probes (few query vectors, many candidates each), wrong for bulk
    * batches at large ksub, hence opt-in.
    */
  def crossNeighborsPq(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double = 0.95,
      nprobe: Int = 4,
      maxCell: Int = Int.MaxValue,
      margin: Double = 0.1,
      scoreWithLut: Boolean = false): DataFrame =
    crossNeighborsPq(batchDf, idCol, vecCol, path, threshold, Probe.Cells(nprobe),
      maxCell, margin, scoreWithLut)

  /** [[crossNeighborsPq]] with a [[Probe]]-typed width — see
    * [[crossNeighbors]]'s Probe overload for the rebuild-stability
    * rationale.
    */
  def crossNeighborsPq(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      probe: Probe,
      maxCell: Int,
      margin: Double,
      scoreWithLut: Boolean): DataFrame = {
    val spark = batchDf.sparkSession
    val index = coarse(spark, path)
    val cb = pqCodebook(spark, path)
    val probeCols = Seq(
      col(idCol).as("batch_id"),
      col(vecCol).as("__qvec"),
      vectors.norm(col(vecCol)).as("__qnorm"),
      explode(index.cells(col(vecCol), Probe.resolve(probe, index.nlist)))
        .as("cell")) ++
      (if (scoreWithLut) Seq(pqLut(cb, col(vecCol)).as("__lut")) else Nil)
    val probes = Caches.pin(batchDf.select(probeCols: _*))
    if (batches(spark, path).isEmpty)
      return probes
        .select(col("batch_id"), col("batch_id").as("corpus_id"), lit(0.0).as("cosine"))
        .where(lit(false))

    // micro-batch serving: the probes table is small → broadcast it past
    // every join
    val probedCells = probes.select("cell").distinct()
    // pass 1: screening columns only — `vec` stays on disk
    val codes = Caches.pin(
      spark.read.parquet(vectorsDir(path))
        .select(col("cell"), col("id").as("corpus_id"), col("code"), col("norm"))
        .join(broadcast(probedCells), Seq("cell"), "left_semi")
        .distinct())
    val approxDot =
      if (scoreWithLut) pqLutDot(cb, col("code"), col("__lut"))
      else pqAdcDot(cb, col("code"), col("__qvec"))
    staleGuard.check(path, codes)
    // hot/cold split without the full-frame window — see crossNeighborsImpl
    val hot =
      if (maxCell == Int.MaxValue) None
      else Some(codes.groupBy("cell")
        .agg(count(lit(1)).as("__occ"), min(col("corpus_id")).as("corpus_id"))
        .where(col("__occ") > maxCell))
    val cold = hot.fold(codes)(h => codes.join(h.select("cell"), Seq("cell"), "left_anti"))
    val screened = cold
      .join(broadcast(probes), Seq("cell"))
      .where(approxDot >= (lit(threshold - margin) * col("__qnorm") * col("norm")))
      .select(col("cell"), col("batch_id"), col("corpus_id"))
    // over-cap cells: keeper only, NO screen — true cosine decides below
    val survivors = hot.fold(screened)(h => screened.unionByName(
      h.select("cell", "corpus_id")
        .join(broadcast(probes.select("cell", "batch_id")), Seq("cell"))
        .select(col("cell"), col("batch_id"), col("corpus_id"))))
    // pass 2: raw vectors for survivors only (cell prune map-side, then
    // id-keyed join — survivor-sized, not corpus-sized)
    val fetched = spark.read.parquet(vectorsDir(path))
      .select(col("cell"), col("id").as("corpus_id"), col("vec"))
      .join(broadcast(probedCells), Seq("cell"), "left_semi")
      .join(survivors, Seq("cell", "corpus_id"))
    // pass 3: exact verify
    fetched
      .join(broadcast(probes.select("batch_id", "__qvec").distinct()), Seq("batch_id"))
      .select(
        col("batch_id"), col("corpus_id"),
        vectors.cosine(col("vec"), col("__qvec")).as("cosine"))
      .where(col("cosine") >= threshold)
      .groupBy("batch_id", "corpus_id")
      .agg(max("cosine").as("cosine"))
  }

  /** Audit view of the index cells the probe cap short-circuits for this
    * batch: (cell, occupancy) over probed cells whose distinct corpus
    * membership exceeds `maxCell`. Run alongside [[crossNeighbors]] to
    * observe (and tune) what the cap routes to the keeper path.
    */
  def hotCells(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nprobe: Int = 4,
      maxCell: Int = 256): DataFrame = {
    val spark = batchDf.sparkSession
    val index = coarse(spark, path)
    val probed = batchDf.select(
      explode(index.cells(col(vecCol), math.min(nprobe, index.nlist))).as("cell"))
      .distinct()
    if (batches(spark, path).isEmpty)
      return probed.select(col("cell"), lit(0L).as("occupancy")).where(lit(false))
    spark.read.parquet(vectorsDir(path))
      .join(broadcast(probed), Seq("cell"), "left_semi")
      .groupBy("cell")
      .agg(count_distinct(col("id")).as("occupancy"))
      .where(col("occupancy") > maxCell)
  }

  /** End-to-end batch acceptance: drop batch vectors that near-duplicate
    * the indexed corpus ([[crossNeighbors]]), then near-dedup the
    * survivors among themselves (LSH-blocked cosine pairs → connected
    * components → keep each cluster's min id). Returns the accepted rows
    * of `batchDf` — the frame a pipeline would then [[append]] under a
    * fresh batch label and write downstream.
    */
  def dedupBatch(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      probe: Probe,
      maxCell: Int,
      dim: Int): DataFrame =
    acceptFresh(batchDf, idCol, vecCol, threshold, maxCell, dim,
      crossNeighbors(batchDf, idCol, vecCol, path, threshold, probe, maxCell))

  /** [[dedupBatch]] with the corpus probe on the PQ screening path
    * ([[crossNeighborsPq]]) — the batch-acceptance shape for PQ-enabled
    * indexes at corpus scale: the against-corpus pass reads code bytes,
    * not raw postings vectors. The within-batch near-dedup is unchanged
    * (the batch side is batch-sized; screening it buys nothing).
    */
  def dedupBatchPq(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      probe: Probe,
      maxCell: Int,
      margin: Double,
      dim: Int): DataFrame =
    acceptFresh(batchDf, idCol, vecCol, threshold, maxCell, dim,
      crossNeighborsPq(batchDf, idCol, vecCol, path, threshold, probe, maxCell, margin,
        scoreWithLut = false))

  /** The rows of `batchDf` that no corpus pair in `inCorpus` names, with
    * each within-batch near-duplicate cluster cut to its min id.
    */
  private def acceptFresh(
      batchDf: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxCell: Int,
      dim: Int,
      inCorpus: DataFrame): DataFrame = {
    val fresh = batchDf.join(
      inCorpus.select(col("batch_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
    val pairs = Similarity.cosineNearDupPairs(
      fresh, idCol, vecCol, threshold, dim = dim,
      maxBucket = maxCell)
    val dropped = Dedup.duplicateClusters(pairs)
      .where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    fresh.join(dropped, Seq(idCol), "left_anti")
  }
}
