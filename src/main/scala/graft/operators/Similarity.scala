package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  *  - `bruteForceTopK`: exact cosine top-k. The query side is a 1-row
  *    broadcast; the corpus streams map-side, then a single top-k sort
  *    (TakeOrderedAndProject — no full global sort materialization).
  *  - `lshTopK`: random-hyperplane LSH. Corpus is pre-bucketed by a
  *    multi-band signature; search probes only colliding buckets, so at
  *    1000 executors each query touches ~corpus/2^bits of the data instead
  *    of all of it. Recall is tunable via bands (more bands = more probes).
  */
object Similarity {

  /** Exact top-k by cosine against the embedding of `queryId`. */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    val q = emb
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    Partitioning.spread(emb)
      .join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(
        col(idCol),
        vectors.cosine(col(vecCol), col("__qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Binary (Hamming) top-k over sign-bit codes ([[Quantize
    * .signBits]]): the 1-bit ANN face — distance = popcount of the
    * XOR of two 64-bit codes, one integer instruction per candidate
    * after a scan that reads 8 BYTES per vector instead of 256 (the
    * 64-dim float column). Entirely integer, so unlike the float ANN
    * faces this one is EXACTLY oracle-gateable end to end. NULL
    * embeddings quarantine (never rank — the sq8TopKExactInt
    * contract); ties break on ascending id; the global top-k rides
    * TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver). Output: `(idCol, hamming)`.
    */
  def hammingTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      dim: Int = 64): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val code = Quantize.signBits(col(vecCol), dim)
    val q = emb
      .where(col(idCol) === queryId && col(vecCol).isNotNull)
      .select(code.as("__qcode"))
    Partitioning.spread(emb.where(col(idCol) =!= queryId && col(vecCol).isNotNull))
      .join(broadcast(q))
      .select(col(idCol), bit_count(code.bitwiseXOR(col("__qcode"))).cast("int").as("hamming"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k)
  }

  /** Two-stage binary retrieval ([[hammingTopK]] → exact re-rank): the
    * standard serving pattern for compressed indexes — a cheap Hamming
    * prefilter over 8-byte sign codes picks `prefilterK` candidates,
    * then the exact integer-quantized cosine ([[cosineToQueryExactInt]])
    * re-ranks ONLY those and returns the top `k`. The expensive float
    * column is read for prefilterK + 1 rows, not the corpus; both
    * stages are all-integer (plus the fixed-shape ranking double), so
    * unlike every other two-stage ANN face this one is EXACTLY
    * oracle-gateable end to end — prefilter membership, re-rank
    * scores, final order, and tie-breaks. Recall contract: misses are
    * exactly the true neighbors whose sign pattern disagrees with
    * their angle — the documented binary-quantization trade;
    * `prefilterK ≫ k` (the 5× here-default of real rescoring stacks)
    * is the knob. Output: `(idCol, dot, norm2)`, the q30c shape.
    */
  def hammingRerankTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      prefilterK: Int,
      scale: Int = 1000,
      dim: Int = 64): DataFrame = {
    require(prefilterK >= k, s"prefilterK ($prefilterK) must be >= k ($k)")
    val cands = hammingTopK(emb, idCol, vecCol, queryId, prefilterK, dim)
      .select(col(idCol))
    val keep = emb.join(broadcast(cands), Seq(idCol), "leftsemi")
      .unionByName(emb.where(col(idCol) === queryId))
    cosineToQueryExactInt(keep, idCol, vecCol, queryId, scale)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("dot"), col("norm2"))
  }

  /** The scoring projection under [[bruteForceTopKExactInt]], exposed on
    * its own for candidate-join consumers (hard-negative mining, re-rank
    * feeds) that must NOT pay the global top-k sort: every corpus row's
    * exact-int cosine to the query — a zero-shuffle map over the corpus
    * against a 1-row broadcast. `score` is IEEE-deterministic (exact
    * integer operands, correctly-rounded sqrt/multiply/divide in a fixed
    * shape), so it is hash-safe to emit and to filter on; the constant
    * qnorm² is folded ONCE on the broadcast side, not re-folded per
    * corpus row.
    *
    * Overflow contract: each integer fold needs
    * `dim · (scale·max|x| + 1)² < 2⁶³` — at the default scale 1000 that
    * holds to |x| ≈ 3·10⁵ per component. The RANKING term multiplies
    * √norm² · √qnorm² in DOUBLE (never norm²·qnorm² in long, whose
    * product overflows at a merely large scale — caught by review in
    * round 11 as an ANSI-mode crash / silent NaN-first ordering).
    */
  def cosineToQueryExactInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      scale: Int = 1000): DataFrame = {
    def quant(c: Column): Column =
      transform(c, x => floor(x.cast("double") * scale + lit(0.5)).cast("long"))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val q = emb
      .where(col(idCol) === queryId)
      .select(quant(col(vecCol)).as("__qiv"))
      .select(col("__qiv"), idot(col("__qiv"), col("__qiv")).as("qnorm2"))
    Partitioning.spread(emb)
      .join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol), quant(col(vecCol)).as("__iv"), col("__qiv"), col("qnorm2"))
      .select(
        col(idCol),
        idot(col("__iv"), col("__qiv")).as("dot"),
        idot(col("__iv"), col("__iv")).as("norm2"),
        col("qnorm2"))
      .withColumn("score",
        when(col("norm2") === 0L || col("qnorm2") === 0L, lit(0.0))
          .otherwise(col("dot").cast("double") /
            (sqrt(col("norm2").cast("double")) * sqrt(col("qnorm2").cast("double")))))
  }

  /** ORACLE-EXPRESSIBLE exact cosine top-k: quantize each component to an
    * integer (`floor(x·scale + 0.5)` — floor, not round: one unambiguous
    * IEEE form both engines share, no half-even/half-up divergence), then
    * dot products and squared norms are EXACT integers (summation order
    * cannot matter) and the ranking cosine `dot / (√norm²·√qnorm²)` is
    * the same correctly-rounded double on any engine. The emitted columns
    * are the integers themselves, so the driver's hash compares exact
    * values while the top-k SET is decided by a bit-deterministic
    * ordering — the q65c wide-margin argument, upgraded from "margin
    * absorbs float noise" to "no float noise exists". Same plan shape as
    * [[bruteForceTopK]]: 1-row broadcast, map-side scoring,
    * TakeOrderedAndProject — no global sort.
    */
  def bruteForceTopKExactInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      scale: Int = 1000,
      keepScore: Boolean = false): DataFrame =
    cosineToQueryExactInt(emb, idCol, vecCol, queryId, scale)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      // the default face emits integers only, the q65c house style
      .select(col(idCol) +: col("dot") +: col("norm2") +:
        (if (keepScore) Seq(col("score")) else Nil): _*)

  /** Multi-band random-hyperplane LSH: `bands` independent signatures of
    * `bitsPerBand` hyperplanes each. Two vectors are candidates when ANY
    * band signature matches exactly. Returns top-k candidates by exact
    * cosine — recall < 1, cost ≈ corpus/2^bitsPerBand per band.
    *
    * Defaults are sized so expected bucket occupancy > 1 at the test scale
    * (2^8 = 256 buckets per band against a 10^3-row corpus): the round-1
    * defaults (bands=4, bits=12 → 4096 buckets) made every bucket a
    * singleton and the ANN query silently returned zero rows.
    *
    * `multiProbe` additionally probes every hamming-1 neighbor of each query
    * band signature (flip one hyperplane's vote). That multiplies only the
    * 1-row broadcast side by (1 + bitsPerBand) and recovers the neighbors
    * that fell just across a single hyperplane — the standard multi-probe
    * LSH recall boost for free at corpus scale.
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      dim: Int = 64,
      bands: Int = 8,
      bitsPerBand: Int = 8,
      multiProbe: Boolean = true,
      seed: Long = 42L): DataFrame = {
    val bandPlanes = (0 until bands).map { b =>
      vectors.randomPlanes(bitsPerBand, dim, seed + b)
    }
    def signatures(df: DataFrame) = df.select(
      col(idCol),
      col(vecCol),
      explode(array(bandPlanes.zipWithIndex.map { case (planes, b) =>
        struct(lit(b).as("band"), vectors.lshSignature(col(vecCol), planes).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col(vecCol), col("bs.band"), col("bs.sig"))

    val corpus = signatures(Partitioning.spread(emb.where(col(idCol) =!= queryId)))
    val exactQuery = signatures(emb.where(col(idCol) === queryId))
      .select(col("band"), col("sig"), col(vecCol).as("__qvec"))
    val query =
      if (!multiProbe) exactQuery
      else exactQuery.select(
        col("band"),
        explode(array(
          (col("sig") +: (0 until bitsPerBand).map(p => col("sig").bitwiseXOR(lit(1L << p)))): _*))
          .as("sig"),
        col("__qvec"))

    corpus
      .join(broadcast(query), Seq("band", "sig"))
      .select(col(idCol), vectors.cosine(col(vecCol), col("__qvec")).as("cosine"))
      .groupBy(idCol)
      .agg(max("cosine").as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Injectable INTEGER hash families — the q26c linear-hash move applied
  // to the ANN probe paths. The LSH hyperplanes / IVF centroids below are
  // pure arithmetic in (band, bit, component) / (cell, component), so an
  // external engine rebuilds bucket membership and cell assignment
  // EXACTLY: combined with integer-quantized vectors (sign tests and
  // distances become exact longs — no float boundary to disagree on),
  // the whole probe path — banding, candidate set, in-candidate ranking —
  // is oracle-checkable bit-for-bit. These faces gate the MECHANICS the
  // production paths ([[lshTopK]], [[ivfSearch]]) share: banded bucket
  // join against a broadcast query, nprobe cell selection, bounded
  // top-k with id tie-break. Training quality (real random planes,
  // k-means centroids) stays the production paths' job and stays under
  // the planted-recall floors.
  // ------------------------------------------------------------------

  /** Integer hyperplane `(band, bit)`: component i is
    * `((1103515245·idx + 12345) mod 2048) − 1024` with
    * `idx = (band·bitsPerBand + bit)·dim + i` — one LCG step per
    * component, values in [−1024, 1023]. Arithmetic is shared verbatim
    * with the DuckDB oracle of q31c.
    */
  private[graft] def linearPlane(band: Int, bit: Int, bitsPerBand: Int, dim: Int): Array[Long] =
    Array.tabulate(dim) { i =>
      val idx = (band.toLong * bitsPerBand + bit) * dim + i
      ((1103515245L * idx + 12345L) % 2048L) - 1024L
    }

  /** Integer centroid `cell`: component i is
    * `((48271·(cell·dim + i) + 11) mod 1024) − 512` — decorrelated from
    * [[linearPlane]] by different LCG constants, values in [−512, 511].
    * Shared verbatim with the DuckDB oracle of q33c.
    */
  private[graft] def linearCentroid(cell: Int, dim: Int): Array[Long] =
    Array.tabulate(dim) { i =>
      val idx = cell.toLong * dim + i
      ((48271L * idx + 11L) % 1024L) - 512L
    }

  /** Dimension read from the query row — one bounded driver action; a
    * missing query id (or a NULL query vector, whose `size()` is NULL)
    * fails with the actual problem, not an empty-iterator trace or NPE
    * from deep inside the plan.
    */
  private def queryDim(emb: DataFrame, idCol: String, vecCol: String, queryId: Long): Int =
    emb.where(col(idCol) === queryId).select(size(col(vecCol))).take(1) match {
      case Array(r) if !r.isNullAt(0) => r.getInt(0)
      case Array(_) => throw new IllegalArgumentException(
        s"query id $queryId has a NULL $vecCol — nothing to probe with")
      case _ => throw new IllegalArgumentException(
        s"query id $queryId not present in the corpus (column $idCol)")
    }

  private def quantInt(c: Column, scale: Int): Column =
    transform(c, x => floor(x.cast("double") * scale + lit(0.5)).cast("long"))
  private def idotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
  private def exactScore(dot: Column, norm2: Column, qnorm2: Column): Column =
    when(norm2 === 0L || qnorm2 === 0L, lit(0.0))
      .otherwise(dot.cast("double") /
        (sqrt(norm2.cast("double")) * sqrt(qnorm2.cast("double"))))

  /** ORACLE-EXPRESSIBLE LSH top-k: [[lshTopK]]'s exact plan shape (banded
    * signatures, broadcast query, any-band candidate union, cosine
    * ranking) over integer-quantized vectors and the [[linearPlane]]
    * family. Every sign test `Σ iv·plane ≥ 0` is an exact long, so the
    * bucket membership — not just the final ranking — is reproducible on
    * any engine; recall relative to brute force is whatever the family
    * yields (the twin gates mechanics, not recall — q31 keeps the
    * planted floor for that). Emits the q30c integer face
    * (id, dot, norm2), top-k by exact-int cosine, id tie-break.
    */
  def lshTopKExactInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      bands: Int = 8,
      bitsPerBand: Int = 8,
      scale: Int = 1000): DataFrame = {
    require(bitsPerBand < 63, "bitsPerBand must fit a long signature")
    def bandSigs(iv: Column, dim: Int): Column = array((0 until bands).map { b =>
      val sig = (0 until bitsPerBand).map { j =>
        val p = linearPlane(b, j, bitsPerBand, dim).toSeq
        when(idotL(iv, typedLit(p)) >= 0L, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), sig.as("sig"))
    }: _*)
    val dim = queryDim(emb, idCol, vecCol, queryId)
    val q = emb.where(col(idCol) === queryId)
      .select(quantInt(col(vecCol), scale).as("__qiv"))
      .select(col("__qiv"), idotL(col("__qiv"), col("__qiv")).as("qnorm2"),
        explode(bandSigs(col("__qiv"), dim)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.sig").as("sig"),
        col("__qiv"), col("qnorm2"))
    // quarantine NULL embeddings, don't rank them: quantInt(NULL) is NULL,
    // every sign test falls to 0 and the row would band with sig 0 in ALL
    // bands, entering the candidate set with NULL dot/norm2 (the
    // sq8TopKExactInt contract, kept consistent across the exact-int faces)
    Partitioning.spread(emb.where(col(idCol) =!= queryId && col(vecCol).isNotNull))
      .select(col(idCol), quantInt(col(vecCol), scale).as("__iv"))
      .select(col(idCol), col("__iv"), explode(bandSigs(col("__iv"), dim)).as("bs"))
      .select(col(idCol), col("__iv"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .join(broadcast(q), Seq("band", "sig"))
      .select(col(idCol),
        idotL(col("__iv"), col("__qiv")).as("dot"),
        idotL(col("__iv"), col("__iv")).as("norm2"),
        col("qnorm2"))
      // a doc colliding in several bands is ONE candidate; dot/norm² are
      // per-id constants, so max() is just "pick the value"
      .groupBy(idCol)
      .agg(max("dot").as("dot"), max("norm2").as("norm2"), max("qnorm2").as("qnorm2"))
      .orderBy(exactScore(col("dot"), col("norm2"), col("qnorm2")).desc, col(idCol))
      .limit(k)
      .select(idCol, "dot", "norm2")
  }

  /** ORACLE-EXPRESSIBLE IVF top-k: [[ivfSearch]]'s exact plan shape
    * (corpus cell assignment, nprobe nearest cells for the query,
    * in-cell brute force) with the [[linearCentroid]] quantizer over
    * integer-quantized vectors. Distances `Σ (iv−cent)²` are exact
    * longs and ties break on the lower cell id, so the assignment and
    * the probed-cell set — the parts of IVF an external engine could
    * never rebuild from a k-means artifact — are bit-reproducible.
    * Same integer emission as q30c/q31c.
    */
  def ivfTopKExactInt(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      scale: Int = 1000): DataFrame = {
    require(nprobe <= nlist, "nprobe must be <= nlist")
    val dim = queryDim(emb, idCol, vecCol, queryId)
    // array of (d2, cell) structs sorted lexicographically: element 1 is
    // the assignment, the first nprobe are the probe set — one shared
    // definition so corpus and query cannot rank cells differently
    def cellsRanked(iv: Column): Column = array_sort(array((0 until nlist).map { c =>
      val cent = linearCentroid(c, dim).toSeq
      struct(
        aggregate(zip_with(iv, typedLit(cent), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d2"),
        lit(c).as("cell"))
    }: _*))
    val q = emb.where(col(idCol) === queryId)
      .select(quantInt(col(vecCol), scale).as("__qiv"))
      .select(
        col("__qiv"),
        idotL(col("__qiv"), col("__qiv")).as("qnorm2"),
        transform(slice(cellsRanked(col("__qiv")), 1, nprobe), s => s.getField("cell"))
          .as("__probes"))
    // NULL embeddings quarantine (see lshTopKExactInt): a NULL vector would
    // get an arbitrary cell and emit NULL dot/norm2 rows into the top-k
    Partitioning.spread(emb.where(col(idCol) =!= queryId && col(vecCol).isNotNull))
      .select(col(idCol), quantInt(col(vecCol), scale).as("__iv"))
      .withColumn("__cell", element_at(cellsRanked(col("__iv")), 1).getField("cell"))
      .join(broadcast(q), array_contains(col("__probes"), col("__cell")))
      .select(col(idCol),
        idotL(col("__iv"), col("__qiv")).as("dot"),
        idotL(col("__iv"), col("__iv")).as("norm2"),
        col("qnorm2"))
      .orderBy(exactScore(col("dot"), col("norm2"), col("qnorm2")).desc, col(idCol))
      .limit(k)
      .select(idCol, "dot", "norm2")
  }

  /** The training-sample quarantine: TRUE only for a non-null vector
    * whose every element is finite. !(|x| < inf) is false only for
    * finite elements, and a null ELEMENT nulls the `exists`, which
    * `where` drops — one predicate covers null vectors, null elements,
    * NaN and ±Inf. Every training read filters through this
    * ([[trainingSample]], k-means|| seeding, the Lloyd scans): a null
    * vector NPEs the collect, and a NaN/Inf element poisons a centroid
    * whose distances then rank +inf forever. Lloyd still ASSIGNS
    * corrupt rows at index build time — they just never define a
    * centroid.
    */
  private def finiteVec(c: Column): Column =
    c.isNotNull && !exists(c, x => !(abs(x.cast("double")) < lit(Double.PositiveInfinity)))

  /** The deterministic training draw every sampled trainer shares: the
    * first `n` vectors passing [[finiteVec]] in xxhash64 order of
    * `idCol`, as double arrays on the driver. A pseudo-random draw that
    * needs no prior count() of the corpus, and `orderBy().limit()` plans
    * as TakeOrderedAndProject (per-partition bounded heaps, no global
    * sort), so the pass is scan-bound at any scale. Empty on a corpus
    * with no finite vector; each caller refuses that with its own words.
    */
  private[operators] def trainingSample(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      n: Int): Array[Array[Double]] =
    emb
      .where(finiteVec(col(vecCol)))
      .orderBy(xxhash64(col(idCol)))
      .select(col(vecCol).cast("array<double>"))
      .limit(n)
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** Lloyd's k-means over an in-driver sample — IVF coarse-quantizer
    * training. A few iterations over O(k·32) points is microseconds on the
    * driver; the win over seeding alone is representative cells on
    * clustered corpora. Seeds are the first `k` content-distinct points
    * (Array equality is reference identity, so a plain .distinct would
    * seed duplicate centroids that ties then starve forever), then
    * [[lloyd]] with unit weights.
    */
  private[graft] def kmeans(
      points: Array[Array[Double]],
      k: Int,
      iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs at least one training point")
    lloyd(points, Array.fill(points.length)(1L), points.distinctBy(_.toSeq).take(k), iters)
  }

  /** Squared L2 over the first `dim` components. */
  private def d2(a: Array[Double], b: Array[Double], dim: Int): Double = {
    var s = 0.0; var i = 0
    while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The driver-side Lloyd loop: `iters` rounds from `seeds`, each
    * assigning every point to its nearest centroid (squared L2, ties to
    * the lower index) and moving each centroid to the weighted mean
    * Σ w·p / Σ w of its members. Points with weight ≤ 0 or a non-finite
    * element exert no pull (d²(NaN, c) is NaN and d²(Inf, c) is Inf, so
    * either would silently land on centroid 0 and poison it); a centroid
    * that loses all its members keeps its previous position. With unit
    * weights `1L · x == x` and the counts are member counts, so this IS
    * the unweighted rule, bit for bit.
    */
  private def lloyd(
      points: Array[Array[Double]],
      weights: Array[Long],
      seeds: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    val live = points.indices.map(i =>
      weights(i) > 0L && points(i).forall(java.lang.Double.isFinite)).toArray
    var centroids = seeds
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      var pi = 0
      while (pi < points.length) {
        if (live(pi)) {
          val w = weights(pi)
          val p = points(pi)
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < centroids.length) {
            val d = d2(p, centroids(c), dim); if (d < bestD) { bestD = d; best = c }; c += 1
          }
          counts(best) += w
          var i = 0
          while (i < dim) { sums(best)(i) += w * p(i); i += 1 }
        }
        pi += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** One distributed Lloyd round over the pinned frame `vecs`: every
    * `vecCol` row is assigned through the codegen'd
    * [[graft.expressions.NearestCentroidsExpr]] (exact squared L2, ties
    * to the lower centroid index), and ONE cell-keyed exchange carries a
    * single (dim)-sized [[graft.expressions.VectorSumAgg]] state per
    * cell per task (the partial/final tree reduces; nothing dimensional
    * explodes). The ≤ k cell rows — the centroid table itself, the
    * minimum any k-means must move — come to the driver, where each
    * populated cell moves to `mean(sums, count)` and an emptied cell
    * keeps its previous centroid. On integer-valued vectors the sums are
    * exact, so the round is bit-identical under any partitioning. A NULL
    * vector assigns to a NULL cell and fails loudly, naming `source`.
    */
  private[operators] def lloydRound(
      vecs: DataFrame,
      vecCol: String,
      centroids: Array[Array[Double]],
      source: String)(
      mean: (Array[Double], Long) => Array[Double]): Array[Array[Double]] = {
    import org.apache.spark.sql.graft.ColumnBridge
    val cell = ColumnBridge.column(graft.expressions.NearestCentroidsExpr(
      ColumnBridge.eagerExpression(col(vecCol)), centroids.flatten.toIndexedSeq,
      centroids.head.length, 1)).getItem(0)
    val sumCol = ColumnBridge.column(
      graft.expressions.VectorSumAgg(ColumnBridge.eagerExpression(col(vecCol)))
        .toAggregateExpression())
    val stats = vecs
      .groupBy(cell.as("__cell"))
      .agg(sumCol.as("__s"))
      .select(col("__cell"), col("__s.cnt").as("__n"), col("__s.sums").as("__sums"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0), s"NULL $source rows in the corpus — filter or impute upstream")
        r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2).toArray))
      }
      .toMap
    centroids.zipWithIndex.map { case (old, c) =>
      stats.get(c) match {
        case Some((n, sums)) if n > 0L => mean(sums, n)
        case _ => old
      }
    }
  }

  /** A trained IVF coarse quantizer: the tiny driver-side artifact the
    * index workflow revolves around — train ONCE over the corpus, then
    * serve any number of queries (and re-serve after a restart via
    * [[IvfIndex.save]]/[[IvfIndex.load]]). Per-query retraining is both
    * wasted work (an eager sample collect + k-means per call) and a
    * subtle correctness smell: two queries against the same corpus
    * should probe the same cells.
    */
  final case class IvfIndex(centroids: Array[Array[Double]]) {
    require(centroids.nonEmpty, "an IVF index needs at least one centroid")
    val nlist: Int = centroids.length
    val dim: Int = centroids.head.length
    private[operators] lazy val flat: IndexedSeq[Double] = centroids.flatten.toIndexedSeq

    /** Persist as a tiny parquet table (cell, centroid) — readable
      * anywhere, diffable, and versionable next to the corpus it indexes.
      *
      * The write rides [[graft.sources.Sinks.writePartitionedAtomic]]'s
      * staging-and-rename swap: a served index is re-saved WHILE other
      * sessions [[IvfIndex.load]] it, and a plain `mode("overwrite")`
      * (delete-then-write) has a window where a concurrent load sees a
      * missing or partially-written table and serves a corrupt quantizer.
      * With the swap, a reader sees the old index or the new one, never a
      * mix — same discipline as every other served artifact in the repo.
      */
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      graft.sources.Sinks.writePartitionedAtomic(
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("cell", "centroid")
          .coalesce(1),
        path, Nil)
    }
  }

  object IvfIndex {
    /** Load a saved index. Partial data is impossible ([[IvfIndex.save]]
      * promotes via whole-directory renames and parquet files are
      * immutable), but the swap itself has a sub-millisecond window where
      * the path is ABSENT (old dir renamed out, new dir not yet renamed
      * in) and a reader that listed the old files can find them renamed
      * away before its scan task opens them. Both surface as a
      * file/path-not-found — transient by construction — so the loader
      * absorbs them with a bounded retry; any other failure (or exhausted
      * retries) propagates.
      */
    def load(spark: org.apache.spark.sql.SparkSession, path: String, retries: Int = 8): IvfIndex =
      graft.sources.Sinks.loadWithSwapRetry(retries) {
        IvfIndex(
          spark.read.parquet(path)
            .orderBy("cell")
            .collect()
            .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray))
      }
  }

  /** Train an IVF coarse quantizer: [[kmeans]] over a `sampleRows`-point
    * [[trainingSample]] (at least `nlist` rows).
    */
  def trainIvf(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      sampleRows: Int = 512,
      kmeansIters: Int = 5): IvfIndex = {
    val trainSample = trainingSample(emb, idCol, vecCol, math.max(sampleRows, nlist))
    require(trainSample.nonEmpty, "cannot train IVF centroids on an empty corpus")
    IvfIndex(kmeans(trainSample, nlist, kmeansIters))
  }

  /** Full-corpus Lloyd training: the distributed complement of
    * [[trainIvf]] for corpora where a driver-side sample under-represents
    * the distribution (multi-modal embedding spaces at production scale).
    * Each iteration is one [[lloydRound]] over the pinned corpus
    * projection, with float means.
    *
    * Seeding is [[kmeans]]'s rule over the first `4·nlist` rows of the
    * [[trainingSample]] draw — effectively a uniform sample, fine for
    * tens of centroids. With `scalableSeed = true` it switches to
    * distributed k-means|| ([[seedKMeansPar]]): at the large-nlist regime
    * this trainer exists for, a uniform draw routinely seeds two
    * centroids in one dense blob and none in a sparse one, and Lloyd
    * cannot un-starve a cell it never seeded — unbalanced cells are
    * probe-cost skew forever. Iterations are deterministic bit-for-bit on
    * integer-valued vectors (pinned by KmeansSpec against a
    * single-threaded reference); real-valued corpora converge within
    * standard FP reduction tolerance, and the ARTIFACT is exact either
    * way: probes replay the saved centroids, not the training run. Every
    * pin this makes is released before it returns.
    */
  def trainIvfFull(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      iters: Int = 5,
      scalableSeed: Boolean = false,
      maxFlatPayload: Long = 1L << 19): IvfIndex = {
    // The flat-quantizer wall, guarded LOUDLY: assignment work is
    // rows × nlist × dim per Lloyd scan, and the flat centroid table —
    // nlist × dim doubles — ships in every task binary, MULTIPLIED under
    // k-means|| seeding, whose candidate set oversamples to several ×
    // nlist before the final reduction. 12,500 centroids at dim 64 (800k
    // payload entries) inflated assignment task binaries to 73 MiB and
    // ran for 8 minutes before it was killed. Past `maxFlatPayload`
    // entries (default 2¹⁹ ≈ 4 MiB of doubles — under that wall) the flat
    // form is the wrong quantizer, not a tuning problem: the IMI product
    // grid delivers the same cell count from ~2·√nlist trained centroids
    // — lower `imiAbove` on the auto builders so they cross to IMI at
    // this geometry, or pass a smaller nlist. One degenerate-sized job
    // to learn dim; an empty corpus falls through to seeding's own loud
    // refusal.
    emb.where(finiteVec(col(vecCol)))
      .select(size(col(vecCol)).as("__d")).limit(1).collect()
      .headOption.foreach { r =>
        val dim = r.getInt(0)
        val payload = nlist.toLong * dim
        require(payload <= maxFlatPayload,
          f"flat IVF training refused: $nlist centroids x dim $dim = " +
            f"$payload doubles (~${payload * 8 / (1024 * 1024)} MiB in every " +
            f"assignment task) exceeds maxFlatPayload $maxFlatPayload — this " +
            "is the flat-quantizer wall; use the IMI product quantizer at " +
            "this cell count (auto builders: lower imiAbove below " +
            f"$nlist so buildAuto/buildPqAuto/rebuildAuto cross to IMI), " +
            "or train a smaller nlist")
      }
    val seeds =
      if (scalableSeed) seedKMeansPar(emb, idCol, vecCol, nlist)
      else {
        val seedRows = trainingSample(emb, idCol, vecCol, 4 * nlist)
        require(seedRows.nonEmpty, "cannot train IVF centroids on an empty corpus")
        seedRows.distinctBy(_.toSeq).take(nlist)
      }
    // finiteVec on the Lloyd scans too, not just seeding: a NaN-element
    // vector deterministically assigns to cell 0 (NearestCentroidsExpr
    // ranks NaN +inf), its NaN elements flow through VectorSumAgg, and
    // centroid 0 goes all-NaN after one iteration — then no finite row
    // ever re-assigns there and the saved index loses the cell forever.
    // Corrupt rows still get ASSIGNED at index build time; they just
    // never pull a centroid. PINNED: every round is one full pass over
    // this narrow projection, which spills to disk when it outgrows
    // memory.
    Caches.scoped {
      val vecs = Caches.pin(emb.where(finiteVec(col(vecCol))).select(col(vecCol).as("__vec")))
      var centroids = seeds
      for (_ <- 0 until iters)
        centroids = lloydRound(vecs, "__vec", centroids, vecCol)((sums, n) => sums.map(_ / n))
      IvfIndex(centroids)
    }
  }

  /** Distributed k-means|| seeding (Bahmani, Moseley, Vattani, Kumar —
    * "Scalable K-Means++", VLDB 2012): `k` starting centroids chosen by
    * distance-proportional oversampling, the published fix for uniform
    * seeding at large k. A uniform draw over a multi-modal corpus seeds
    * dense blobs many times and sparse ones never; Lloyd cannot un-starve
    * a region it never seeded, and for IVF the result is permanent cell
    * imbalance — probe-cost skew. k-means|| seeds each round ∝ d²(x, C),
    * so uncovered regions (large distances) attract the next candidates.
    *
    * Distributed shape, per round: ONE corpus scan for the potential
    * φ = Σ d²(x, C) and ONE sampling scan keeping rows where
    * `u · φ < l · d²` (equivalent to p = min(1, l·d²/φ)) — both through
    * the codegen'd [[graft.expressions.MinSqDistExpr]] with the candidate
    * set baked in as a plan constant; nothing corpus-sized ever shuffles
    * or collects. The uniform `u` is xxhash64(id, round) — no RNG state,
    * retry-stable; bit-determinism carries the same caveat as
    * [[trainIvfFull]]'s iterations (φ is a distributed double sum, exact
    * on integer-valued vectors, reduction-order FP on real ones — a
    * borderline sample could flip across runs; the saved-centroid
    * artifact contract absorbs it). Expected candidates per round = `l`,
    * hard-capped at `8l` per round (a bounded, xxhash-deterministic
    * collect — under a pathological φ distribution where far more than
    * `l` rows pass the draw, the cap keeps the xxhash-lowest `8l` and
    * silently truncates the rest; later rounds re-target whatever the
    * truncation left uncovered, since uncovered mass keeps its large
    * d²) (default 2k; the paper's l = 0.5k also works — use it
    * when k is in the tens of thousands to keep the driver recluster,
    * O(candidates · k · dim) per iteration, tractable). A final
    * counting scan weights each candidate by the corpus mass nearest it,
    * and a driver-side weighted Lloyd ([[kmeansWeighted]], seeded greedy
    * weighted-D²) reclusters the ~rounds·l candidates down to k.
    * Degenerate corpora degrade safely: fewer than k distinct vectors
    * returns them all (the IVF index takes its nlist from the centroid
    * count), and a φ = 0 round (every row coincides with a candidate)
    * stops early. Vectors with a NaN/±Inf/null ELEMENT are quarantined
    * from seeding entirely — they carry no usable geometry, one of them
    * makes φ infinite (the sampling probability degenerates), and a
    * corrupt candidate's self-distance is NaN, never 0, so it would
    * re-dominate φ forever (round-15 review). Lloyd still ASSIGNS such
    * rows at index build time (NearestCentroidsExpr ranks NaN as +inf,
    * deterministically); they just never define a centroid.
    */
  def seedKMeansPar(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 3,
      oversamplePerRound: Int = 0,
      reclusterIters: Int = 5): Array[Array[Double]] = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val l = if (oversamplePerRound > 0) oversamplePerRound else 2 * k
    // quarantine corrupt vectors — the shared [[finiteVec]] predicate.
    // PINNED: seeding makes 2 passes per round (the φ aggregate and the
    // sample) plus the first-row draw and the final weighting scan —
    // ~2·rounds + 3 evaluations of the same filter+projection without
    // the pin; released before returning.
    Caches.scoped {
      val vecs = Caches.pin(emb
        .where(finiteVec(col(vecCol)))
        .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__vec")))
      val first = vecs.orderBy(xxhash64(col("__id"))).limit(1).collect()
      require(first.nonEmpty, "cannot seed k-means|| on an empty corpus")
      val dim = first(0).getSeq[Double](1).size
      val cands = scala.collection.mutable.ArrayBuffer[Array[Double]](
        first(0).getSeq[Double](1).toArray)
      val seen = scala.collection.mutable.HashSet[Seq[Double]](cands.head.toSeq)
      def minD = ColumnBridge.column(graft.expressions.MinSqDistExpr(
        ColumnBridge.eagerExpression(col("__vec")),
        cands.toArray.flatten.toIndexedSeq, dim))
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val phi = vecs.agg(sum(minD).as("__phi")).collect()(0).getDouble(0)
        val sampled: Array[Array[Double]] =
          if (phi <= 0.0) { done = true; Array.empty }
          else {
            val u = pmod(xxhash64(col("__id"), lit(r)), lit(1000000L))
              .cast("double") / lit(1000000.0)
            vecs.where(u * lit(phi) < lit(l.toDouble) * minD)
              .orderBy(xxhash64(col("__id"))).limit(8 * l)
              .select("__vec").collect().map(_.getSeq[Double](0).toArray)
          }
        cands ++= sampled.filter(v => seen.add(v.toSeq))
        r += 1
      }
      if (cands.size < k)
        cands ++= vecs.orderBy(xxhash64(col("__id"))).limit(4 * k)
          .select("__vec").collect().map(_.getSeq[Double](0).toArray)
          .filter(v => seen.add(v.toSeq))
      if (cands.size <= k) cands.toArray
      else {
        val cIdx = ColumnBridge.column(graft.expressions.NearestCentroidsExpr(
          ColumnBridge.eagerExpression(col("__vec")),
          cands.toArray.flatten.toIndexedSeq, dim, 1)).getItem(0)
        val wmap = vecs.groupBy(cIdx.as("__c")).agg(count(lit(1)).as("__n"))
          .collect().map(row => row.getAs[Int]("__c") -> row.getAs[Long]("__n")).toMap
        val weights = cands.indices.map(i => wmap.getOrElse(i, 0L)).toArray
        kmeansWeighted(cands.toArray, weights, k, reclusterIters)
      }
    }
  }

  /** Weighted driver-side Lloyd — [[seedKMeansPar]]'s recluster step.
    * Each candidate point carries the corpus mass nearest it, so the
    * recluster optimizes the same objective the corpus would, over
    * rounds·l points instead of n. Seeding is deterministic greedy
    * weighted D² (the k-means++ criterion with argmax instead of a
    * draw): heaviest candidate first, then repeatedly the candidate
    * maximizing weight × d²(·, seeds), ties to the lower index. Plain
    * top-k-by-weight would happily place two seeds inside one dense
    * blob and none in a lighter distant one — the exact starvation the
    * whole seeding pipeline exists to prevent; maximizing mass × spread
    * covers distant weight by construction. Then [[lloyd]] from those
    * seeds.
    */
  private[graft] def kmeansWeighted(
      points: Array[Array[Double]],
      weights: Array[Long],
      k: Int,
      iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty && points.length == weights.length,
      "weighted k-means needs one weight per point")
    val dim = points.head.length
    // Non-FINITE points (NaN or ±Inf elements) are excluded from EVERY
    // role — seed, argmax, and (in [[lloyd]]) mass. Unreachable via
    // seedKMeansPar's quarantine; defense in depth for any other caller.
    val nanPt: Array[Boolean] =
      points.map(_.exists(x => !java.lang.Double.isFinite(x)))
    require(nanPt.exists(!_), "weighted k-means needs at least one finite point")
    val seedIdx = scala.collection.mutable.ArrayBuffer[Int](
      points.indices.minBy(i => (nanPt(i), -weights(i), i)))
    val minD2 = points.map(p => d2(p, points(seedIdx.head), dim))
    // NaN-carrying points (their d2 is NaN to everything, themselves
    // included) must never win the argmax — Ordering[Double] ranks NaN
    // ABOVE +inf, so an unguarded key would select the same corrupt
    // point k-1 times (round-15 review). Rank them as zero spread.
    def key(i: Int): Double = {
      if (nanPt(i)) return 0.0 // Inf spread would WIN the argmax; NaN needs the guard below
      val v = weights(i) * minD2(i)
      if (v != v) 0.0 else v
    }
    val seedTarget = math.min(k, nanPt.count(!_))
    while (seedIdx.size < seedTarget) {
      val next = points.indices.maxBy(i =>
        (key(i), -i.toDouble)) // ties -> lower index
      if (key(next) <= 0.0) {
        // remaining mass sits ON the seeds — fall back to heaviest
        // unseeded FINITE points (a NaN fallback seed would re-open the
        // poisoning this block exists to close)
        val rest = points.indices
          .filterNot(i => seedIdx.contains(i) || nanPt(i))
          .sortBy(i => (-weights(i), i))
        seedIdx ++= rest.take(seedTarget - seedIdx.size)
      } else {
        seedIdx += next
        var i = 0
        while (i < points.length) {
          val d = d2(points(i), points(next), dim)
          if (d < minD2(i)) minD2(i) = d
          i += 1
        }
      }
    }
    lloyd(points, weights, seedIdx.map(points(_)).toArray, iters)
  }

  /** IVF search against a trained index: the query probes only its
    * `nprobe` nearest cells and brute-forces within them — the classic
    * inverted-file scale path (search cost ≈ corpus × nprobe/nlist).
    * The centroids are baked into the assignment expression as a
    * reference object (the table is tiny; it ships with the task binary).
    * Cell assignment, probe selection, and the in-cell scan are all plain
    * expressions — no shuffle beyond the final top-k.
    */
  def ivfSearch(
      index: IvfIndex,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    require(nprobe <= index.nlist, "nprobe must be <= nlist")
    // Native codegen'd argmin over the trained centroids — the composed
    // form (array of (dist, cell) structs + array_sort per row) pays
    // O(nlist) interpreted allocations per row, which dominates the scan
    // at production nlist (4k–64k). See NearestCentroidsExpr.
    def nearestCells(v: Column, n: Int): Column = {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.expressions.NearestCentroidsExpr(
        ColumnBridge.eagerExpression(v), index.flat, index.dim, n))
    }
    val corpus = Partitioning.spread(emb.where(col(idCol) =!= queryId))
      .withColumn("__cell", nearestCells(col(vecCol), 1).getItem(0))
    val q = emb
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), nearestCells(col(vecCol), nprobe).as("__probes"))
    corpus
      .join(broadcast(q), array_contains(col("__probes"), col("__cell")))
      .select(col(idCol), vectors.cosine(col(vecCol), col("__qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** One-shot convenience: train + search. Index-lifecycle workflows
    * (train once, many queries, survive restarts) should use
    * [[trainIvf]]/[[ivfSearch]] with a saved [[IvfIndex]] instead.
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleRows: Int = 512,
      kmeansIters: Int = 5): DataFrame =
    ivfSearch(
      trainIvf(emb, idCol, vecCol, nlist, sampleRows, kmeansIters),
      emb, idCol, vecCol, queryId, k, nprobe)

  /** All-pairs near-duplicate detection by embedding cosine ≥ threshold,
    * LSH-blocked so the quadratic comparison only happens within buckets.
    *
    * The default `maxBucket = Int.MaxValue` keeps the original contract
    * (every colliding bucket fully joined). A finite cap is the opt-in
    * scale path for degenerate corpora (the same embedding repeated
    * millions of times): over-cap buckets skip the quadratic within-bucket
    * join and their members are instead (a) verified LINEARLY against the
    * bucket keeper (min id) by true cosine, and (b) star-paired to the
    * keeper of their BIT-IDENTICAL vector at cosine 1.0 — the dedup answer
    * for exact copies, well-defined even for the zero vector where cosine
    * itself is not. Under a cap, recall loss is confined to hot-bucket
    * pairs where neither member is the bucket keeper and the vectors
    * differ — bounded, not silent.
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      dim: Int = 64,
      bands: Int = 8,
      bitsPerBand: Int = 8,
      seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // persist: both self-join sides read this — without the barrier the
    // full signature computation runs once per side.
    val banded = Partitioning.spread(emb).select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          vectors.lshSignature(col(vecCol), vectors.randomPlanes(bitsPerBand, dim, seed + b)).as("sig"))
      }: _*)).as("bs"))
      .select(col("id"), col("v"), col("bs.band"), col("bs.sig"))
      .transform(Caches.pin)
    // r20: hot/cold split from a grouped count ([[Blocking.hotKeys]],
    // partial aggregation over the pinned band table) instead of a
    // full-frame window shuffle+sort; the uncapped default skips the
    // count and the hot machinery entirely (no hot side exists).
    val hotKeys =
      if (maxBucket == Int.MaxValue) None
      else Some(Caches.pin(Blocking.hotKeys(banded, Seq("band", "sig"), maxBucket)))
    val cold = hotKeys.fold(banded)(h => banded.join(h, Seq("band", "sig"), "left_anti"))
    val a = cold.select(col("band"), col("sig"), col("id").as("id_a"), col("v").as("v_a"))
    val b = cold.select(col("band"), col("sig"), col("id").as("id_b"), col("v").as("v_b"))
    val coldPairs = a.join(b, Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), vectors.cosine(col("v_a"), col("v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
    val allPairs = hotKeys match {
      case None => coldPairs
      case Some(h) =>
        // Over-cap buckets: true-cosine verification against the bucket
        // keeper (near-but-not-identical neighbors survive) + identical-
        // vector star pairs (exact copies whose vector differs from the
        // keeper's, and zero vectors whose cosine is undefined). Both
        // linear in bucket size.
        val hotRows = banded.join(h, Seq("band", "sig"), "left_semi")
        val bucketKeepers = hotRows.groupBy("band", "sig")
          .agg(min(col("id")).as("kid"), min_by(col("v"), col("id")).as("kv"))
        val hotNearKeeper = hotRows.join(bucketKeepers, Seq("band", "sig"))
          .where(col("id") =!= col("kid")) // kid = bucket min, so kid < id
          .select(col("kid").as("id_a"), col("id").as("id_b"),
            vectors.cosine(col("v"), col("kv")).as("cosine"))
          .where(col("cosine") >= threshold)
        // Identical-vector star pairs; vectors are their own canonical
        // form (element order IS meaning, no sort needed). band 0 carries
        // every id exactly once — one row per doc without a distinct
        // shuffle over the vector column.
        val hotIds = hotRows.select("id").distinct()
        val hotIdentical = Blocking.keeperStarPairs(
          banded.where(col("band") === 0).select("id", "v").join(hotIds, Seq("id"), "left_semi"),
          "v", "cosine", lit(1.0))
        coldPairs.unionByName(hotNearKeeper).unionByName(hotIdentical)
    }
    allPairs
      .groupBy("id_a", "id_b")
      .agg(max("cosine").as("cosine"))
  }

  /** EXACT all-pairs cosine ≥ threshold — the brute-force ground truth
    * [[cosineNearDupPairs]] is measured against (its LSH-emitted pairs
    * must be a subset of this set). Emits (id_a, id_b) ONLY: pair
    * membership is a threshold decision with a wide margin on any
    * non-adversarial corpus, so an external oracle can reproduce the set
    * without bit-matching double arithmetic. Deliberately quadratic
    * (nested-loop self-join over the broadcast vector table) — validation
    * tool for sampled corpora; the scale path is [[cosineNearDupPairs]].
    */
  def cosineNearDupPairsExact(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95): DataFrame = {
    val v = Partitioning.spread(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .transform(Caches.pin)
    v.select(col("id").as("id_a"), col("v").as("v_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("v_b")), col("id_a") < col("id_b"))
      .where(vectors.cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
  }
}
