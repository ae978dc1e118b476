package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.text

/** Document deduplication for training-data pipelines, at four fidelities:
  *
  *  1. exact        — canonical-hash groupBy (one shuffle on a 128-bit key)
  *  2. MinHash+LSH  — shingle → minhash sketch → banded bucket join
  *  3. SimHash      — 64-bit near-dup fingerprint, hamming-close pairs
  *  4. n-gram Jaccard — exact verification on candidate pairs only
  *
  * Scale design: the quadratic all-pairs comparison never happens. LSH
  * banding turns it into an equi-join on (band, bandHash) — the classic
  * MMDS ch.3 scheme — so cost is O(n·bands) shuffle + within-bucket pairs.
  *
  * Evaluation-count discipline (the round-1 lesson): higher-order array
  * functions are interpreted with NO common-subexpression elimination, and
  * Catalyst's ProjectCollapse inlines a column's defining expression into
  * every use site. So
  *   (a) expensive per-row arrays (shingle hashes, sketches) are computed in
  *       a SINGLE pass — the source array appears exactly once, as the input
  *       of one `aggregate(...)`, never inside a per-element lambda of an
  *       outer loop; and
  *   (b) DataFrames whose columns are re-referenced by later operators
  *       (banding reads the sketch `bands` times; verification reads the
  *       shingle set twice) are `persist()`ed, because InMemoryRelation is a
  *       collapse barrier that pins each expression to one evaluation.
  * Without (a)+(b) the tokenize+shingle work runs numPerm× per row — 498 of
  * a 506-second benchmark round.
  *
  * Cache lifecycle: the persisted prep tables stay pinned for the session
  * (the returned frames reference them lazily, so the operator cannot
  * unpersist eagerly). Every pin is tracked; a long-lived session running
  * dedup per corpus batch should call [[Caches.release]] between batches
  * (after fully consuming the returned frames), or scope each batch with
  * `SparkSession.newSession()` / `spark.catalog.clearCache()`.
  */
object Dedup {

  private def pin(df: DataFrame): DataFrame = Caches.pin(df)

  /** Exact dedup on a canonical text hash. Deterministic keeper: min(id).
    * Output: one row per distinct content with its keeper id and copy count.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(text.fingerprintMd5(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("copies"))

  /** Exact dedup: keep exactly the keeper rows (min id per canonical hash). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keepers = exactGroups(df, textCol, idCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  // --- MinHash ---

  /** Distinct 64-bit hashes of the word k-shingles — the document's shingle
    * set, reduced to longs ONCE so every downstream permutation/Jaccard
    * works on cheap integer arrays instead of re-tokenized strings.
    *
    * Runs as the native [[graft.expressions.ShingleHashesExpr]]; the
    * composed `array_distinct(transform(text.shingles(c, k), xxhash64))`
    * is value-identical (property-pinned) but pays interpreted
    * higher-order-function evaluation per shingle — it was the dominant
    * CPU of the dedup prep pass.
    */
  def shingleHashes(textC: Column, shingleK: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.ShingleHashesExpr(ColumnBridge.expression(textC), shingleK))
  }

  /** The pre-native composed form of [[shingleHashes]], kept as the parity
    * oracle the spec/property suite checks the native expression against.
    */
  private[graft] def shingleHashesComposed(textC: Column, shingleK: Int): Column =
    array_distinct(transform(text.shingles(textC, shingleK), s => xxhash64(s)))

  /** MinHash sketch from pre-hashed shingles: element j = min over
    * shingle-hashes h of XXH64(h, seed = j). Runs as the native codegen'd
    * [[graft.expressions.MinHashSketchExpr]] — the O(shingles × numPerm)
    * inner product is the hot loop of dedup at scale and is exactly what
    * interpreted higher-order functions do worst. The input array is the
    * expression's single child, so it is evaluated exactly once per row no
    * matter how Catalyst inlines it.
    */
  def minHashFromHashes(hashesC: Column, numPerm: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.MinHashSketchExpr(ColumnBridge.expression(hashesC), numPerm))
  }

  /** 64-bit minhash sketch straight from text. `numPerm` permutations
    * approximate Jaccard with stderr ≈ 1/sqrt(numPerm).
    */
  def minHashSketch(textC: Column, numPerm: Int, shingleK: Int = 3): Column =
    minHashFromHashes(shingleHashes(textC, shingleK), numPerm)

  /** (id, sh, mh) prep table: shingle-hash set + minhash sketch, persisted
    * because banding and verification each re-read these columns.
    *
    * Degenerate-document semantics (pinned by DedupSpec):
    *  - empty / whitespace-only / shorter-than-k docs are NOT special:
    *    [[text.shingles]] maps them all to the single shingle "", so they
    *    carry sh = [xxhash64("")], band normally, and pair with each other
    *    at jaccard 1.0 through the SAME cold/hot machinery as real docs —
    *    the answer does not change with corpus size or the bucket cap.
    *  - NULL text → NULL sh → NULL sketch: similarity with an absent
    *    document is undefined (SQL null semantics), so null rows are
    *    excluded from banding entirely ([[bandable]]). Without the filter
    *    every null doc lands in the one xxhash64(NULL-slice) bucket per
    *    band, floods it, and then emits nothing anyway (NULL jaccard /
    *    NULL content-equality both drop) — pure wasted shuffle.
    *  - a size-0 hash array is unreachable from the text APIs but possible
    *    via [[minHashFromHashes]] on a caller-built column; its all-MaxValue
    *    sketch would collide in every band, so those rows are likewise kept
    *    out of banding and [[minHashDedupPairs]] routes them through the
    *    identical-content keeper-star path (empty set ≡ empty set, 1.0).
    */
  private[operators] def prep(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numPerm: Int,
      shingleK: Int): DataFrame =
    Partitioning.spread(df)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), shingleK).as("sh"))
      .withColumn("mh", minHashFromHashes(col("sh"), numPerm))
      .transform(pin)

  /** Rows that carry shingle information and may enter LSH banding. */
  private[operators] def bandable(prepped: DataFrame): DataFrame =
    prepped.where(col("sh").isNotNull && size(col("sh")) > 0)

  /** (id, band, bucket[, mh]) exploded band table from a prep table:
    * split the sketch into `bands` bands, hash each band slice. xxhash64
    * hashes array values directly (recursively over elements) — no string
    * materialization per band.
    */
  private[operators] def bandedBuckets(prepped: DataFrame, numPerm: Int, bands: Int, carryMh: Boolean): DataFrame = {
    val rows = numPerm / bands
    val carry = if (carryMh) Seq(col("mh")) else Nil
    prepped.select(
      (Seq(
        col("id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              xxhash64(slice(col("mh"), b * rows + 1, lit(rows))).as("bucket"))))
          .as("bb")) ++ carry): _*)
      .select((Seq(col("id"), col("bb.band"), col("bb.bucket")) ++ carry): _*)
  }

  /** Banded candidate self-join over the cold (under-cap) band rows:
    * distinct (id_a < id_b) pairs sharing a (band, bucket). Buckets over
    * the cap are excluded upstream (see [[lshVerifiedPairs]]) —
    * boilerplate corpora (all-identical docs, empty strings, templated
    * pages) otherwise put millions of rows in ONE bucket and a single
    * reducer pays (n choose 2). Callers route the
    * over-cap members through the linear identical-content path instead
    * ([[Blocking.keeperStarPairs]]); AQE skew-split cannot help here
    * because it splits input, not the joined output. Only
    * (band, bucket, id) ever enters the join's exchange.
    */
  private def coldCandidatePairs(cold: DataFrame): DataFrame = {
    def side(suffix: String) =
      cold.select(col("band"), col("bucket"), col("id").as(s"id_$suffix"))
    side("a").join(side("b"), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Cold rows of a banded frame: everything outside the over-cap keys.
    * The hot-key list comes from ONE grouped count with partial map-side
    * aggregation ([[Blocking.hotKeys]]) — replacing the full-frame window
    * count (shuffle + sort of every (id, band, bucket) row) the old shape
    * paid before the self-join (§2.3/§2.4). An infinite cap skips the
    * count entirely: there is no hot side to split off.
    */
  private def coldRows(banded: DataFrame, hotKeys: Option[DataFrame]): DataFrame =
    hotKeys.fold(banded)(hot =>
      banded.join(hot, Seq("band", "bucket"), "left_anti"))

  /** LSH S-curve threshold for a band geometry: the Jaccard similarity at
    * which a pair has ~50% candidate probability is t ≈ (1/b)^(1/r) with
    * b bands of r rows (MMDS ch.3). Use it to pick `bands` for a target
    * threshold instead of guessing.
    */
  def lshThreshold(numPerm: Int, bands: Int): Double =
    math.pow(1.0 / bands, bands.toDouble / numPerm)

  /** Smallest band count (dividing numPerm) whose S-curve threshold is at
    * or below the target — i.e. the cheapest geometry that still catches
    * pairs at `threshold` with high probability.
    */
  def bandsForThreshold(numPerm: Int, threshold: Double): Int =
    (1 to numPerm)
      .filter(numPerm % _ == 0)
      .find(b => lshThreshold(numPerm, b) <= threshold)
      .getOrElse(numPerm)

  /** End-to-end MinHash+LSH near-dup detection: candidate generation and
    * exact Jaccard verification share ONE persisted shingle/sketch pass.
    * Jaccard is computed on the distinct shingle-HASH sets (identical to
    * string-shingle Jaccard up to negligible 64-bit collisions), so
    * verification is two hash-joins plus integer-array set ops.
    * Output: (id_a, id_b, jaccard) for verified pairs ≥ threshold.
    */
  def minHashDedupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      threshold: Double = 0.7,
      maxBucket: Int = 256): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands evenly")
    lshVerifiedPairs(prep(df, textCol, idCol, numPerm, shingleK), numPerm, bands,
      threshold, maxBucket)
  }

  /** Weighted-Jaccard near-dup pairs at LSH scale: every term expands to
    * `tf` DISTINCT elements (term hash reseeded by occurrence index 1..tf
    * — the classic integer-weight construction), so the standard
    * MinHash/LSH machinery estimates WEIGHTED Jaccard, banding generates
    * candidates, and verification's set arithmetic over expanded element
    * sets IS Σmin/Σmax — emitted pairs carry the exact weighted score.
    * The approximate production face of [[weightedJaccardPairs]], whose
    * Σ df² inverted-index join this replaces with O(n·bands) banding at
    * corpus scale (q119 / DedupSpec pin the ⊆-exact law with equal
    * scores). No df cap here — high-df terms cost LSH nothing.
    * Token-less and NULL-text docs carry no elements and never pair.
    *
    * Prep pays two exchanges (the per-doc tf aggregate and the element
    * re-collect) where the set-Jaccard prep pays zero — the price of
    * multiset counts; both land in the ONE pinned prep table feeding
    * banding and verification.
    */
  def weightedMinHashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands evenly")
    val tf = Partitioning.spread(df)
      .select(col(idCol).as("id"), explode(text.tokens(col(textCol))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
    val prepped = tf
      .select(col("id"), col("term"), explode(sequence(lit(1L), col("tf"))).as("k"))
      .select(col("id"), xxhash64(col("term"), col("k")).as("h"))
      .groupBy("id")
      .agg(collect_list("h").as("sh"))
      .withColumn("mh", minHashFromHashes(col("sh"), numPerm))
      .transform(pin)
    lshVerifiedPairs(prepped, numPerm, bands, threshold, maxBucket)
  }

  /** The shared LSH band → verify → hot-path pipeline over a PINNED prep
    * table (id, sh, mh). Verification is exact set arithmetic on `sh`,
    * which means the SEMANTICS follow the prep: shingle-hash sets give
    * set Jaccard ([[minHashDedupPairs]]); tf-expanded element sets give
    * weighted Jaccard ([[weightedMinHashPairs]] — on expanded sets,
    * |A∩B| IS Σmin and |A∪B| IS Σmax).
    */
  private def lshVerifiedPairs(
      prepped: DataFrame,
      numPerm: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    // ONE banded tree (a narrow explode over the pinned prep) feeds the
    // hot-key count, the cold self-join, and the hot member probe. The
    // over-cap keys come from a grouped count (partial aggregation; the
    // result is ≤ rows/cap keys → pinned, and the anti/semi joins against
    // it broadcast under AQE) — the window count this replaces shuffled
    // AND sorted every (id, band, bucket) row, re-evaluated once per
    // reference. NULL-sh rows never band (see prep's degenerate-doc
    // contract); size-0 rows take the keeper-star path below instead.
    val banded = bandedBuckets(bandable(prepped), numPerm, bands, carryMh = false)
    val hotKeys =
      if (maxBucket == Int.MaxValue) None
      else Some(pin(Blocking.hotKeys(banded, Seq("band", "bucket"), maxBucket)))
    val cand = coldCandidatePairs(coldRows(banded, hotKeys))
    val verified = cand
      .join(prepped.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(prepped.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    // Over-cap buckets (boilerplate clusters) re-enter through the linear
    // identical-content path. The shingle set is SORTED first — `sh` stores
    // first-occurrence order, and set-identical docs in different order
    // have identical minhash sketches (minhash is order-insensitive, which
    // is what put them in the same hot bucket) and a true jaccard of 1.0.
    // A doc can surface in both paths (hot in one band, cold in another),
    // so collapse to one row per pair.
    Metrics.register(prepped.sparkSession)
    val hotIds = hotKeys
      .fold(banded.where(lit(false)))(hot =>
        banded.join(hot, Seq("band", "bucket"), "left_semi"))
      .select("id").distinct()
      // rides the pair action as a free aggregate: how many documents the
      // cap routed to the linear path this run (see Metrics / hotBuckets)
      .observe("graft.dedup.hot_member_ids", count(lit(1)).as("ids"))
    // Size-0 shingle sets (direct-hash-API rows that cannot band) are exact
    // duplicates of each other at the set level: route them through the same
    // identical-content star path the hot buckets use, at any corpus size.
    val hotMembers = prepped
      .join(hotIds, Seq("id"), "left_semi")
      .unionByName(prepped.where(col("sh").isNotNull && size(col("sh")) === 0))
      .select(col("id"), array_sort(col("sh")).as("shs"))
    val hot = Blocking.keeperStarPairs(hotMembers, "shs", "jaccard", lit(1.0))
    verified
      .unionByName(hot)
      .groupBy("id_a", "id_b")
      .agg(max("jaccard").as("jaccard"))
  }

  /** Audit view of the buckets the cap short-circuits: (band, bucket,
    * occupancy) for every bucket over `maxBucket` under the same geometry
    * as [[minHashDedupPairs]]. The cap must be observable, not silent —
    * run this alongside a dedup pass to quantify (and alert on) the
    * boilerplate clusters taking the linear path, and to tune the cap.
    */
  def hotBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 256): DataFrame = {
    Metrics.register(df.sparkSession)
    // grouped count, not a window: the keys are distinct by construction
    // and only the rare over-cap groups survive the filter
    Blocking.hotKeys(
      bandedBuckets(bandable(prep(df, textCol, idCol, numPerm, shingleK)), numPerm, bands,
        carryMh = false),
      Seq("band", "bucket"), maxBucket)
      .select(col("band"), col("bucket"), col("__occ").as("occupancy"))
      // executing the audit also publishes its headline numbers to the
      // metrics registry — monitors alert on these without re-reading rows
      .observe("graft.dedup.hot_buckets",
        count(lit(1)).as("buckets"),
        coalesce(sum("occupancy"), lit(0L)).as("member_rows"),
        coalesce(max("occupancy"), lit(0L)).as("max_occupancy"))
  }

  /** EXACT all-pairs k-shingle Jaccard ≥ threshold, via a shingle inverted
    * index: any pair with Jaccard > 0 shares at least one shingle, so the
    * equi-join on `shingle` is a complete candidate generator (recall = 1,
    * unlike LSH banding) and the per-pair shared-shingle count plus the two
    * set sizes give Jaccard without ever materializing the pair's sets:
    * |A∩B| / (|A|+|B| − |A∩B|). No hashing anywhere — values are exact and
    * ANSI-SQL-reproducible, which makes this the oracle-gated ground truth
    * the LSH pipeline is measured against (DedupSpec asserts
    * minHashDedupPairs ⊆ this set).
    *
    * Scale: cost is Σ_shingle df(shingle)², so frequency skew is the risk —
    * `maxShingleDf` drops shingles seen in more than that many documents
    * from the INDEX only (the standard prefix-filtering relaxation; sizes
    * stay exact). Leave it None for exact semantics; set it at corpus scale
    * where a stopword trigram would otherwise dominate the join.
    */
  def exactJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.7,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val sh = Partitioning.spread(df)
      .select(col(idCol).as("id"),
        array_distinct(text.shingles(col(textCol), shingleK)).as("sh"))
      .transform(pin) // read by the index AND the two size joins
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val inv0 = sh.select(col("id"), explode(col("sh")).as("shingle"))
    val inv = maxShingleDf match {
      case Some(cap) =>
        // one row per (id, shingle) → the grouped count IS df; the rare
        // over-cap shingles anti-join out (broadcast under AQE) instead of
        // a full-frame window shuffle+sort of the inverted index
        inv0.join(Blocking.hotKeys(inv0, Seq("shingle"), cap), Seq("shingle"), "left_anti")
      case None => inv0
    }
    val shared = inv.select(col("id").as("id_a"), col("shingle"))
      .join(inv.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Keeper POLICY over duplicate clusters: keep the BEST-scoring member
    * of every group (ties to the smaller id), not the smallest id —
    * production dedup keeps the longest / highest-quality / canonical
    * copy, and min-id is only the right answer when members are
    * interchangeable. `clusters` is (id, cluster) from
    * [[duplicateClusters]]; survivors = every unclustered doc plus one
    * keeper per cluster, original schema untouched.
    *
    * Scale: the ranking window runs over CLUSTERED rows only (near-dup
    * candidates — a vanishing corpus fraction), partitioned by cluster;
    * the corpus itself pays one left-anti hash join against the dropped
    * ids. Never a corpus-wide window.
    */
  def keepBestByCluster(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      clusters: DataFrame): DataFrame = {
    requireIntegralIds(docs, Seq(idCol), "keepBestByCluster")
    val scored = clusters.join(
      docs.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score")),
      Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("__score").desc, col("id"))
    val dropped = scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") > 1)
      .select(col("id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** EXACT all-pairs WEIGHTED Jaccard ≥ threshold over term frequencies —
    * the multiset refinement of [[exactJaccardPairs]]:
    *
    *   J_w(A,B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t))
    *
    * Set Jaccard over shingles treats "the the the the" and "the" as
    * identical; the weighted form scores repetition-skewed boilerplate
    * and template pages honestly, and is the standard similarity for
    * tf/tf-idf-weighted dedup. Also emits `containment_a` =
    * Σmin / mass(A) (the asymmetric measure that catches A ⊂ B
    * wholesale-inclusion, invisible to symmetric Jaccard when B is much
    * larger).
    *
    * Dataflow: ONE tokenize into (id, term, tf) pinned; per-doc masses
    * derive from it (no second scan). The term-keyed self-join computes
    * Σmin over SHARED terms only — the identity Σmax = mass_A + mass_B −
    * Σmin supplies the denominator without ever materializing the union.
    * Cost is Σ_term df(term)²; `maxTermDf` drops terms above that many
    * DISTINCT docs from the INDEX only (masses stay exact — the same
    * prefix-filtering relaxation, semantics pinned by the q116 oracle).
    */
  def weightedJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      maxTermDf: Option[Int] = None): DataFrame = {
    val tf = Partitioning.spread(df)
      .select(col(idCol).as("id"), explode(text.tokens(col(textCol))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
      .transform(pin) // read by the index, the mass aggregate, and the join
    val mass = tf.groupBy("id").agg(sum("tf").as("mass"))
    val inv = maxTermDf match {
      case Some(cap) =>
        // df = docs per term; one row per (id, term) already, so the
        // grouped count IS the document frequency — the rare over-cap
        // terms anti-join out (broadcast under AQE; tf is pinned so the
        // second reference is a cache read) instead of a full-frame
        // window shuffle+sort of the inverted index
        tf.join(Blocking.hotKeys(tf, Seq("term"), cap), Seq("term"), "left_anti")
      case None => tf
    }
    val shared = inv.select(col("id").as("id_a"), col("term"), col("tf").as("tf_a"))
      .join(inv.select(col("id").as("id_b"), col("term"), col("tf").as("tf_b")), Seq("term"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("shared_min"))
    shared
      .join(mass.select(col("id").as("id_a"), col("mass").as("mass_a")), Seq("id_a"))
      .join(mass.select(col("id").as("id_b"), col("mass").as("mass_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (col("shared_min").cast("double") /
          (col("mass_a") + col("mass_b") - col("shared_min"))).as("jaccard_w"),
        (col("shared_min").cast("double") / col("mass_a")).as("containment_a"))
      .where(col("jaccard_w") >= threshold)
  }

  // --- Clustering: pairs → duplicate groups ---

  /** Connected components over near-dup pairs: pairwise similarity is not
    * transitive-closed (A≈B, B≈C found; A–C maybe not), so deduping from
    * pairs alone either misses chains or keeps conflicting keepers.
    * Clusters give one representative per GROUP: output (id, cluster)
    * where cluster = the smallest id in the component. Runs on
    * [[Graphs.connectedComponents]] (DataFrame-native large-star/
    * small-star to convergence — AQE, codegen, Tungsten rows) rather
    * than GraphX's RDD Pregel; the label contract is identical and
    * GraphsSpec cross-checks the two on clustered pair sets.
    */
  def duplicateClusters(pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    requireIntegralIds(pairs, Seq(idACol, idBCol), "duplicateClusters")
    Graphs.connectedComponents(pairs, idACol, idBCol)
      .toDF("id", "cluster")
  }

  /** Non-integral id columns must fail LOUDLY here: the DataFrame CC path
    * casts to long and EXCLUDES null results, so a string id like
    * "doc-123" would silently drop its edges and dedup would quietly
    * keep duplicates (the old GraphX path at least threw at runtime —
    * this guard fails earlier, at plan time; review, round 12).
    */
  private def requireIntegralIds(df: DataFrame, cols: Seq[String], who: String): Unit =
    for (c <- cols) df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$who needs INTEGRAL id columns (got $c: ${other.catalogString}); " +
          "map ids to longs first — a non-castable id would silently drop edges")
    }

  /** End-to-end near-dup removal: MinHash pairs → components → keep the
    * smallest id of every cluster plus all unpaired documents.
    */
  def dedupByClusters(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleK: Int = 3,
      maxBucket: Int = 256): DataFrame = {
    val pairs = minHashDedupPairs(
      docs, textCol, idCol, numPerm, bands, shingleK, threshold, maxBucket)
    val clustered = duplicateClusters(pairs)
    val dropped = clustered.where(col("id") =!= col("cluster")).select(col("id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  // --- SimHash ---

  /** 64-bit SimHash over token hashes: bit i of the result is the majority
    * vote of bit i across all token xxhash64 values. Near-duplicate docs
    * land within a small hamming distance. The vote matrix runs as the
    * native [[graft.expressions.SimHashExpr]]; only the tokenize+hash pass
    * stays a higher-order transform (once per row).
    */
  def simHash(textC: Column, tokenHash: Column => Column = xxhash64(_)): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val tokHashes = transform(text.tokens(textC), t => tokenHash(t))
    ColumnBridge.column(
      graft.expressions.SimHashExpr(ColumnBridge.expression(tokHashes)))
  }

  /** ANSI-portable token hash for the SimHash ORACLE face (the q85 /
    * q48c injectable-hash move, applied to the per-token hash): two
    * polynomial rolling hashes over the token's UTF-8 BYTES (multipliers
    * 31 and 131) mod the [[Projection.LinearP]] prime, each post-mixed by
    * a [[Projection.LinearA]] multiply so SHORT tokens spread across the
    * whole field (a bare byte-polynomial of a ≤3-byte token never wraps P,
    * so every bit test would vote identically — the degenerate-signature
    * trap), then spread to 63 bits by Kirsch–Mitzenmacher double hashing:
    * bit j tests `(base1 + j·base2 + seed) mod P` in the lower half. The
    * per-token step `base2` decorrelates bit lanes — a single linear form
    * in j steps all tokens' thresholds in lockstep and bits j, j+2 almost
    * always agree. Every step is integer arithmetic any SQL engine
    * reproduces — DuckDB rebuilds the identical signature from
    * `encode(token)`'s bytes (q26c).
    *
    * 63 bits, not 64, on purpose: bit 63 stays 0 so neither engine ever
    * packs `1<<63` (signed-overflow territory under ANSI arithmetic on
    * both sides); the majority-vote loop in
    * [[graft.expressions.SimHashExpr]] still runs all 64 lanes — lane 63
    * just votes unanimously negative. Production face stays [[simHash]]'s
    * default xxhash64 (better mixing, spec-pinned); this face exists so
    * the SHARED machinery — tokenize, SimHashExpr vote, banding, hamming
    * join — is hash-gated end to end against an external engine.
    */
  def linearTokenHash(t: Column, seed: Long = 11L): Column = {
    import Projection.{LinearA, LinearP}
    require(seed >= 0L, "linearTokenHash needs a non-negative seed")
    val bin = encode(t, "UTF-8")
    // byte i of the UTF-8 encoding, as 0..255 (hex→int avoids the
    // sign/codepoint ambiguity of ascii()/substring on multibyte chars)
    def byteAt(i: Column): Column =
      conv(hex(bin.substr(i, lit(1))), 16, 10).cast("long")
    // BOTH polynomials over ONE byte extraction: hex/conv per byte is
    // the dominant cost and HOFs have no CSE (the file-header
    // discipline), so materialize the byte array once with transform —
    // the fold's lambda variable is a BOUND value, so referencing `b`
    // in both polynomial updates recomputes nothing.
    val bytesA = transform(sequence(lit(1), octet_length(bin)), i => byteAt(i))
    val polys = aggregate(
      bytesA,
      struct(lit(0L).as("p1"), lit(0L).as("p2")),
      (st, b) => struct(
        ((st.getField("p1") * 31L + b) % LinearP).as("p1"),
        ((st.getField("p2") * 131L + b) % LinearP).as("p2")))
    // Horner from bit 62 down: acc*2 + bit never exceeds 2^63-1. The
    // byte fold rides the aggregate's zero (evaluated ONCE per token);
    // the LinearA post-mix is O(1) arithmetic re-done per iteration —
    // 63 multiplies, nothing re-reads the bytes.
    aggregate(
      sequence(lit(62), lit(0), lit(-1)),
      struct(lit(0L).as("acc"), polys.as("ps")),
      (st, j) => {
        val b1 = (lit(LinearA) * st.getField("ps").getField("p1") + lit(12345L)) % lit(LinearP)
        val b2 = (lit(LinearA) * st.getField("ps").getField("p2") + lit(54321L)) % lit(LinearP)
        struct(
          (st.getField("acc") * 2L + when(
            (b1 + j * b2 + lit(seed)) % lit(LinearP) * 2L < lit(LinearP),
            lit(1L)).otherwise(lit(0L))).as("acc"),
          st.getField("ps").as("ps"))
      }).getField("acc")
  }

  /** SimHash near-dup pairs by 16-bit band blocking (hamming ≤ 3 across 4
    * bands guarantees at least one identical band — pigeonhole). The
    * signature table is persisted: banding reads `sig` 4×, and the pair join
    * reads it twice more — without the barrier the whole simHash fold would
    * be inlined and re-evaluated at every use site.
    *
    * The default `maxBucket = Int.MaxValue` preserves this API's original
    * contract: EXACT recall for hamming ≤ maxHamming (DedupSpec asserts it
    * against driver-side all-pairs). Setting a finite cap is the opt-in
    * scale path for boilerplate corpora: buckets over the cap skip the
    * quadratic within-bucket join and their members are instead verified
    * LINEARLY against the bucket keeper (min id) by true hamming distance,
    * plus star-paired to the keeper of their identical signature. Under a
    * finite cap, recall loss is confined to hot-bucket pairs where neither
    * member is the bucket keeper and the signatures differ — bounded and
    * observable, never silent exactness.
    */
  def simHashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    hammingPairs64(
      Partitioning.spread(df)
        .select(col(idCol).as("id"), simHash(col(textCol), tokenHash).as("sig")),
      "id", "sig", maxHamming, maxBucket)

  /** The 4×16-bit band decomposition of a 64-bit signature — THE one
    * definition of the banding geometry. [[hammingPairs64]]'s pair path,
    * [[graft.streaming.Streams.mediaDedupIngest]]'s persisted band index,
    * and its cross-batch probe all call this; two copies drifting apart
    * would silently break the pigeonhole exact-recall claim (a persisted
    * index banded one way probed another finds nothing, with no error).
    */
  private[graft] def bands64(sig: Column): Column =
    transform(
      sequence(lit(0), lit(3)),
      b => struct(
        b.as("band"),
        call_function("shiftright", sig, b * 16).bitwiseAND(0xffffL).as("bucket")))

  /** Banded-Hamming near-dup pairs over ANY precomputed 64-bit signature
    * column — the [[simHashPairs]] machinery with the signature injectable,
    * so image dHash / audio fingerprints / externally computed sketches
    * ride the same 16-bit×4-band blocking, hot-bucket cap, and keeper
    * paths. Pigeonhole: hamming ≤ 3 across 4 bands guarantees at least one
    * identical band, so under the default uncapped geometry recall for
    * `maxHamming ≤ 3` is EXACT (the q123b external gate relies on this).
    *
    * NULL signatures are dropped, not bucketed: a NULL sig means "no
    * content to compare" (NULL text, undecodable image), and unfiltered
    * null rows would all land in the one per-band NULL bucket (flood, zero
    * output — NULL hamming and NULL content-equality both drop). A
    * signature that is genuinely zero (empty token stream) is NOT null and
    * pairs normally at hamming 0.
    */
  def hammingPairs64(
      sigsIn: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val sigs = sigsIn
      .select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .transform(pin)
    val banded = sigs.where(col("sig").isNotNull).select(
      col("id"),
      col("sig"),
      explode(bands64(col("sig"))).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
    // The hot/cold split mirrors lshVerifiedPairs: over-cap keys from ONE
    // grouped count (partial aggregation, pinned — tiny by construction)
    // instead of a full-frame window shuffle+sort; the uncapped default
    // (Int.MaxValue — the exact-recall contract) skips the count and the
    // hot machinery entirely.
    val hotKeys =
      if (maxBucket == Int.MaxValue) None
      else Some(pin(Blocking.hotKeys(banded, Seq("band", "bucket"), maxBucket)))
    val cold = hotKeys.fold(banded)(hot =>
      banded.join(hot, Seq("band", "bucket"), "left_anti"))
    val a = cold.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = cold.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    val coldPairs = a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
    hotKeys match {
      case None =>
        // pairs repeat across bands; one collapse, same as the capped path
        coldPairs.distinct()
      case Some(hot) =>
        // Over-cap buckets: (a) every member verified against the bucket
        // keeper by TRUE hamming — near-but-not-identical neighbors of the
        // keeper survive the cap; (b) identical-signature star pairs —
        // groups whose shared signature differs from the keeper's survive
        // too. Both linear.
        val hotRows = banded.join(hot, Seq("band", "bucket"), "left_semi")
        val bucketKeepers = hotRows.groupBy("band", "bucket")
          .agg(min(col("id")).as("kid"), min_by(col("sig"), col("id")).as("ksig"))
        val hotNearKeeper = hotRows.join(bucketKeepers, Seq("band", "bucket"))
          .where(col("id") =!= col("kid")) // kid = bucket min, so kid < id
          .select(col("kid").as("id_a"), col("id").as("id_b"),
            bit_count(col("sig").bitwiseXOR(col("ksig"))).as("hamming"))
          .where(col("hamming") <= maxHamming)
        val hotIds = hotRows.select("id").distinct()
        val hotIdentical = Blocking.keeperStarPairs(
          sigs.join(hotIds, Seq("id"), "left_semi"), "sig", "hamming", lit(0).cast("int"))
        // every path emits the true hamming of (sig_a, sig_b) — a pair
        // reached by several paths contributes identical rows, so
        // distinct() collapses
        coldPairs.unionByName(hotNearKeeper).unionByName(hotIdentical).distinct()
    }
  }

  /** EXACT all-pairs SimHash hamming ≤ maxHamming — the brute-force ground
    * truth [[simHashPairs]] is measured against (DedupSpec asserts equality
    * under the default uncapped geometry, subset under a finite cap).
    * Deliberately quadratic: the signature table broadcasts into a
    * nested-loop self-join, recall = 1 by construction, INDEPENDENT of the
    * banding argument (pigeonhole) the fast path relies on. Validation
    * tool — run it on sampled corpora, never the 100 TB table; the linear
    * fast path IS [[simHashPairs]].
    */
  def simHashPairsExact(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val sigs = Partitioning.spread(df)
      .select(col(idCol).as("id"), simHash(col(textCol), tokenHash).as("sig"))
      .where(col("sig").isNotNull)
      .transform(pin)
    sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
      .join(
        sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
