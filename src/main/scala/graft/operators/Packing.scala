package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: turning a corpus of variable-length documents into
  * fixed-token-budget training sequences. Two shapes, matching the two
  * conventions LLM pipelines actually use:
  *
  *  - [[concatSplit]] — documents laid head-to-tail per shard and cut
  *    every `budget` tokens (GPT-style "concat then chunk"; documents MAY
  *    straddle sequence boundaries). Emits the exact placement manifest —
  *    which sequences each document lands in, at what offset — as pure
  *    window arithmetic: deterministic, one shuffle, ANSI-expressible
  *    (oracle-gated in the catalog).
  *  - [[greedyBins]] — document-PRESERVING packing (no splitting; short
  *    remainders are padding): first-fit-decreasing inside each shard via
  *    `mapPartitions`. Bin packing is NP-hard and inherently sequential,
  *    so this is one of the repo's few legitimate imperative-per-partition
  *    operators; FFD's classical guarantees stand in for an oracle (at
  *    most ONE bin per shard can be ≤ half full — if two were, first-fit
  *    would have merged them), pinned by PackingSpec alongside exact
  *    parity with a single-threaded reference fold.
  *
  * Scale shape: both are embarrassingly parallel across shards. The shard
  * column is the ONLY exchange key; within a shard, concatSplit is a
  * sorted window and greedyBins is an in-memory pack of that shard's
  * (id, tokens) pairs — KB per million docs, not the documents themselves.
  * Shard count is the parallelism dial: at 100 TB, shard by (source,
  * date-bucket) so each pack task sees millions of docs, not billions.
  * Oversize documents (tokens > budget) cannot pack; both operators
  * EXCLUDE them loudly ([[oversizeDocs]] audits, the chunker splits) —
  * the same cap-and-audit contract as `maxBucket`/`maxEventsPerUser`.
  */
object Packing {

  /** Placement manifest for concat-then-split packing: within each shard,
    * documents are concatenated in ascending `idCol` order and cut into
    * `budget`-token sequences. Output adds:
    *
    *   shard      — the packing shard (from `shardExpr`)
    *   start_off  — the document's first token's global offset in its shard
    *   first_seq / last_seq — the sequence range the document spans
    *   n_seqs     — how many sequences it touches (straddlers > 1)
    *   off_in_first — the document's offset inside its first sequence
    *
    * Zero-token documents occupy no space: they sit AT their offset
    * (first_seq = last_seq = start_off div budget). All arithmetic is
    * non-negative longs, so truncating and flooring division agree.
    */
  def concatSplit(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      shardExpr: Column,
      budget: Long): DataFrame = {
    require(budget > 0L, "budget must be positive")
    val w = Window.partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol), col(tokensCol).cast("long").as(tokensCol), shardExpr.as("shard"))
      .withColumn("start_off", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("first_seq", expr(s"start_off div ${budget}L"))
      .withColumn("last_seq",
        expr(s"greatest(start_off + `$tokensCol` - 1, start_off) div ${budget}L"))
      .withColumn("n_seqs", (col("last_seq") - col("first_seq") + 1L).cast("long"))
      .withColumn("off_in_first", col("start_off") % budget)
  }

  /** Remap per-document spans into PACKED-SEQUENCE coordinates: given a
    * span table (`idCol, start, end, …` — e.g. [[graft.operators
    * .Conversations.lossMaskSpans]] character offsets within each
    * rendered document) and a lengths table (`idCol, lenCol`), lay the
    * documents out with [[concatSplit]] and emit every span with
    *
    *   - `g_start`/`g_end` — offsets in the shard's concatenated stream
    *   - `seq_first`/`seq_last` — which budget-sized training sequences
    *     the span lands in
    *   - `crosses_boundary` — the span is SPLIT across sequences, the
    *     case a loss-masking trainer must handle (or drop) explicitly:
    *     silent boundary crossings are how packed SFT quietly trains on
    *     half an answer
    *
    * All arithmetic is the same non-negative integer window math as
    * [[concatSplit]], so the layout replays exactly on any engine.
    * Spans of documents absent from `lengths` drop (inner join — a
    * span without a layout has no coordinates); empty spans
    * (`start == end`) keep `seq_first = seq_last` at their position.
    *
    * Scale shape: one concatSplit window over the (small) lengths
    * table + one hash join back to the span rows; nothing corpus-wide
    * beyond the spans themselves.
    */
  def packedSpans(
      spans: DataFrame,
      lengths: DataFrame,
      idCol: String,
      lenCol: String,
      shardExpr: Column,
      budget: Long): DataFrame = {
    require(budget > 0L, "budget must be positive")
    val manifest = concatSplit(lengths, idCol, lenCol, shardExpr, budget)
      .select(col(idCol), col("shard"), col("start_off"))
    spans
      .join(manifest, Seq(idCol))
      .withColumn("g_start", col("start_off") + col("start"))
      .withColumn("g_end", col("start_off") + col("end"))
      .withColumn("seq_first", expr(s"g_start div ${budget}L"))
      .withColumn("seq_last",
        expr(s"greatest(g_end - 1, g_start) div ${budget}L"))
      .withColumn("crosses_boundary", col("seq_first") =!= col("seq_last"))
      .drop("start_off")
  }

  /** Document-preserving first-fit-decreasing packing. Each shard (hash of
    * `idCol` into `numShards` partitions) packs its documents into bins of
    * capacity `budget`: documents sorted by (tokens desc, id asc), each
    * placed into the FIRST bin it fits. Emits one row per packed document:
    * `(idCol, tokensCol, shard, bin)` with `bin` unique across shards
    * (shard ⨯ 2³² + local index, both non-negative ints).
    *
    * Documents with tokens > budget are EXCLUDED (pack them after
    * [[graft.operators.Chunker]] splits them, or inspect [[oversizeDocs]]);
    * null/negative token counts are a contract violation and excluded the
    * same way. A shard's (id, tokens) pairs must fit in task memory —
    * 16 bytes per doc, so hundreds of millions per task before that binds;
    * raise `numShards` long before then.
    */
  def greedyBins(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Long,
      numShards: Int = 0): DataFrame = {
    require(budget > 0L, "budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val n =
      if (numShards > 0) numShards
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val slim = docs
      .select(col(idCol).cast("long"), col(tokensCol).cast("long"))
      .where(col(tokensCol).isNotNull && col(tokensCol) >= 0L && col(tokensCol) <= budget)
      .as[(Long, Long)]
    val packed = slim
      .repartition(n, col(idCol))
      .mapPartitions { it =>
        val shard = org.apache.spark.TaskContext.getPartitionId()
        val ds = it.toArray.sortBy { case (id, tk) => (-tk, id) } // FFD order
        val remaining = scala.collection.mutable.ArrayBuffer.empty[Long]
        ds.iterator.map { case (id, tk) =>
          var b = 0
          while (b < remaining.size && remaining(b) < tk) b += 1
          if (b == remaining.size) remaining += budget
          remaining(b) -= tk
          (id, tk, shard, (shard.toLong << 32) | b.toLong)
        }
      }
    packed.toDF(idCol, tokensCol, "shard", "bin")
  }

  /** The documents [[greedyBins]]/[[concatSplit]] callers should chunk
    * first: token count above the budget (or null/negative — upstream
    * contract violations surface here too, not silently).
    */
  def oversizeDocs(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Long): DataFrame =
    docs.select(col(idCol), col(tokensCol).cast("long").as(tokensCol))
      .where(col(tokensCol).isNull || col(tokensCol) < 0L || col(tokensCol) > budget)

  /** Token-budget mixture plan: per source, its actual token mass, the
    * caller's target, and the deterministic keep fraction
    * `min(1, target/actual)` — how training mixes are rebalanced
    * ("cap web at 40B tokens, keep all of books"). Sources absent from
    * `targets` plan to fraction 0 (excluded — a mixture is a whitelist);
    * a source with no tokens plans to 0 rather than NaN. One aggregation
    * over one scan; output is source-cardinality rows, integers plus one
    * correctly-rounded division (oracle-comparable).
    */
  def mixturePlan(
      docs: DataFrame,
      sourceCol: String,
      tokensCol: String,
      targets: Map[String, Long],
      allowOversample: Boolean = false): DataFrame = {
    require(targets.nonEmpty, "mixturePlan needs at least one target")
    require(targets.values.forall(_ >= 0L), "targets must be non-negative")
    val targetExpr = targets.foldLeft(lit(0L)) { case (rest, (s, t)) =>
      when(col("source") === s, lit(t)).otherwise(rest)
    }
    val raw = col("target_tokens").cast("double") / col("actual_tokens").cast("double")
    docs
      .groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("actual_tokens"))
      .withColumn("target_tokens", targetExpr)
      .withColumn("fraction",
        when(col("actual_tokens") > 0L,
          if (allowOversample) raw else least(lit(1.0), raw))
          .otherwise(lit(0.0)))
  }

  /** Execute a [[mixturePlan]]: deterministic per-source document
    * sampling at the planned fractions, via the key-hash uniform
    * ([[Partitioning.stratifiedSample]] — zero shuffle, retry-proof,
    * nested under target changes). Two actions over `docs` (the plan
    * aggregate + the sampling scan): pin nondeterministic frames first —
    * the repo's standard two-action contract. Null-source rows are
    * excluded (they cannot carry a target).
    */
  def mixtureSample(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      tokensCol: String,
      targets: Map[String, Long],
      seed: Int = 42): DataFrame = {
    val fractions = mixturePlan(docs, sourceCol, tokensCol, targets)
      .select("source", "fraction")
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getDouble(1)))
      .toMap
    Partitioning.stratifiedSample(
      docs, sourceCol, idCol, fractions, defaultFraction = 0.0, seed = seed)
  }

  /** Execute an OVERSAMPLING mixture plan ("books for 3 epochs"): each
    * document is emitted `floor(f)` times plus one more with probability
    * `frac(f)`, so a source's expected token mass lands on its target
    * even when `target > actual`. Copies carry a 0-based `epoch` column —
    * shuffle on it downstream to keep repeats out of the same shard.
    *
    * The fractional-residue decision draws from `uniform` — by default
    * the key-hash uniform (deterministic, retry-proof, [[Partitioning]]'s
    * 53-bit construction); injectable so callers can choose systematic
    * sampling (e.g. `pmod(id, 1000)/1000.0` — the oracle-comparable
    * form q75 uses) without a second code path. `maxEpochs` bounds the
    * per-row explode (a target 100× beyond the corpus is a config error,
    * not a sampling request). Two actions over `docs` — pin
    * nondeterministic frames first, the standard two-action contract.
    */
  def mixtureSampleRepeats(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      tokensCol: String,
      targets: Map[String, Long],
      maxEpochs: Int = 100,
      seed: Int = 42,
      uniform: Option[Column] = None): DataFrame = {
    val fractions = mixturePlan(docs, sourceCol, tokensCol, targets, allowOversample = true)
      .select("source", "fraction")
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getDouble(1)))
      .toMap
    require(fractions.values.forall(_ <= maxEpochs),
      s"a planned fraction exceeds maxEpochs=$maxEpochs: " +
        fractions.filter(_._2 > maxEpochs).mkString(", "))
    val fracExpr = fractions.foldLeft(lit(0.0)) { case (rest, (s, f)) =>
      when(col(sourceCol) === s, lit(f)).otherwise(rest)
    }
    val u = uniform.getOrElse(
      Partitioning.uniformFromHash(xxhash64(col(idCol), lit(seed))))
    val copies = floor(fracExpr).cast("long") +
      when(u < fracExpr - floor(fracExpr), 1L).otherwise(0L)
    docs
      .withColumn("__n_copies", copies)
      .where(col("__n_copies") > 0L)
      // sequence() is safe here: the where guarantees stop >= start (an
      // unguarded sequence(0, -1) would yield [0, -1], not empty)
      .withColumn("epoch", explode(sequence(lit(0L), col("__n_copies") - 1L)))
      .drop("__n_copies")
  }

  /** α-temperature mixture plan (the multi-source sampling scheme of
    * Lample & Conneau 2019 §3.1, used by XLM-R / mT5): source i receives
    * the share `aᵢ^α / Σⱼ aⱼ^α` of `budgetTokens`, where aᵢ is its token
    * mass — α = 1 is proportional (no rebalance), α → 0 uniform, and
    * α ∈ (0,1) up-weights tail sources without drowning the head. Unlike
    * [[mixturePlan]], the caller names ONE budget, not per-source
    * targets; every source participates (temperature is a rebalance, not
    * a whitelist).
    *
    * Determinism/portability contract: the mass basis is INTEGERIZED —
    * bᵢ = floor(aᵢ^α) — so the cross-source normalizer Σbⱼ is an exact
    * integer sum (no float summation-order dependence anywhere) and each
    * target is the exact decimal floor-division bᵢ·B div Σbⱼ (the
    * remainder-subtraction trick — no rounding-mode ambiguity). At the
    * default α = 0.5 the basis rides IEEE-correctly-rounded `sqrt`, so
    * the whole plan is bit-identical across engines (q76's oracle); other
    * α go through `pow` (≤ 1 ulp, floor boundaries spec-gated only).
    * Integerizing costs < 0.1% weight precision once a source's basis
    * exceeds ~10³ — always true at corpus scale; a source whose mass is
    * so small that floor(aᵢ^α) = 0 gets target 0 (it was noise).
    *
    * Output: (source, n_docs, actual_tokens, target_tokens, weight,
    * fraction) — same shape as [[mixturePlan]] plus `weight`, so
    * [[targetsOf]] feeds [[mixtureSample]] (downsample-only) or
    * [[mixtureSampleRepeats]] (epoch oversampling) unchanged. One
    * aggregation over one scan; the all-sources window runs at
    * source cardinality, not corpus cardinality.
    */
  def temperatureMixturePlan(
      docs: DataFrame,
      sourceCol: String,
      tokensCol: String,
      budgetTokens: Long,
      alpha: Double = 0.5): DataFrame = {
    require(budgetTokens >= 0L, "budget must be non-negative")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha=$alpha is not a smoothing exponent (expected [0, 1])")
    val a = col("actual_tokens").cast("double")
    // sqrt is IEEE-correctly-rounded; pow is not — keep the oracle-exact
    // path on sqrt for the default alpha
    val basisD = floor(if (alpha == 0.5) sqrt(a) else pow(a, lit(alpha)))
    val w = Window.partitionBy() // source-cardinality rows only
    val total = sum(col("__basis")).over(w)
    val num = col("__basis") * lit(budgetTokens)
    docs
      .groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("actual_tokens"))
      .withColumn("__basis",
        when(col("actual_tokens") > 0L, basisD)
          .otherwise(lit(0.0)).cast("decimal(38,0)"))
      .withColumn("target_tokens",
        when(total > 0L, ((num - (num % total)) / total).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("weight",
        when(total > 0L, col("__basis").cast("double") / total.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("fraction",
        when(col("actual_tokens") > 0L,
          least(lit(1.0),
            col("target_tokens").cast("double") / col("actual_tokens").cast("double")))
          .otherwise(lit(0.0)))
      .drop("__basis")
  }

  /** WATERFILLING allocation of a token budget across sources — the
    * standard constrained-mixture primitive [[mixturePlan]] (explicit
    * targets) and [[temperatureMixturePlan]] (smoothed proportions)
    * both lack: spend `budgetTokens` as EVENLY as possible subject to
    * per-source capacity, i.e. target_i = min(capacity_i, L) with the
    * water level L chosen so the targets sum EXACTLY to
    * min(budget, Σ capacity). Small sources are taken whole; large
    * sources are clipped to the common level — the "no source dominates,
    * no budget stranded" allocation used when upsampling is off the
    * table.
    *
    * All arithmetic is exact integers, one deterministic total order
    * (capacity, then source name): sort the source aggregate, prefix-sum
    * it, fund every source whose capacity fits under the level implied
    * by funding it (`S_j + c_j·(n−j) ≤ B` — the classic test), then
    * level = `(B − S_k) div m` over the m unfunded sources with the
    * remainder's +1s going to the FIRST `(B − S_k) mod m` of them in
    * sort order. The maximality of k guarantees `level + 1 ≤ c_j` for
    * every unfunded source, so remainder distribution can never
    * overshoot a capacity. Exact-sum witness: Σ targets =
    * min(budget, Σ capacity), asserted nowhere silently — the q117
    * oracle replays every step.
    *
    * Scale shape: one map-side-combined aggregate to source cardinality,
    * then windows over source-cardinality rows only (the explicit
    * `Window.partitionBy()` single-partition move shared with
    * [[temperatureMixturePlan]] — a mixture with a million sources is
    * not a mixture).
    */
  def waterfillMixturePlan(
      docs: DataFrame,
      sourceCol: String,
      tokensCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0L, "budget must be non-negative")
    val ord = Window.orderBy(col("actual_tokens"), col("source"))
    val all = Window.partitionBy()
    val b = lit(budgetTokens)
    val out = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        // coalesce: a source whose token column is all NULL aggregates to
        // NULL capacity, which sorts FIRST in the window and makes
        // __funded three-valued (NULL = treated unfunded) — it could then
        // draw a positive target exceeding its zero capacity, breaking
        // the Σtargets = min(budget, Σcapacity) witness. Zero capacity
        // funds at exactly 0, preserving the law.
        coalesce(sum(col(tokensCol).cast("long")), lit(0L)).as("actual_tokens"))
      .withColumn("__j", row_number().over(ord).cast("long"))
      .withColumn("__s", sum("actual_tokens").over(ord)) // inclusive prefix
      .withColumn("__n", count(lit(1)).over(all).cast("long"))
      .withColumn("__funded",
        col("__s") + col("actual_tokens") * (col("__n") - col("__j")) <= b)
      .withColumn("__k", max(when(col("__funded"), col("__j")).otherwise(0L)).over(all))
      .withColumn("__sk", max(when(col("__funded"), col("__s")).otherwise(0L)).over(all))
      .withColumn("__m", col("__n") - col("__k"))
    // CaseWhen short-circuits per row, so the div/mod by __m only ever
    // evaluates on unfunded rows — where maximality of k guarantees
    // __m > 0 (ANSI mode would otherwise throw on the all-funded case)
    val level = expr(s"CASE WHEN __funded THEN actual_tokens " +
      s"ELSE ($budgetTokens - __sk) div __m END")
    val extra = expr(s"CASE WHEN __funded THEN 0L " +
      s"WHEN __j - __k <= ($budgetTokens - __sk) % __m THEN 1L ELSE 0L END")
    out
      .withColumn("target_tokens", level + extra)
      .withColumn("fraction",
        when(col("actual_tokens") > 0L,
          col("target_tokens").cast("double") / col("actual_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .drop("__j", "__s", "__n", "__funded", "__k", "__sk", "__m")
  }

  /** Collect a plan's `(source → target_tokens)` map — the bridge from
    * [[temperatureMixturePlan]] (or [[mixturePlan]]) to the samplers.
    * Bounded by source cardinality (a mixture with a million sources is
    * not a mixture).
    */
  def targetsOf(plan: DataFrame): Map[String, Long] =
    plan.select("source", "target_tokens").collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1))).toMap

  /** Per-bin utilization of a [[greedyBins]] result: `(shard, bin, n_docs,
    * fill, waste)` — the padding-overhead report training-throughput
    * dashboards want. One aggregation on the already-shuffled keys.
    */
  def binStats(packed: DataFrame, tokensCol: String, budget: Long): DataFrame =
    packed.groupBy("shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("fill"))
      .withColumn("waste", lit(budget) - col("fill"))

  /** Materialize an epoch's shuffled shards: [[epochShuffleShards]]
    * carries the full rows through the permutation (no join back — see
    * its duplicate-id note) and the result lands as `<path>/shard=<k>/`
    * with ONE file per shard whose ROW ORDER is the epoch's global
    * order — the artifact a training reader streams sequentially. One
    * exchange on the shard key (each shard collapses into one task →
    * one file), rows sorted by (shard, pos) within it. Written through
    * the atomic staged swap, so a re-run over a half-written epoch never
    * serves a mix of two attempts; the prefix-sum's internal pin is
    * scoped to this call and released before returning.
    */
  def writeEpochShards(
      df: DataFrame,
      idCol: String,
      epoch: Int,
      shardSize: Long,
      path: String): Unit = {
    // the assignment CARRIES the payload (no id-keyed join back: a
    // duplicate id would match k×k and silently corrupt the artifact —
    // review, round 11), and the operator fully consumes its own frames,
    // so the runningSum pin is scoped and released HERE rather than
    // leaking one persisted frame per epoch into a caller's loop
    Caches.scoped {
      val rows = epochShuffleShards(df, idCol, epoch, shardSize)
        .repartition(col("shard"))
        .sortWithinPartitions("shard", "pos")
      graft.sources.Sinks.writePartitionedAtomic(rows, path, Seq("shard"))
    }
  }

  /** Length-bucketed dynamic batching (the fairseq/padded-batch shape):
    * docs are grouped into power-of-two LENGTH buckets
    * (`bucket = ⌊log₂ len⌋`, computed exactly as `length(bin(len)) − 1`
    * — never a float log whose last ulp flips a power-of-two boundary),
    * and within each bucket assigned to fixed-size batches in
    * deterministic (len, id) order. Batching similar lengths together is
    * what keeps padding waste bounded: a batch's pad cost is its
    * max−min length spread, and a power-of-two bucket caps that spread
    * at 2× by construction.
    *
    * Output: (doc_id, len, bucket, batch_in_bucket, pos_in_batch) — a
    * pure function of the corpus (ids unique by contract; rows with
    * NULL or non-positive length have no batchable size and are
    * excluded). The last batch of each bucket may be short.
    *
    * Scale shape: the global position rides [[Partitioning.runningSum]]
    * (distributed two-phase prefix sum — no single-partition window)
    * over the bucket-major (bucket, len, id) order, so per-bucket
    * positions are contiguous by construction; the per-bucket start
    * offsets are a ≤64-row broadcast. One range exchange + one tiny
    * aggregate, regardless of corpus size. The prefix sum pins an
    * internal frame the result references lazily (the
    * [[Graphs.pageRankInt]] pin lifetime).
    */
  def lengthBucketedBatches(
      df: DataFrame,
      idCol: String,
      lenCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, "batchSize must be positive")
    val rows = df
      .where(col(lenCol).isNotNull && col(lenCol) >= 1L)
      .select(col(idCol).as("doc_id"), col(lenCol).cast("long").as("len"))
      .withColumn("bucket", (length(bin(col("len"))) - 1).cast("int"))
      .withColumn("__ord", struct(col("bucket"), col("len"), col("doc_id")))
      .withColumn("__one", lit(1L))
    val run = Partitioning.runningSum(rows, "__ord", "__one", "__pos")
    val starts = run.groupBy("bucket").agg(min(col("__pos")).as("__start"))
    run.join(broadcast(starts), Seq("bucket"))
      .select(
        col("doc_id"), col("len"), col("bucket"),
        expr(s"(__pos - __start) div $batchSize").as("batch_in_bucket"),
        ((col("__pos") - col("__start")) % batchSize).cast("int").as("pos_in_batch"))
  }

  /** Deterministic EPOCH SHUFFLE with shard assignment — the "write
    * shuffled shards" step every training run needs: a fresh global
    * permutation of the corpus per epoch, identical on every re-run and
    * engine (so a resumed job reads the same byte order), with documents
    * numbered 1..n in permuted order and cut into fixed-size shards.
    *
    * The permutation is `id · m(epoch) mod p` with p = 1000000007 and an
    * epoch-dependent multiplier m(epoch) = 654321979 + epoch·2718281:
    * any nonzero unit mod a prime is a bijection, so the draw is
    * INJECTIVE over ids — no ties exist, the global order is a pure
    * function of (id, epoch), and an ANSI `row_number` reproduces it
    * exactly. The multiplier must be LARGE so the product wraps the
    * modulus (a small multiplier like 37 never wraps small ids and the
    * "shuffle" degenerates to identity order — caught by this spec in
    * round 11); it must also change per epoch MULTIPLICATIVELY (an
    * additive epoch offset only rotates one fixed circular order).
    * Position numbering is the two-phase distributed prefix sum
    * ([[Partitioning.runningSum]]) — never a single-partition window;
    * shard = (pos−1) div shardSize.
    *
    * `idCol` must be a non-negative integral id below p (10⁹) — the
    * injectivity domain of a mod-p permutation; pre-hash or re-number
    * wider id spaces first. Epochs are cheap: each is one range exchange
    * over (id, draw), nothing is materialized per epoch.
    */
  def epochShuffleShards(
      df: DataFrame,
      idCol: String,
      epoch: Int,
      shardSize: Long): DataFrame = {
    require(shardSize > 0, "shardSize must be positive")
    require(epoch >= 0, "epoch must be non-negative")
    // `pos` and `shard` are RESERVED output names; every other input
    // column passes through, so consumers never join back on the id
    // (the k×k duplicate-id hazard). Positions are a pure function of
    // (id, epoch) for DISTINCT ids; rows SHARING an id share a draw and
    // tie-break on runningSum's internal row identity — dedup first if
    // byte-exact replay across duplicate ids matters.
    require(!df.columns.contains("pos") && !df.columns.contains("shard"),
      "input already has a 'pos'/'shard' column — rename it before sharding")
    val p = 1000000007L
    val m = (654321979L + epoch.toLong * 2718281L) % p
    // m ≡ 0 mod p is not a unit: every draw would collapse to 0 and the
    // ordering would fall back to runningSum's internal (layout-
    // dependent) tie column — the exact nondeterminism this operator
    // exists to prevent. First such epoch is ~1.3·10⁸; fail loudly.
    require(m != 0L, s"epoch $epoch degenerates the permutation (multiplier ≡ 0 mod $p)")
    // the id domain is ENFORCED per row, not just documented: an id
    // outside [0, p) (xxhash64/snowflake ids are routine) would collide
    // mod p and silently hand the collided rows a layout-dependent order
    // — the exact nondeterminism this operator promises away. raise_error
    // folds into the draw projection; in-domain corpora pay one branch.
    val draw = when(
      col(idCol) < 0L || col(idCol) >= lit(p),
      raise_error(concat(
        lit(s"epochShuffleShards id out of [0, $p) — pre-hash or renumber: "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(pmod(col(idCol) * lit(m), lit(p)))
    val drawn = df
      .withColumn("__draw", draw)
      .withColumn("__one", lit(1L))
    Partitioning.runningSum(drawn, "__draw", "__one", "pos")
      .withColumn("shard", expr(s"(pos - 1) div $shardSize"))
      .drop("__draw", "__one")
  }

  /** Competence-based CURRICULUM schedule (Platanios et al. 2019,
    * "Competence-based Curriculum Learning for Neural Machine
    * Translation" — public pacing function, restated): documents rank by
    * a difficulty score, and epoch `e` trains on the easiest
    * `c(e) = min(1, sqrt(c0² + (1−c0²)·e/rampEpochs))` fraction of the
    * corpus, each epoch's eligible set freshly permuted and cut into
    * fixed shards. Output: every input column plus `difficulty_rank`
    * (1..N by (difficulty, id) — the id tie-break makes equal scores a
    * total order, so the rank is byte-reproducible), `epoch`, and the
    * epoch's `pos`/`shard` from [[epochShuffleShards]].
    *
    * Everything downstream of the score is integer-or-IEEE arithmetic —
    * rank via the distributed prefix sum, eligibility via one
    * correctly-rounded sqrt/mul/ceil chain both engines share, order via
    * the injective mod-p draw — so an ANSI replay reproduces the entire
    * schedule (q141), epochs included.
    *
    * Scale contract: ONE range exchange for the global rank (pinned and
    * reused by every epoch — [[Caches.inScope]] in long-lived
    * sessions), one range exchange per epoch over its eligible subset;
    * driver traffic is the prefix-sum offset rows plus a single scalar
    * count (the competence cut needs |corpus|). NULL difficulty fails
    * loudly per row — silently ranking NULLs first (or last: engines
    * disagree!) would both corrupt the curriculum and break replay.
    */
  def curriculumSchedule(
      df: DataFrame,
      idCol: String,
      difficultyCol: String,
      epochs: Int,
      startCompetence: Double,
      rampEpochs: Int,
      shardSize: Long): DataFrame = {
    require(epochs >= 1, "need at least one epoch")
    require(rampEpochs >= 1, "rampEpochs must be positive")
    require(startCompetence > 0.0 && startCompetence <= 1.0,
      s"startCompetence must be in (0, 1]: $startCompetence")
    Seq("difficulty_rank", "epoch").foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — rename it before scheduling")
    }
    val diffType = df.schema(difficultyCol).dataType
    val checked = when(col(difficultyCol).isNull,
      raise_error(concat(
        lit(s"curriculumSchedule: NULL $difficultyCol for id "),
        col(idCol).cast("string"),
        lit(" — impute or filter before ranking"))).cast(diffType))
      .otherwise(col(difficultyCol))
    val ordered = df
      .withColumn("__cord", struct(checked.as("d"), col(idCol).as("i")))
      .withColumn("__one", lit(1L))
    val ranked = Caches.pin(Partitioning
      .runningSum(ordered, "__cord", "__one", "difficulty_rank")
      .drop("__cord", "__one"))
    val n = ranked.count() // bounded: ONE scalar — the competence cut needs |corpus|
    val c0sq = startCompetence * startCompetence
    (0 until epochs).map { e =>
      val c = math.min(1.0, math.sqrt(c0sq + (1.0 - c0sq) * e / rampEpochs))
      val k = math.min(n, math.ceil(c * n).toLong)
      epochShuffleShards(ranked.filter(col("difficulty_rank") <= k),
        idCol, epoch = e, shardSize = shardSize)
        .withColumn("epoch", lit(e))
    }.reduce(_.unionByName(_))
  }
}
