package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.sources.BatchTable

/** Persisted inverted keyword index — the serving shape of corpus text
  * search, completing the index triad: [[DedupIndex]] (near-dup probes),
  * [[AnnIndex]] (embedding neighbors), and this (BM25 keyword top-k).
  * [[Ranking.bm25]] answers "score THIS frame against a query" and
  * re-tokenizes the corpus per query; a 100 TB corpus instead tokenizes
  * each batch ONCE into on-disk postings and serves every later query
  * from them:
  *
  *   1. [[init]]/[[append]] — tokenize a batch once, land its postings
  *      as a new immutable `batch=<label>` partition (atomic rename;
  *      readers see the whole batch or none of it).
  *   2. [[searchTopK]] — BM25 top-k over the index: the query's term
  *      IN-filter is pushed into the postings parquet scan (the files
  *      are range-clustered by term, so row groups that contain no query
  *      term never decompress), document frequencies fall out of the
  *      matched postings with a tiny aggregate, and scoring touches only
  *      O(postings of the query terms) rows — the corpus text is never
  *      re-read, and nothing corpus-sized ever shuffles.
  *
  * Scoring is [[Ranking.bm25RationalScores]] — BM25 at the fixed
  * defaults k1 = 6/5, b = 3/4 with every weight a single division of
  * exact integers, so search results hash-match an ANSI oracle
  * recomputing BM25 from the raw corpus (q84).
  *
  * On-disk layout under `path` (plain parquet, engine-agnostic):
  * {{{
  *   params/              one row: tokenizer   — existence marker
  *   stats/batch=<b>/     one row: n_docs, sum_dl
  *   versions/batch=<b>/  (doc_id) — the batch's doc manifest: which
  *                        docs this batch VERSIONS (present even for a
  *                        doc whose text tokenized to nothing)
  *   postings/batch=<b>/  (term, doc_id, tf, dl, positions: array<int>)
  * }}}
  * Postings are POSITIONAL (token offsets of every occurrence —
  * Manning et al., IIR §2.4's positional index): BM25 search reads only
  * (term, doc_id, tf, dl) and parquet column pruning leaves the
  * positions bytes on disk; [[phraseTopK]] reads them to verify
  * adjacency without ever touching the corpus text. Storage cost is the
  * standard positional trade: one int per token OCCURRENCE (≈ corpus
  * token count in extra ints, typically 2–4× postings bytes), paid only
  * on disk — delta-friendly sorted ints that parquet encodes compactly,
  * and no non-phrase read path ever loads them.
  * Corpus-level N and Σdl are the SUM of the per-batch stats rows
  * (append-only, O(batches) to read). Batches commit through
  * [[graft.sources.BatchTable]]: `postings/` is the marker, promoted LAST
  * by [[append]], with `stats/` and `versions/` as its companions.
  * Caller contract, as with [[DedupIndex]]: doc ids are unique ACROSS
  * batches (each document is indexed once — dedup runs upstream).
  *
  * Scale notes (100 TB corpus ≈ 10¹¹ postings rows of term + 3 longs):
  *  - postings are `repartitionByRange(term)` + sorted within
  *    partitions, so a query term's rows live in a handful of row
  *    groups; the IN-filter prunes via parquet min/max before any read.
  *  - hot terms ("the") make hot postings ranges — but a query only
  *    pays for terms it asks about, df arrives from the same matched
  *    rows (no separate dictionary), and the final per-doc pivot-sum
  *    aggregates candidate-sized data.
  *  - [[compact]] folds accreted micro-batches into one re-clustered
  *    batch (per-batch range clustering overlaps ACROSS batches until
  *    then), same promote-then-delete contract as [[DedupIndex.compact]]:
  *    concurrent probes are safe (duplicated postings collapse to one
  *    version per (term, doc_id) before df/tf use), concurrent appends
  *    are not.
  */
object TextIndex {

  private def paramsDir(path: String) = s"$path/params"
  private def statsDir(path: String) = s"$path/stats"
  private def postingsDir(path: String) = s"$path/postings"
  private def versionsDir(path: String) = s"$path/versions"
  private def table(spark: SparkSession, path: String) =
    BatchTable(spark, postingsDir(path), Seq(statsDir(path), versionsDir(path)))

  /** Total version order over batch labels, as a sortable string key.
    * The repo produces TWO label namespaces — zero-padded numeric labels
    * from [[nextBatchLabel]]/[[compact]] and `s`-prefixed labels from
    * the streaming ingest ([[graft.streaming.Streams.textIngest]], which
    * must derive labels from the replayable micro-batch id) — and the
    * r17 review found plain lexicographic order breaks across them
    * ('s' > '9', so EVERY streaming label outranked EVERY numeric one)
    * and even within the numeric namespace past 8 digits ("100000000" <
    * "99999999" lexicographically). This key makes the rule explicit and
    * value-based:
    *
    *  - within a namespace, the numeric VALUE orders (so labels survive
    *    the %08d padding horizon);
    *  - across namespaces, `s`-labels outrank numeric labels BY DESIGN:
    *    the numeric namespace is the manual/backfill namespace and the
    *    `s` namespace is the live-ingest namespace, and a backfill
    *    re-append must not supersede what the live stream has already
    *    served (a backfill that must supersede goes through the stream,
    *    or lands after a [[compact]], which re-bases all content into
    *    the numeric namespace);
    *  - unrecognized labels (caller-chosen free-form strings) rank above
    *    both, ordered lexicographically among themselves — a caller that
    *    names batches manually owns their order.
    *
    * Numeric namespaces admit at most 18 digits (r18 ADVICE): a 19-digit
    * label can exceed Long.MaxValue, where `cast('long')` NULLs the key
    * (batch rows silently vanish from serving — or throw under ANSI
    * mode) while the driver-side twin [[versionKeyStr]] throws
    * NumberFormatException — the twins would diverge. Any label of 19+
    * digits (with or without the `s` prefix) is treated as free-form in
    * BOTH implementations instead; every 18-digit value fits a Long, so
    * inside the recognized namespaces the cast can never overflow.
    */
  private[operators] def versionKey(label: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val l = label.cast("string")
    when(l.rlike("^[0-9]{1,18}$"),
      concat(lit("0"), lpad(l.cast("long").cast("string"), 19, "0")))
      .when(l.rlike("^s[0-9]{1,18}$"),
        concat(lit("1"),
          lpad(regexp_replace(l, "^s", "").cast("long").cast("string"), 19, "0")))
      .otherwise(concat(lit("2"), l))
  }

  /** Create an empty index at `path`. Idempotent via the atomic staging
    * swap; an index with zero batches is valid (probes match nothing).
    */
  def init(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    graft.sources.Sinks.writePartitionedAtomic(
      Seq("ws_lower_v1").toDF("tokenizer").coalesce(1),
      paramsDir(path), Nil)
  }

  /** Tokenizer id the index was built with. Fails loudly if `path` holds
    * no index; appends and probes must tokenize identically, so a future
    * second tokenizer would fork on this value.
    */
  def tokenizer(spark: SparkSession, path: String): String =
    spark.read.parquet(paramsDir(path)).head().getAs[String]("tokenizer")

  /** Labels of committed batches, sorted — a listing of `postings/`. */
  def batches(spark: SparkSession, path: String): Seq[String] =
    table(spark, path).committed

  /** Next zero-padded numeric batch label (`00000001`, …). SINGLE-WRITER
    * allocation: see [[graft.sources.BatchTable]] (TextIndexSpec pins the
    * refusal and that the winner's data is untouched).
    */
  def nextBatchLabel(spark: SparkSession, path: String): String =
    table(spark, path).nextLabel

  /** Tokenize `docs` and land its postings, stats and doc manifest as
    * batch `batch`, in one corpus-scale pass; an existing label is
    * refused. Stats and manifest land first, postings last — postings
    * presence IS the batch's commit marker.
    *
    * Assumes `docs` is not modified while the append runs: a
    * [[replayStable]] source is read once for the postings and once for
    * the manifest ids, and both reads must see the same rows.
    */
  def append(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batch: String,
      allowFreeFormLabel: Boolean = false): Unit =
    commitBatch(docs, idCol, textCol, path, batch, allowFreeFormLabel, once = false)

  private def commitBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batch: String,
      allowFreeFormLabel: Boolean,
      once: Boolean): Unit = {
    BatchTable.requireLabel(batch)
    // Label-shape gate (VERDICT r18 item 7): [[versionKey]] ranks
    // free-form labels ABOVE both managed namespaces, so one stray label
    // (a UUID, a date string, a 19+-digit overflow) permanently
    // supersedes every future numeric AND streaming append for its docs
    // until a compact re-bases. That is a deliberate escape hatch, not a
    // default: refuse the foot-gun loudly unless the caller opts in.
    require(allowFreeFormLabel ||
      batch.matches("^[0-9]{1,18}$") || batch.matches("^s[0-9]{1,18}$"),
      s"free-form batch label '$batch': unrecognized label shapes rank above " +
        "both managed namespaces (numeric and s-prefixed) under the version " +
        "order, permanently superseding every future managed append for these " +
        "docs until compact — pass allowFreeFormLabel = true only if that " +
        "supersession is intended")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus scan: the doc-level stats (n_docs, Σdl) ride the SAME
    // job that shuffles and stages the postings, observed at the
    // per-doc point of the plan (CollectMetrics — Spark's
    // retry/AQE-safe query-metrics channel). A separate stats action
    // would re-scan and re-tokenize the whole corpus; pinning the
    // tokenized frame instead would cache a corpus-sized intermediate.
    // BatchTable stages the postings (the marker) first, which populates
    // the observation, then lands the tiny stats batch and the manifest,
    // and only then promotes the staged postings.
    val obs = new org.apache.spark.sql.Observation(
      s"graft_text_stats_${batch}_${java.util.UUID.randomUUID().toString.take(8)}")
    def postings = {
      tokenizer(spark, path) // existence check, fails loudly
      docs
        .select(col(idCol).as("doc_id"), text.tokens(lower(col(textCol))).as("toks"))
        .observe(obs,
          count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("sum_dl"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("term", "doc_id", "dl")
        // sort_array: collect_list order is partition-nondeterministic;
        // sorted offsets make the posting row a pure function of the doc
        .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", "doc_id")
    }
    val companions = (staging: String) => {
      val m = obs.get
      // an EMPTY metrics map means the optimizer PROVED the postings
      // empty (a literal batch whose every text tokenizes to nothing)
      // and pruned the observe node with the subtree — zero postings
      // and zero tokens are certain, only the doc count needs a direct
      // (degenerate-sized) pass so N still counts the empty docs
      val (nDocs, sumDl) =
        if (m.isEmpty) (docs.count(), 0L)
        else (m("n_docs").asInstanceOf[Long], m("sum_dl").asInstanceOf[Long])
      val stats = Seq((nDocs, sumDl, Seq.empty[String]))
        .toDF("n_docs", "sum_dl", "folds").coalesce(1)
      // the per-batch doc manifest ([[versionsDir]]): which doc_ids this
      // batch VERSIONS — the STAGED postings' ids unioned with the input
      // frame's ids. The staged side makes the manifest a superset of the
      // committed postings BY CONSTRUCTION (r18 ADVICE: deriving it from
      // a second evaluation of a nondeterministic input could miss a doc
      // that HAS postings, and [[anchorToManifest]]'s inner join would
      // then silently drop it from serving); the input side keeps the
      // tombstone contract — a doc re-appended with empty text registers
      // a (postings-free) newer version and serves as deleted until
      // [[compact]] drops it physically.
      //
      // The staged re-read exists ONLY for nondeterministic inputs
      // (postings of one evaluation vs ids of another). For a
      // REPLAY-STABLE plan — deterministic expressions, no limit/sample,
      // file/local leaves, i.e. the standard append path and the
      // documented [[appendIdempotent]] contract — the staged ids are a
      // subset of the input ids by construction, the union adds nothing,
      // and re-reading the corpus-scale postings directory (one doc_id
      // row per POSTING, ~tokens-distinct per doc — far more rows than
      // docs) just to recover ids the input side already carries is a
      // pure waste (VERDICT r19 item 4). The defensive union remains the
      // nondeterministic-input path.
      val inputIds = docs.select(col(idCol).as("doc_id")).where(col("doc_id").isNotNull)
      val manifestIds =
        if (replayStable(docs)) inputIds.distinct()
        else {
          // explicit schema on the staged read: an all-empty-text batch
          // stages ZERO postings rows (possibly no part files at all),
          // and schema inference over that directory would throw
          val stagedIds = spark.read
            .schema(org.apache.spark.sql.types.StructType(
              docs.select(col(idCol).as("doc_id")).schema.fields.toSeq
                .map(_.copy(nullable = true))))
            .parquet(staging)
            .select("doc_id")
          inputIds.unionByName(stagedIds).distinct()
        }
      // lands BEFORE the postings promote so the commit marker still
      // covers everything (stats/versions without postings = the
      // crashed-append window [[appendIdempotent]] clears)
      Seq(stats, manifestIds.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id"))
    }
    // a stale stats/versions half (the crashed-append window) is refused
    // BEFORE the corpus-scale staging write; [[appendIdempotent]] clears it
    if (once) table(spark, path).commitOnce(batch, postings, companions)
    else table(spark, path).commit(batch, postings, companions)
  }

  /** Conservative replay-stability check for [[append]]'s manifest
    * derivation: true only when re-evaluating `docs` provably yields the
    * same row set — every expression deterministic, no limit/offset/
    * sample node (their selected rows are evaluation-order-dependent),
    * and every leaf a file or local relation. Anything unrecognized
    * (streams, JDBC, cached relations whose recompute path is unknown)
    * answers false and takes the defensive staged-union path. Exposed
    * package-private so TextIndexSpec can pin both polarities.
    */
  private[graft] def replayStable(docs: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = docs.queryExecution.analyzed
    val exprsDeterministic =
      !plan.exists(p => p.expressions.exists(e => e.exists(!_.deterministic)))
    val noUnstableNodes = !plan.exists {
      case _: GlobalLimit | _: LocalLimit | _: Offset | _: Sample => true
      case _ => false
    }
    val leavesStable = plan.collectLeaves().forall {
      case _: LogicalRelation => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case _ => false
    }
    exprsDeterministic && noUnstableNodes && leavesStable
  }

  /** [[init]] + [[append]] of the first batch in one call. */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batch: String = "00000001"): Unit = {
    init(docs.sparkSession, path)
    append(docs, idCol, textCol, path, batch)
  }

  /** Retry-safe [[append]] for exactly-once ingestion loops: postings
    * present → the previous attempt committed, no-op; only stats/versions
    * present → the attempt died before the promote, the stale halves are
    * dropped and the append re-runs (deterministic content → identical
    * redo; [[graft.sources.BatchTable.commitOnce]]). The same
    * immutable-source assumption as [[append]]: `docs` must not change
    * during the append, nor between a crashed attempt and its retry.
    */
  def appendIdempotent(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batch: String,
      allowFreeFormLabel: Boolean = false): Unit =
    commitBatch(docs, idCol, textCol, path, batch, allowFreeFormLabel, once = true)

  /** Postings restricted to each doc's LATEST batch *within the frame
    * given* — the version-coherent degrade for a doc_id re-appended with
    * different text (outside the unique-ids caller contract, but a state
    * the index can physically hold). The r16 review found the
    * per-(term, doc_id) collapse alone can MIX versions across terms
    * within one query (term A scored from version 1, term B from
    * version 2, with inconsistent dl inside one BM25 sum); anchoring
    * every term to the doc's greatest batch under [[versionKey]]'s total
    * order first makes each call score ONE document. [[compact]]'s merge
    * label outranks all its NUMERIC sources; `s`-labeled sources outrank
    * the merge during the promote-then-delete window, which is still
    * coherent because the anchored source version is bitwise the merge's
    * canonical content (the per-(term, doc_id) collapse folds the pair).
    *
    * Anchor scope is the frame given: [[dfReport]] and [[compact]] pass
    * ALL terms, so their anchor is the doc's latest POSTINGS-BEARING
    * version. [[searchTopK]]/[[phraseTopK]] pass only the query's terms,
    * so under this fallback a doc whose latest version matches NO query
    * term anchors to its newest MATCHING version. This function is now
    * only the FALLBACK for indexes predating the [[versionsDir]] doc
    * manifest (and the maintenance faces, where the frame is the whole
    * corpus); indexes with a covering manifest serve through
    * [[anchorToManifest]], which closes the stale-only residual exactly.
    * Within one batch no order exists — [[append]] lands one row per
    * (term, doc_id) unless the INPUT batch itself duplicated a doc_id,
    * and that residue still degrades per-term via the callers'
    * deterministic max() collapse. Cost: one doc_id-keyed window over
    * the frame given (candidate-sized after a term IN-filter; one extra
    * corpus-sized exchange on the [[dfReport]]/[[compact]] maintenance
    * cadence). Stats stay append-derived: a re-appended doc still
    * counts in N/Σdl twice — the caller violated the contract; scoring
    * merely stays internally consistent.
    */
  private def latestVersionOnly(postings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    postings
      .withColumn("__vkey",
        versionKey(regexp_extract(col("_metadata.file_path"), "/batch=([^/]+)/", 1)))
      .withColumn("__maxk", max(col("__vkey")).over(Window.partitionBy("doc_id")))
      .where(col("__vkey") === col("__maxk"))
      .drop("__vkey", "__maxk")
  }

  /** Driver-side twin of [[versionKey]] — same key, same namespaces,
    * same 18-digit numeric bound (overflowing labels are free-form in
    * both twins, never a NumberFormatException here vs a NULL there).
    */
  private[operators] def versionKeyStr(label: String): String =
    if (label.matches("^[0-9]{1,18}$")) "0" + "%019d".format(label.toLong)
    else if (label.matches("^s[0-9]{1,18}$"))
      "1" + "%019d".format(label.stripPrefix("s").toLong)
    else "2" + label

  /** Does every committed batch carry a [[versionsDir]] doc manifest?
    * Indexes built before the manifest landed have postings batches with
    * no `versions/` twin; anchoring against an INCOMPLETE manifest would
    * silently treat pre-manifest versions as nonexistent, so the serving
    * faces fall back to [[latestVersionOnly]] until a [[compact]] (whose
    * merge writes the manifest) or a rebuild makes the manifest cover.
    * A directory listing per table — O(batches), no data read.
    */
  private def manifestCovers(spark: SparkSession, path: String): Boolean = {
    val t = table(spark, path)
    val have = t.labels(versionsDir(path)).toSet
    have.nonEmpty && t.committed.forall(have.contains)
  }

  /** Write the missing `versions/` doc manifests for an index built
    * before the manifest landed (VERDICT r18 item 2): one narrow
    * doc_id pass per uncovered batch — derived from that batch's OWN
    * postings, no postings rewrite — after which [[manifestCovers]]
    * holds and every serving face routes through [[anchorToManifest]]'s
    * exact version anchor instead of the frame-scoped
    * [[latestVersionOnly]] fallback (whose stale-only residual serves a
    * re-appended doc's newest MATCHING version when its true latest
    * version matches no query term). Without this, a legacy index pays
    * the fallback until a full [[compact]] rewrites everything.
    *
    * What backfill canNOT recover: postings-free versions. A pre-manifest
    * append never recorded which docs it versioned with EMPTY text, so an
    * empty-text re-append from that era left no trace a backfill could
    * find — such a doc serves its newest postings-bearing version,
    * exactly what the pre-manifest index already served. New appends record
    * their tombstones in the manifest as usual. Idempotent: covered
    * batches are skipped, so a crashed backfill re-runs to completion;
    * returns the labels it backfilled. Safe against concurrent probes
    * (each manifest partition lands by atomic rename, and serving checks
    * coverage per query); not against a concurrent append/compact — the
    * single-maintenance-writer contract of [[compact]].
    */
  def backfillManifest(spark: SparkSession, path: String): Seq[String] = {
    val t = table(spark, path)
    val have = t.labels(versionsDir(path)).toSet
    val missing = t.committed.filterNot(have.contains)
    missing.foreach { b =>
      BatchTable(spark, versionsDir(path)).commit(b,
        spark.read.parquet(s"${postingsDir(path)}/batch=$b")
          .select("doc_id").where(col("doc_id").isNotNull).distinct()
          .repartitionByRange(col("doc_id"))
          .sortWithinPartitions("doc_id"))
    }
    missing
  }

  /** Candidate cap for [[anchorToManifest]]'s literal IN pushdown: at or
    * under it the candidate doc_ids collect to the driver and prune the
    * manifest scan as a pushed filter; above it (a boilerplate-hot term
    * matching millions of docs) the anchor falls back to the join shape,
    * whose cost the huge candidate set dominates anyway. 10⁴ ids ≈ 80 KB
    * on the driver — bounded however hot the term.
    */
  @volatile private[graft] var manifestProbeMaxCandidates: Int = 10000

  /** Postings restricted to each doc's TRUE latest version, via the
    * per-batch doc manifest — the exact close of the stale-only residual
    * [[latestVersionOnly]]'s frame-scoped anchor leaves open: the
    * manifest knows every batch that versioned a doc whether or not that
    * batch holds any of the query's terms (or any postings at all — a
    * doc re-appended with EMPTY text registers a postings-free newer
    * version and is served as deleted until [[compact]] drops it
    * physically). A query whose terms match only a stale version now
    * returns what post-compact state would: nothing.
    *
    * Dataflow: the matched frame's distinct doc_ids (candidate-sized
    * after the callers' term IN-filter) join the manifest scan, the
    * per-candidate max [[versionKey]] falls out of a candidate-sized
    * aggregate, and matched postings keep only rows whose batch IS that
    * version. The manifest side never shuffles corpus-sized data: the
    * scan is one narrow id column (range-clustered by [[append]]), AQE
    * broadcasts the candidate aggregate against it at serving sizes
    * (plan-pinned in TextIndexSpec), and only matched manifest rows —
    * candidate-sized — leave the join. During [[compact]]'s
    * promote-then-delete window sources and merge coexist in the
    * manifest too; the anchored top version's content is bitwise the
    * merge's canonical content, so answers hold (the same transient
    * file-not-found retry contract as every reader under compaction).
    */
  private def anchorToManifest(
      spark: SparkSession,
      path: String,
      matched: DataFrame): DataFrame = {
    val m = matched.withColumn("__vkey",
      versionKey(regexp_extract(col("_metadata.file_path"), "/batch=([^/]+)/", 1)))
    // only COMMITTED batches version anything: a crashed append leaves a
    // versions/ partition without postings (the appendIdempotent window),
    // and counting it would tombstone every doc of the failed batch. The
    // filter compares version KEYS, not raw labels, because partition
    // -type inference strips zero padding on all-numeric label sets.
    val committedKeys = batches(spark, path).map(versionKeyStr)
    val scan = spark.read.parquet(versionsDir(path))
    // Candidate-prune the manifest scan (VERDICT r18 item 1): unpruned,
    // every query paid a full corpus-docs-sized pass over versions/ —
    // narrow, but at billions of docs a real per-query tax. The
    // candidate doc_id set (already candidate-sized after the callers'
    // term IN-filter) is collected — the two-action shape the probe IO
    // audits use — and pushed into the scan as a literal IN: parquet
    // pushes it exactly below the In threshold and as a min/max range
    // above it, and [[append]] range-clusters versions/ by doc_id, so
    // non-candidate files skip on footer stats instead of being read
    // (scanReport-asserted in TextIndexSpec). The collect costs one
    // extra candidate-sized job — the join shape evaluated the same
    // subframe inside the query anyway (no pin, two scans either way).
    // Over [[manifestProbeMaxCandidates]], fall back to the join shape.
    val cand = matched.select("doc_id").distinct()
      .limit(manifestProbeMaxCandidates + 1).collect().map(_.get(0))
    val base =
      if (cand.isEmpty) scan.where(lit(false))
      else if (cand.length <= manifestProbeMaxCandidates)
        scan.where(col("doc_id").isin(cand: _*))
      else
        // candidates from the RAW matched frame, not the __vkey-annotated
        // one — column pruning then drops the _metadata virtual fields
        // from this scan branch (they cost row-index generation, not IO,
        // but the candidate side needs only doc_id)
        scan.join(matched.select("doc_id").distinct(), Seq("doc_id"))
    val latest = base
      .select(col("doc_id"), versionKey(col("batch")).as("__lkey"))
      .where(col("__lkey").isin(committedKeys: _*))
      .groupBy("doc_id")
      .agg(max(col("__lkey")).as("__lkey"))
    m.join(latest, Seq("doc_id"))
      .where(col("__vkey") === col("__lkey"))
      .drop("__vkey", "__lkey")
  }

  /** [[anchorToManifest]] when the manifest covers, [[latestVersionOnly]]
    * otherwise — the one dispatch every serving face routes through so
    * search, phrase and df agree on which version a doc IS.
    */
  private def anchorLatest(
      spark: SparkSession,
      path: String,
      matched: DataFrame): DataFrame =
    if (manifestCovers(spark, path)) anchorToManifest(spark, path, matched)
    else latestVersionOnly(matched)

  /** Corpus totals over committed batches: (n_docs, sum_dl). O(batches)
    * rows read; only COMMITTED batches count (a crashed append's stats
    * partition without postings must not inflate N — scores would shift
    * for every query until vacuum), and batches folded into a committed
    * [[compact]] merge are excluded via the merge's `folds` list — in
    * the promote-then-delete window both the merge and its sources are
    * visible, and without the exclusion N and Σdl would double (the
    * stats-side analog of the postings `distinct()`).
    */
  def corpusStats(spark: SparkSession, path: String): (Long, Long) = {
    val committed = batches(spark, path)
    if (committed.isEmpty) return (0L, 0L)
    // numeric labels survive partition-type inference as integers
    // ("batch=00000001" reads back as 1) — canonicalize both sides
    def canon(l: String): String = l.toLongOption.map(_.toString).getOrElse(l)
    val committedSet = committed.map(canon).toSet
    val rows = spark.read.parquet(statsDir(path))
      .select(col("batch").cast("string"), col("n_docs"), col("sum_dl"), col("folds"))
      .collect()
      .map(r => (canon(r.getString(0)), r.getLong(1), r.getLong(2),
        Option(r.getSeq[String](3)).map(_.map(canon)).getOrElse(Seq.empty)))
      .filter(r => committedSet.contains(r._1))
    val folded = rows.iterator.flatMap(_._4).toSet
    val live = rows.filterNot(r => folded.contains(r._1))
    (live.map(_._2).sum, live.map(_._3).sum)
  }

  /** Per-batch health: (batch, docs, tokens, postings). */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val st = spark.read.parquet(statsDir(path))
      .select(col("batch"), col("n_docs").as("docs"), col("sum_dl").as("tokens"))
    val po = spark.read.parquet(postingsDir(path))
      .groupBy("batch").agg(count(lit(1)).as("postings"))
    st.join(po, Seq("batch"), "full_outer")
      .select(col("batch"),
        coalesce(col("docs"), lit(0L)).as("docs"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(col("postings"), lit(0L)).as("postings"))
  }

  /** Probe-time staleness guard — the text face of the triad
    * ([[AnnIndex.staleGuard]], [[DedupIndex.staleGuard]]; VERDICT r18
    * item 3). The inverted index's dominant maintenance verdict is
    * `compact_microbatches` — a per-micro-batch ingest accretes `batch=`
    * partitions whose file listing and cross-batch range-cluster overlap
    * eventually dominate the IN-filtered probe scan — and its signal is
    * O(directory listing): the committed batch count, a listing the
    * serving faces already perform. When it exceeds `maxBatches`, one
    * loud warning names [[compact]]; memoized per index path through the
    * shared LRU-capped [[GuardMemo]], `onWarn` is the spec hook,
    * `enabled = false` the escape hatch. Unlike the other two guards
    * this one runs NO Spark job at all — the cost is the listing.
    */
  private[graft] object staleGuard extends StaleGuard("graft.TextIndex") {
    /** Batch-count threshold; the [[maintenanceReport]] default. */
    @volatile var maxBatches: Int = 64

    private[operators] def check(path: String, committedBatches: Int): Unit = {
      if (due(path) && committedBatches > maxBatches)
        onWarn(
          s"graft text probe against a fragmented index $path: " +
            s"$committedBatches committed batches exceed $maxBatches — run " +
            "TextIndex.compact to fold them (restores range clustering and " +
            "bounds file-listing overhead); every query is paying for the " +
            "accreted micro-batches")
    }
  }

  /** BM25 top-k document search over the index: (doc_id, score), score
    * descending (doc_id tiebreak), k rows max. Zero corpus re-read: one
    * IN-filtered postings scan + a per-term df aggregate + the pivot-sum,
    * then TakeOrderedAndProject for the global top-k (never a full sort).
    * Matched postings anchor to each doc's TRUE latest version
    * ([[anchorToManifest]]; [[latestVersionOnly]] fallback on
    * pre-manifest indexes) and collapse to one (tf, dl) version per
    * (term, doc_id) — idempotent under [[compact]]'s promote-then-delete
    * window AND version-coherent when a doc_id was re-appended with
    * different text: all query terms score ONE document — the latest
    * version, with one dl; a doc whose latest version matches no query
    * term scores nothing (under the manifest — the fallback serves its
    * newest MATCHING version, internally consistent, until compact).
    * Exact-rational scoring — results hash-match an ANSI oracle (q84).
    */
  def searchTopK(
      spark: SparkSession,
      path: String,
      query: Seq[String],
      k: Int,
      requireAll: Boolean = false): DataFrame = {
    require(query.nonEmpty, "search needs at least one query term")
    require(k > 0, "k must be positive")
    val terms = query.map(_.toLowerCase).distinct
    val (n, dTot) = corpusStats(spark, path)
    val empty = spark.range(0)
      .select(col("id").as("doc_id"), lit(0.0).as("score"))
      .where(lit(false))
    if (n == 0L) return empty
    staleGuard.check(path, batches(spark, path).size)
    // version coherence, two layers ([[anchorLatest]]): every term
    // anchors to the doc's LATEST version first (one document per
    // doc_id, across all query terms — also absorbing compact's promote-
    // then-delete duplicates), then the per-(term, doc_id) max-struct
    // collapse deterministically degrades the orderless residue of an
    // input batch that itself duplicated a doc_id. dfReport and
    // phraseTopK apply the same two layers, so serving and maintenance
    // agree on ONE version.
    val tf = anchorLatest(spark, path,
      spark.read.parquet(postingsDir(path))
        .where(col("term").isin(terms: _*)))
      .groupBy("term", "doc_id")
      .agg(max(struct(col("tf"), col("dl"))).as("__p"))
      .select(col("term"), col("doc_id"),
        col("__p.tf").as("tf"), col("__p.dl").as("dl"))
    Ranking.bm25RationalScores(tf, terms, n, dTot, requireAll)
      .limit(k)
  }

  /** Exact phrase search over the positional postings: documents where
    * the phrase's tokens occur CONSECUTIVELY, ranked by occurrence count
    * (doc_id tiebreak), k rows max — (doc_id, matches). Occurrences may
    * overlap ("table table table" contains "table table" twice), the
    * standard positional-intersection semantics.
    *
    * Dataflow, all candidate-sized after the scan: ONE postings scan
    * IN-filtered to the phrase's distinct terms (row groups without them
    * never decompress — and only the matched rows' `positions` bytes are
    * read), a per-candidate-doc term→positions map (≤ |phrase| small
    * arrays per doc), then a single expression counts offsets p of the
    * first term with every later term at p+i. A missing term makes the
    * map lookup NULL → zero matches → filtered: conjunctive containment
    * falls out of the adjacency check. Global top-k rides
    * TakeOrderedAndProject. The corpus text is never re-read; nothing
    * corpus-sized shuffles.
    *
    * Requires positional postings (any index appended since positions
    * landed); fails loudly on a pre-positional index — [[compact]] of
    * such an index cannot invent offsets, rebuild it.
    */
  def phraseTopK(
      spark: SparkSession,
      path: String,
      phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase search needs at least one token")
    require(k > 0, "k must be positive")
    val terms = phrase.map(_.toLowerCase)
    val empty = spark.range(0)
      .select(col("id").as("doc_id"), lit(0L).as("matches"))
      .where(lit(false))
    val committed = batches(spark, path)
    if (committed.isEmpty) return empty
    staleGuard.check(path, committed.size)
    val postings = spark.read.parquet(postingsDir(path))
    require(postings.columns.contains("positions"),
      s"index at $path predates positional postings — rebuild to enable phrase search")
    // version coherence, the searchTopK two-layer discipline: anchor to
    // the doc's latest version ([[anchorLatest]] — one DOCUMENT per
    // doc_id across all phrase terms, absorbing compact's window), then
    // one positions array per (term, doc_id) — map_from_entries would
    // throw DUPLICATED_MAP_KEY on any residue, and max() on array<int>
    // is a deterministic lexicographic pick for the orderless
    // in-batch-duplicate case.
    val matched = anchorLatest(spark, path,
      postings.where(col("term").isin(terms.distinct: _*)))
      .groupBy(col("term"), col("doc_id"))
      .agg(max(col("positions")).as("positions"))
    val perDoc = matched.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions")))).as("__m"))
    def positionsOf(t: String): org.apache.spark.sql.Column =
      coalesce(element_at(col("__m"), lit(t)), array().cast("array<int>"))
    val matches = size(filter(positionsOf(terms.head), p =>
      terms.zipWithIndex.tail.foldLeft(lit(true)) { case (acc, (t, i)) =>
        acc && array_contains(positionsOf(t), p + i)
      }))
    perDoc
      .select(col("doc_id"), matches.cast("long").as("matches"))
      .where(col("matches") > 0L)
      .orderBy(col("matches").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Per-term postings-skew report — the [[DedupIndex.hotBuckets]]
    * analogue for the inverted index: `(term, df, tokens)` for the terms
    * whose document frequency exceeds `minDf`, ranked by df descending
    * (term ascending tiebreak), at most `k` rows. A term whose postings
    * outgrow candidate-sized probing is probe-cost skew: its IN-filtered
    * scan stops being "a handful of row groups" and its rows dominate
    * every query that mentions it — the maintenance signal is WHICH
    * terms, so stopword policy / query planning can react upstream.
    * Postings first anchor to each doc's LATEST version and collapse to
    * ONE tf per (term, doc_id) ([[anchorLatest]], the searchTopK
    * discipline) — identical duplicates from [[compact]]'s
    * promote-then-delete window vanish, and a doc_id re-appended with
    * different text (outside the unique-ids caller contract, but
    * physically representable) counts as exactly the document
    * [[searchTopK]] would serve: its latest version's terms, nothing
    * from the stale one. So `df` is DISTINCT documents (the BM25 df)
    * and `tokens` is Σ over documents of the kept version's tf. One
    * narrow aggregation pipeline + TakeOrderedAndProject — never a full
    * sort, nothing corpus-sized to the driver; the version anchor costs
    * one doc_id-keyed exchange over the 3 columns read, fine on the
    * [[stats]]/[[compact]] cadence it runs at.
    * Oracle-gated as q84e (df/Σtf recompute from the raw corpus — the
    * report must equal re-tokenizing everything).
    */
  def dfReport(
      spark: SparkSession,
      path: String,
      k: Int = 20,
      minDf: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    import spark.implicits._
    if (batches(spark, path).isEmpty)
      return Seq.empty[(String, Long, Long)].toDF("term", "df", "tokens")
    anchorLatest(spark, path,
      spark.read.parquet(postingsDir(path))
        // a null doc_id (a caller-contract violation the parquet can
        // still hold) must not form a countable group: count_distinct
        // ignored nulls, and the groupBy-count below must keep that
        // exclusion
        .where(col("doc_id").isNotNull))
      .select("term", "doc_id", "tf")
      // the searchTopK two-layer version coherence: latest batch per doc
      // FIRST (so a term absent from a re-appended doc's latest version
      // stops counting that doc — df here equals what searchTopK would
      // serve), then max(tf) per (term, doc_id) for the orderless
      // in-batch-duplicate residue (and compact's promote-then-delete
      // duplicates, already absorbed by the batch filter)
      .groupBy("term", "doc_id")
      .agg(max(col("tf")).as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tokens"))
      .where(col("df") > minDf)
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** Maintenance verdict for the inverted index — completing the triad
    * with [[AnnIndex.maintenanceReport]] and [[DedupIndex
    * .maintenanceReport]]: one row folding the text index's two health
    * signals into a deterministic `recommended` string.
    *
    *  - `compact_microbatches` — committed batches exceed `maxBatches`:
    *    a per-micro-batch ingest accretes `batch=` partitions whose file
    *    listing and cross-batch range-cluster overlap eventually dominate
    *    the IN-filtered probe scan; [[compact]] is the remedy and fires
    *    FIRST (cheap, restores clustering, and re-judging the df signal
    *    after it is free).
    *  - `review_stopword_policy` — the hottest term's document frequency
    *    exceeds `hotDfFrac` of the corpus: its postings range is hot for
    *    every query that mentions it ([[dfReport]]'s skew, now acted on)
    *    — the remedy is upstream (stopword policy / query planning),
    *    not index surgery, exactly like the irreducible branches of the
    *    other two verdicts.
    *  - `healthy` — empty index, or neither signal fires.
    *
    * Evidence rides the row: batch count, corpus docs, the top term with
    * its df and df/N fraction (from [[dfReport]] k = 1 — the anchored,
    * oracle-gated machinery, so a re-appended doc counts as exactly the
    * version search serves). Driver-thin: a directory listing, the
    * O(batches) stats read, and one dfReport aggregate. Run on the
    * [[stats]]/[[compact]] cadence. Oracle-gated end-to-end as q84f
    * (strings AND counts, the q139c pattern, with the compact verdict
    * EXECUTED in-face); TextIndexSpec pins the healthy branch.
    */
  def maintenanceReport(
      spark: SparkSession,
      path: String,
      maxBatches: Int = 64,
      hotDfFrac: Double = 0.25): DataFrame = {
    import spark.implicits._
    val b = batches(spark, path)
    val (n, _) = corpusStats(spark, path)
    val top = if (n == 0L) None
      else dfReport(spark, path, k = 1).collect().headOption
    val topTerm = top.map(_.getAs[String]("term")).getOrElse("")
    val topDf = top.map(_.getAs[Long]("df")).getOrElse(0L)
    val topFrac = if (n == 0L) 0.0 else topDf.toDouble / n
    val rec =
      if (n == 0L) "healthy"
      else if (b.size > maxBatches) "compact_microbatches"
      else if (topFrac > hotDfFrac) "review_stopword_policy"
      else "healthy"
    Seq((b.size.toLong, n, topTerm, topDf, topFrac, rec))
      .toDF("batches", "n_docs", "top_term", "top_df", "top_df_frac",
        "recommended")
  }

  /** Fold every committed batch into ONE re-clustered batch and drop the
    * sources. Same contracts as [[DedupIndex.compact]]: probe-safe in
    * the overlap window (hence searchTopK's `distinct()`), not
    * append-safe; crash residue is either staging or stats/versions
    * halves under the merged label — which the retry, re-picking the same
    * label, drops before re-committing
    * ([[graft.sources.BatchTable.commitOnce]]) — or coexisting sources
    * the next compact folds in. Returns the merged label.
    */
  def compact(spark: SparkSession, path: String): String = {
    import spark.implicits._
    // CANONICALIZE to each doc's latest version while folding:
    // [[versionKey]] is the version order, and a merge that kept both
    // versions of a re-appended doc would erase that order forever —
    // post-compact queries could no longer degrade coherently. Under a
    // covering manifest the anchor is the doc's TRUE latest version, so
    // a doc whose latest append was empty-text (a tombstone) folds to
    // NOTHING and is physically deleted here. The same filter absorbs
    // the crash window where a folded-but-undeleted source duplicates
    // its rows against its own merge (identical content, lower key),
    // which the old distinct() handled. Compact also re-bases all
    // surviving content into the numeric namespace — see [[versionKey]].
    Caches.scoped(table(spark, path).compact { old =>
      val canonical = Caches.pin(
        anchorLatest(spark, path,
          spark.read.parquet(old.map(b => s"${postingsDir(path)}/batch=$b"): _*))
          .select("term", "doc_id", "tf", "dl", "positions"))
      // The merge's stats are RECOMPUTED from the canonical frame, not
      // summed from the sources' stats (r18 ADVICE): source sums count a
      // re-appended doc once per version and a tombstoned doc forever,
      // so BM25's N and avgdl would drift from a rebuilt index after
      // every compact that folds either. Here N = the docs the merge
      // actually carries and Σdl their anchored versions' lengths —
      // post-compact stats now equal a fresh build of the surviving
      // content, bit-for-bit. One dl per doc via max(): dl is constant
      // across a version's terms, and max deterministically degrades the
      // orderless in-batch-duplicate residue the serving collapse also
      // degrades. A doc that only ever held empty text has no postings
      // and drops from N too — exactly how the manifest already serves
      // it (as deleted). The aggregate is one action on the pinned frame
      // the merge rewrites anyway. The merge's manifest = the docs it
      // actually carries; tombstoned docs are absent — their deletion is
      // complete once sources drop.
      (canonical
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", "doc_id"),
        _ => {
          val stRow = canonical
            .groupBy("doc_id").agg(max(col("dl")).as("__dl"))
            .agg(count(lit(1)).as("n"),
              coalesce(sum(col("__dl")), lit(0L)).as("d")).head()
          Seq(
            Seq((stRow.getAs[Long]("n"), stRow.getAs[Long]("d"), old))
              .toDF("n_docs", "sum_dl", "folds").coalesce(1),
            canonical.select("doc_id").distinct()
              .repartitionByRange(col("doc_id"))
              .sortWithinPartitions("doc_id"))
        })
    })
  }

  /** Delete staging residue AND uncommitted stats/versions partitions
    * (halves without matching postings — a crashed append's residue).
    * Safe while probes are active; not concurrently with an in-flight
    * append.
    */
  def vacuum(spark: SparkSession, path: String): Unit = table(spark, path).vacuum()
}
