package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Caches
import graft.sources.BatchTable

/** Structured Streaming operators.
  *
  * The reference is batch-only (SURVEY.md §2.9 — its "CDC" is re-merge on
  * every run), so none of this is needed for parity; it is the engine's
  * streaming upgrade path. Every transform here is written against a plain
  * DataFrame/Dataset and works identically on a batch frame and a
  * `readStream` frame — the streaming-vs-batch decision stays at the
  * source/sink edge where it belongs.
  *
  * Scale notes: watermarks bound state (late rows beyond the watermark are
  * dropped instead of keeping every window open forever); state lives in
  * the per-partition state store keyed by the groupBy columns, so the
  * shuffle that feeds an agg is the same hash exchange a batch agg uses.
  */
object Streams {

  /** Tumbling-window counts + value sums per key. With `watermark` set and
    * a streaming input, windows finalize (append mode) once event time
    * passes window end + watermark.
    */
  def windowedStats(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      windowDuration: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("window_value"))
      .select(
        col(keyCol),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"),
        col("window_value"))

  /** Gap-based sessions via the built-in `session_window`: two events share
    * a session iff the gap between them is <= `gap` (Spark merges sessions
    * whose ranges touch, so an exactly-gap-apart pair is ONE session).
    * Works on batch frames too — the batch q37 query and this streaming
    * transform are the same code path.
    */
  def sessionWindowStats(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      gap: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"),
        col("session_value"))

  /** Interval join: each left row pairs with same-key right rows whose
    * event time falls in [leftTs - lower, leftTs + upper]. Works on batch
    * frames (the oracle-gated q44 face) and on two streams: with
    * watermarks on both sides the time-range condition is what lets Spark
    * bound join state — each side retains only rows inside
    * watermark + interval, instead of the unbounded buffering an
    * unconstrained stream-stream equi-join would need.
    *
    * The right side's key column is renamed internally so the same column
    * name on both sides (the normal case) does not collide; all other
    * right columns must already be distinct from the left's.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      lower: String,
      upper: String): DataFrame = {
    val rk = s"__r_$keyCol"
    // Column API, not an interpolated SQL string: column names needing
    // backticks (dots, spaces) must neither fail to parse nor mis-resolve
    // as struct-field access. Only the interval literals go through expr.
    left
      .join(
        right.withColumnRenamed(keyCol, rk),
        col(keyCol) === col(rk) &&
          col(rightTsCol) >= col(leftTsCol) - expr(s"INTERVAL $lower") &&
          col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $upper"))
      .drop(rk)
  }

  /** Streaming exact dedup: first arrival per key wins; the watermark
    * bounds how long each key's "seen" state is retained (late re-deliveries
    * beyond it are dropped by the watermark, not re-emitted). This is the
    * streaming face of the batch CDC merge's dropDuplicates — state size is
    * O(distinct keys inside the watermark window), not O(stream).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming CDC merge: the streaming upgrade of the reference's batch
    * full-history merge (SURVEY.md §2.9 — the reference re-reads and
    * re-merges everything per run). Each micro-batch lands in the silver
    * path through [[graft.operators.CdcMerge.mergeInto]], the one landing
    * the batch pipeline uses too, which states the crash recovery and the
    * partition-scoped and whole-table routes. Re-deliveries across
    * micro-batches dedup against the existing table, and replaying a
    * crashed micro-batch re-merges the same rows into the same table, so
    * the batch label goes unused.
    *
    * The returned query must be awaited/stopped by the caller.
    */
  def cdcMergeStream(
      stream: DataFrame,
      silverPath: String,
      mergeKeys: Seq[String],
      partitionCols: Seq[String] = Nil,
      checkpoint: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.operators.CdcMerge.mergeInto(silverPath, batch, mergeKeys, partitionCols)
    }

  /** The one micro-batch skeleton every ingest in this object runs on: an
    * append-mode `foreachBatch` that hands `body` the batch and its label,
    * with the body's pins in a [[Caches.scoped]] scope, and the optional
    * checkpoint. The exactly-once contract is stated here once:
    *
    *  - '''Label.''' A batch commits as [[BatchTable.streamLabel]] of its
    *    batch id (`s00000001`). The `s` prefix keeps it clear of the
    *    numeric labels of manual appends, `build`'s default `00000001` and
    *    every compact output; an unprefixed label would collide and the
    *    idempotent index appends would silently skip a batch. An index
    *    written by the older numeric-label code re-appends its replayed
    *    batch under the `s` label on restart; answers are unaffected, and
    *    one `compact` folds the duplicate postings away.
    *  - '''Commit-marker order.''' Every land is an atomic staging rename.
    *    The output lands first, and the index or seen-set append lands
    *    LAST: that append is the commit marker, so readers see whole
    *    batches or nothing.
    *  - '''Replay skip.''' A crash re-executes the batch with the same id
    *    and, from a replayable source, the same rows.
    *    [[BatchTable.commitOnce]] skips every land that already committed
    *    and re-runs the half-landed rest identically.
    *  - '''No state-store state.''' The query itself is stateless; the
    *    tables on disk are the state, so the checkpoint stays O(source
    *    offsets) however long the stream runs. Use one checkpoint per
    *    table: a fresh checkpoint resets batch ids and replays into used
    *    labels.
    *
    * Pins taken in `body` are released (blocking) when it returns or
    * throws, so no batch's frames outlive it. Pins the caller takes
    * before the stream starts (a frozen model, say) stay in its scope.
    */
  private def eachBatch(stream: DataFrame, checkpoint: Option[String])(
      body: (DataFrame, String) => Unit): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Caches.scoped(body(batch.toDF(), BatchTable.streamLabel(batchId)))
      }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  // --- Custom state: stateful heavy hitters ---

  /** Per-shard Misra–Gries state carried across micro-batches: the running
    * item count and the (<= k)-counter summary. A Map round-trips through
    * the state-store encoder; the operator rebuilds the mutable form per
    * batch (touched shards only).
    */
  final case class MgShardState(n: Long, items: Map[String, Long])

  /** One candidate row, emitted per shard per trigger. `count_low` is the
    * surviving undercount (true count in [count_low, count_low +
    * shard_n/(k+1)]); `shard_n` is the shard's lifetime item count —
    * strictly increasing, so downstream can keep each shard's newest
    * emission.
    */
  final case class HeavyHitterCandidate(shard: Int, item: String, count_low: Long, shard_n: Long)

  /** Cross-batch streaming heavy hitters: bounded-state Misra–Gries per
    * hash shard, the streaming face of [[graft.operators.Frequency]].
    *
    * Every item is routed to ONE shard by a pure hash, so a shard's state
    * is exactly the single-pass MG summary of that item's whole stream
    * history — the batch survival guarantee transfers: any item with
    * lifetime count > shard_n/(k+1) is in its shard's candidate set after
    * every trigger (same [[graft.expressions.MisraGries]] core as the
    * batch aggregate). State is O(numShards × k) FOREVER — no watermark
    * needed, nothing grows with the stream or its cardinality; that is
    * the whole point vs. a streaming groupBy(item).count(), whose state
    * is O(distinct items ever seen) (billions of keys at corpus scale).
    *
    * Each trigger emits the full updated candidate set of every TOUCHED
    * shard (Update mode; untouched shards re-emit nothing). Exactness is
    * two-phase like the batch operator: candidates here, then an exact
    * count of the <= numShards × k candidate items over the stored corpus
    * — `Frequency.heavyHitters`' pass 2 — when a verified answer is
    * needed. Works identically on a batch frame (state lives within the
    * single batch), which is what the parity spec exploits.
    *
    * `numShards` spreads state-store load; `k` is per shard, so the
    * guarantee threshold tightens with MORE shards (a shard sees ~1/numShards
    * of the stream).
    */
  def heavyHitterCandidates(
      items: DataFrame,
      itemCol: String,
      k: Int = 4096,
      numShards: Int = 32): Dataset[HeavyHitterCandidate] = {
    import items.sparkSession.implicits._
    require(k > 0 && numShards > 0, "k and numShards must be positive")
    items
      .select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)
      .as[String]
      .groupByKey(item =>
        java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(item), numShards))
      .flatMapGroupsWithState[MgShardState, HeavyHitterCandidate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String], state: GroupState[MgShardState]) =>
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          var n = 0L
          state.getOption.foreach { s =>
            n = s.n
            s.items.foreach { case (i, c) => counts.update(i, c) }
          }
          rows.foreach { item =>
            n += 1
            graft.expressions.MisraGries.updateOne(counts, k, item)
          }
          state.update(MgShardState(n, counts.toMap))
          counts.toArray
            .sortBy { case (i, c) => (-c, i) }
            .iterator
            .map { case (i, c) => HeavyHitterCandidate(shard, i, c, n) }
      }
  }

  // --- Custom state: flatMapGroupsWithState sessionization ---

  final case class Evt(user_id: Long, ts: Timestamp, value: Double)

  final case class OpenSession(startSec: Long, lastSec: Long, n: Long, sum: Double)

  final case class ClosedSession(
      user_id: Long,
      session_start_sec: Long,
      session_end_sec: Long,
      n_events: Long,
      session_value: Double)

  /** Custom stateful sessionization: per-user open-session state, closed
    * sessions emitted when the event-time watermark passes last-event + gap
    * (EventTimeTimeout). This is the hand-rolled equivalent of
    * `session_window` — kept as the template for stateful logic the
    * built-ins can't express (e.g. emitting per-event deltas, capping
    * session length, custom merge rules).
    *
    * Input must already have a watermark on `ts`. Emits in Append mode.
    */
  def closedSessions(events: Dataset[Evt], gapSeconds: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._

    def update(
        userId: Long,
        rows: Iterator[Evt],
        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(ClosedSession(userId, s.startSec, s.lastSec + gapSeconds, s.n, s.sum))
      } else {
        val secs = rows.map(e => (e.ts.getTime / 1000, e.value)).toSeq.sortBy(_._1)
        var open = state.getOption
        val closed = Seq.newBuilder[ClosedSession]
        secs.foreach { case (sec, v) =>
          open match {
            // Merge iff the event is within gap of the OPEN INTERVAL
            // [start, last] on either side (<= gap: boundary semantics
            // identical to session_window). min/max, not assignment: a
            // late-but-above-watermark event from a later micro-batch can
            // precede the session's bounds — assigning lastSec = sec would
            // move the timeout horizon backwards and close end < start.
            case Some(s) if sec >= s.startSec - gapSeconds && sec <= s.lastSec + gapSeconds =>
              open = Some(OpenSession(
                math.min(s.startSec, sec), math.max(s.lastSec, sec), s.n + 1, s.sum + v))
            case Some(s) if sec > s.lastSec + gapSeconds =>
              closed += ClosedSession(userId, s.startSec, s.lastSec + gapSeconds, s.n, s.sum)
              open = Some(OpenSession(sec, sec, 1, v))
            case Some(_) =>
              // Older than start - gap: a predecessor session. Single-state
              // approximation — emit it closed immediately (it is near the
              // watermark by construction; session_window's multi-interval
              // merge would be exact, at the cost of list-valued state).
              closed += ClosedSession(userId, sec, sec + gapSeconds, 1, v)
            case None =>
              open = Some(OpenSession(sec, sec, 1, v))
          }
        }
        open.foreach { s =>
          state.update(s)
          // Close once the watermark passes the session's gap horizon.
          state.setTimeoutTimestamp((s.lastSec + gapSeconds) * 1000)
        }
        closed.result().iterator
      }
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Continuous near-dup ingestion: the streaming face of
    * [[graft.operators.DedupIndex]]. Each micro-batch is deduplicated
    * against the persisted corpus index (and internally), the accepted
    * rows land as an immutable `batch=` partition of `outputPath`, and
    * the index absorbs them — so every later batch dedups against
    * everything accepted so far, across restarts, without ever rescanning
    * the corpus. The index must be [[graft.operators.DedupIndex.init]]'d
    * (or built) before the stream starts.
    *
    * Exactly-once as [[eachBatch]] states it; the index append is the
    * commit marker, and [[graft.operators.DedupIndex.appendIdempotent]]
    * heals a half-landed one on replay.
    */
  def nearDupIngest(
      stream: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      outputPath: String,
      threshold: Double = 0.7,
      maxBucket: Int = 256,
      checkpoint: Option[String] = None): StreamingQuery = {
    import graft.operators.DedupIndex
    eachBatch(stream, checkpoint) { (batch, label) =>
      // consumed twice (output land + index append) → pinned so the
      // probe/cluster dataflow runs once
      val accepted = Caches.pin(
        DedupIndex.dedupBatch(batch, textCol, idCol, indexPath, threshold, maxBucket))
      BatchTable(batch.sparkSession, outputPath).commitOnce(label, accepted)
      DedupIndex.appendIdempotent(accepted, textCol, idCol, indexPath, label)
    }
  }

  /** Continuous EMBEDDING ingestion: the streaming face of
    * [[graft.operators.AnnIndex]], completing the dedup/ANN symmetry —
    * [[nearDupIngest]] is this for text. Each micro-batch of (id, vector)
    * rows is screened against the persisted IVF index
    * ([[graft.operators.AnnIndex.dedupBatch]]: corpus probe, then
    * batch-internal near-dedup), the accepted rows land as an immutable
    * `batch=` partition of `outputPath`, and their cell-assigned postings
    * join the index — every later batch screens against everything
    * accepted so far, across restarts, without re-landing corpus vectors.
    * The index must be [[graft.operators.AnnIndex.init]]'d or built
    * before the stream starts (the quantizer is frozen; a stream never
    * retrains it).
    *
    * Exactly-once as [[eachBatch]] states it; the index append is the
    * commit marker.
    */
  def annIngest(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      outputPath: String,
      threshold: Double = 0.95,
      nprobe: Int = 4,
      maxCell: Int = Int.MaxValue,
      dim: Int = 64,
      checkpoint: Option[String] = None,
      pqMargin: Double = 0.1): StreamingQuery =
    annIngest(stream, idCol, vecCol, indexPath, outputPath, threshold,
      graft.operators.AnnIndex.Probe.Cells(nprobe), maxCell, dim, checkpoint, pqMargin)

  /** [[annIngest]] with a [[graft.operators.AnnIndex.Probe]]-typed probe
    * width. `Probe.Fraction` resolves against the index's saved geometry
    * inside EVERY micro-batch's probe, so an ingest restarted across an
    * [[graft.operators.AnnIndex.rebuildAuto]] (same checkpoint, new
    * index path — the documented handover) keeps its recall fraction as
    * nlist scales, instead of silently probing an ever-thinner corpus
    * slice with a stale fixed nprobe.
    */
  def annIngest(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      outputPath: String,
      threshold: Double,
      probe: graft.operators.AnnIndex.Probe,
      maxCell: Int,
      dim: Int,
      checkpoint: Option[String],
      pqMargin: Double): StreamingQuery = {
    import graft.operators.AnnIndex
    eachBatch(stream, checkpoint) { (batch, label) =>
      // consumed twice (output land + index append) → pinned so the
      // probe/cluster dataflow runs once. The INDEX decides the probe
      // path: a PQ-enabled index screens against code bytes
      // (dedupBatchPq, `pqMargin` the recall/IO dial); a flat index
      // probes raw postings vectors.
      val accepted = Caches.pin(
        if (AnnIndex.hasPq(batch.sparkSession, indexPath))
          AnnIndex.dedupBatchPq(
            batch, idCol, vecCol, indexPath, threshold, probe, maxCell, pqMargin, dim)
        else
          AnnIndex.dedupBatch(batch, idCol, vecCol, indexPath, threshold, probe, maxCell, dim))
      BatchTable(batch.sparkSession, outputPath).commitOnce(label, accepted)
      AnnIndex.appendIdempotent(accepted, idCol, vecCol, indexPath, label)
    }
  }

  /** Continuous keyword-index ingestion: each micro-batch of documents
    * lands under `outputPath/batch=s<id>/` and its postings append to the
    * [[graft.operators.TextIndex]] at `indexPath` via `appendIdempotent`,
    * exactly-once as [[eachBatch]] states it (the postings append is the
    * commit marker). Search sees each batch atomically:
    * [[graft.operators.TextIndex.searchTopK]] aggregates N, Σdl and df
    * across the accrued `s`-labeled batches; run
    * [[graft.operators.TextIndex.compact]] on a schedule to fold them.
    * Dedup is NOT applied here — the index stores what the pipeline
    * accepted; compose with [[nearDupIngest]] upstream when acceptance
    * requires it.
    */
  def textIngest(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      outputPath: String,
      checkpoint: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, label) =>
      val pinned = Caches.pin(batch)
      BatchTable(batch.sparkSession, outputPath).commitOnce(label, pinned)
      graft.operators.TextIndex.appendIdempotent(pinned, idCol, textCol, indexPath, label)
    }

  /** Continuous DSIR importance routing — the streaming face of
    * [[graft.operators.Importance]]: each micro-batch scores its
    * documents against FIXED bucket models and lands every row under
    * `outputPath/<selected|rejected>/batch=s<id>/`, exactly-once as
    * [[eachBatch]] states it. Rejected rows are KEPT, not dropped: a
    * selection stream that discards its rejects can never re-route them
    * when the threshold moves.
    *
    * The models are pinned ONCE at stream start and never retrained
    * per batch — two micro-batches scoring under silently different
    * models is a correctness bug, the same train-once argument as
    * [[graft.operators.Similarity.IvfIndex]]; retrain offline, then
    * restart the stream on the new artifact. The pins land in the
    * calling thread's active scope ([[graft.operators.Caches.inScope]]
    * to bound them; they must outlive every micro-batch).
    *
    * Scale shape per batch: the models broadcast (≤ `buckets` rows),
    * scoring is [[graft.operators.Importance.pooledImportance]]'s one
    * doc-keyed exchange, and the routed write is two label-guarded
    * renames — no state beyond the models, so throughput is scan-bound.
    */
  def importanceRoutedIngest(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      targetModel: DataFrame,
      sourceModel: DataFrame,
      buckets: Int,
      outputPath: String,
      threshold: Double = 1.0,
      checkpoint: Option[String] = None): StreamingQuery = {
    import graft.operators.Importance
    // validate at START, not in the first micro-batch: stream.schema is
    // already known here, and a misconfigured stream should be rejected
    // before .start() rather than killing the running query at runtime
    for (c <- Seq("importance", "selected"))
      require(!stream.columns.contains(c),
        s"input stream already has a '$c' column")
    val target = Caches.pin(targetModel)
    val source = Caches.pin(sourceModel)
    eachBatch(stream, checkpoint) { (batch, label) =>
      // pin the batch: it feeds both the scoring pass and the join
      // back, and both routed writes read the joined frame
      val pinned = Caches.pin(batch)
      val scored = Caches.pin(
        pinned.join(
          Importance.pooledImportance(
            pinned, idCol, textCol, target, source, buckets, threshold)
            .select(col("doc_id").as(idCol), col("importance"), col("selected")),
          Seq(idCol)))
      for ((name, keep) <- Seq("selected" -> true, "rejected" -> false))
        BatchTable(batch.sparkSession, s"$outputPath/$name")
          .commitOnce(label, scored.where(col("selected") === keep))
    }
  }

  /** Continuous corpus drift monitoring — the streaming face of
    * [[graft.operators.Importance.driftReportFromModels]]: each
    * micro-batch's hashed-bucket model is diffed against a FIXED
    * baseline model, and the batch's top-`k` drifted buckets land under
    * `outputPath/batch=s<id>/` ([[eachBatch]]).
    * The landed history IS the drift time series: a dashboard reads the
    * partitioned directory and plots max |delta| per batch; a batch
    * whose report suddenly carries big deltas is the crawl-shift alarm
    * firing before training pays for it.
    *
    * The baseline is pinned once at stream start (the train-once
    * argument of [[importanceRoutedIngest]]); re-baseline by restarting
    * the stream on a new model artifact. Stateless beyond the baseline:
    * each batch pays one scan of itself plus a `buckets`-row join.
    */
  def driftMonitorIngest(
      stream: DataFrame,
      textCol: String,
      baselineModel: DataFrame,
      buckets: Int,
      k: Int,
      outputPath: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    import graft.operators.Importance
    val baseline = Caches.pin(baselineModel)
    eachBatch(stream, checkpoint) { (batch, label) =>
      val report = Importance.driftReportFromModels(
        baseline, Importance.hashedBucketCounts(batch, textCol, buckets), k)
      BatchTable(batch.sparkSession, outputPath).commitOnce(label, report)
    }
  }

  /** Continuous conversation-contract routing — the streaming face of
    * [[graft.operators.Conversations]]: each micro-batch of raw JSON
    * transcripts is parsed and audited ([[graft.operators
    * .Conversations.validate]]), and every row lands WITH its flag
    * columns under `outputPath/<valid|quarantine>/batch=s<id>/`,
    * exactly-once as [[eachBatch]] states it. Quarantined transcripts
    * are KEPT, flags attached — the fix-and-replay loop (truncated JSON
    * from an upstream exporter, say) needs the evidence, not a silent
    * drop.
    *
    * Stateless: no models, no seen-set — each batch pays one parse
    * projection and one validate aggregation of itself, so throughput
    * is scan-bound and the stream scales with executor count.
    *
    * `tools = true` audits under the AGENTIC contract instead
    * ([[graft.operators.Conversations.validateWithTools]]: tool
    * rounds legal, transition matrix enforced) — same routing, same
    * exactly-once landing, the tool contract's flag columns.
    */
  def chatRoutedIngest(
      stream: DataFrame,
      idCol: String,
      jsonCol: String,
      outputPath: String,
      checkpoint: Option[String] = None,
      tools: Boolean = false): StreamingQuery = {
    import graft.operators.Conversations
    val flagCols =
      if (tools) Seq("n_turns", "parse_ok", "starts_ok", "role_legal",
        "transitions_ok", "no_empty", "ends_assistant", "valid")
      else Seq("n_turns", "parse_ok", "starts_ok", "alternates",
        "no_empty", "ends_assistant", "valid")
    // start-time validation (the importanceRoutedIngest lesson)
    for (c <- flagCols)
      require(!stream.columns.contains(c),
        s"input stream already has a '$c' column")
    eachBatch(stream, checkpoint) { (batch, label) =>
      // pin the batch: it feeds the turn explode AND the join back
      val pinned = Caches.pin(batch)
      val turns = Conversations.parseTurns(pinned, idCol, jsonCol)
      val audit =
        if (tools) Conversations.validateWithTools(turns, idCol)
        else Conversations.validate(turns, idCol)
      val routed = Caches.pin(pinned.join(audit, Seq(idCol)))
      for ((name, keep) <- Seq("valid" -> true, "quarantine" -> false))
        BatchTable(batch.sparkSession, s"$outputPath/$name")
          .commitOnce(label, routed.where(col("valid") === keep))
    }
  }

  /** Continuous canonical-URL dedup — the crawl-frontier face of the
    * ingestion family: each micro-batch canonicalizes its URLs
    * ([[graft.operators.Urls.canonicalize]]; unparseable rows drop via
    * the NULL quarantine), keeps one row per canonical identity inside
    * the batch (minimum `idCol`), anti-joins against the persisted
    * seen-set at `indexPath`, lands ONLY first-sightings under
    * `outputPath/batch=s<id>/`, and appends their canonicals to the
    * seen-set, exactly-once as [[eachBatch]] states it (the seen-set
    * append is the commit marker).
    *
    * Scale shape: the anti-join is the one honest cost of EXACT identity
    * dedup — a hash join keyed on the canonical string against a
    * seen-set that accrues forever. The seen-set is 2 narrow columns
    * (canonical, keeper), read pruned to just those; when it outgrows
    * comfortable shuffle size, front it with [[graft.operators
    * .BloomJoin]] (most URLs in a steady crawl are NEW, and a bloom
    * pre-filter turns the common miss case into a scan-local decision)
    * and compact the `s`-labels on a schedule like the other indexes.
    */
  def urlDedupIngest(
      stream: DataFrame,
      urlCol: String,
      idCol: String,
      indexPath: String,
      outputPath: String,
      checkpoint: Option[String] = None,
      bloomProbe: Boolean = true,
      bloomExpectedItems: Long = 1000000L,
      bloomNumBits: Long = 8388608L): StreamingQuery = {
    import graft.operators.{BloomJoin, Urls}
    // loud on collision (the clusterBalancedSample convention), checked at
    // START (the importanceRoutedIngest lesson): a stream already carrying
    // this column would silently lose it to the recomputed value
    require(!stream.columns.contains("canonical_url"),
      "input stream already has a 'canonical_url' column")
    eachBatch(stream, checkpoint) { (batch, label) =>
      val spark = batch.sparkSession
      val canon = batch
        .withColumn("canonical_url", Urls.canonicalize(col(urlCol)))
        .where(col("canonical_url").isNotNull)
      // one row per in-batch canonical identity — the min-id keeper
      // (idCol unique by contract), in ONE exchange: min_by carries
      // the whole keeper row through the same aggregate that picks
      // it, where a groupBy + join-back would shuffle twice
      val payload = canon.columns.filter(_ != "canonical_url")
      // pinned: consumed by the bloom build AND the anti-join probe
      val keepers = Caches.pin(canon
        .groupBy("canonical_url")
        .agg(min_by(struct(payload.map(col): _*), col(idCol)).as("__r"))
        .select(col("canonical_url") +: payload.map(c => col(s"__r.$c").as(c)): _*))
      val seenSet = BatchTable(spark, indexPath)
      // "seen-set exists" means a COMMITTED batch= child, not a bare
      // directory: a crashed first append leaves staging debris (or
      // nothing visible) behind, and reading that as a parquet table
      // throws on every replay — wedging the stream permanently on
      // its own crash window
      val hasSeen = seenSet.committed.nonEmpty
      val accepted = Caches.pin(
        if (!hasSeen) keepers
        else {
          val seen = spark.read.parquet(indexPath).select("canonical_url")
          // steady-crawl shape: the seen-set dwarfs the batch, and a
          // plain anti-join would SHUFFLE the whole index every
          // micro-batch. Bloom the BATCH's keys (one tiny aggregate),
          // test the index at scan (BloomFilterMightContain — no
          // exchange for the non-matching bulk, which is most of a
          // steady crawl), and anti-join only the survivors. Blooms
          // have no false negatives, so no seen URL is ever re-
          // accepted; false positives only ride into the (now tiny)
          // anti-join and are dropped there — result identical to
          // the plain probe (StreamsSpec pins both paths; the q99d
          // gate runs this default one).
          val probed =
            if (bloomProbe)
              BloomJoin.prefilter(seen, keepers.select("canonical_url"),
                "canonical_url", bloomExpectedItems, bloomNumBits)
            else seen
          keepers.join(probed, Seq("canonical_url"), "left_anti")
        })
      BatchTable(spark, outputPath).commitOnce(label, accepted)
      // seen-set append LAST = the commit marker
      seenSet.commitOnce(label,
        accepted.select(col("canonical_url"), col(idCol).as("keeper_id")))
    }
  }

  /** Continuous crawl ingestion straight off the WIRE FORMAT: watch a
    * directory where WET shards land (the Common Crawl delivery shape),
    * stream-parse each shard's conversion records through
    * [[graft.sources.Wet.parseShard]], and feed them into
    * [[urlDedupIngest]]'s exactly-once canonical-URL dedup — so the
    * "crawl dump → deduplicated parquet corpus" pipeline is ONE running
    * query with no batch converter in front.
    *
    * Identity: records dedup by canonical TARGET URI; the keeper id is
    * `record_id ‖ md5(content)`, so a re-crawl of the same URI with
    * different bytes still has a deterministic min-keeper (WARC record
    * ids are name-based on the URI alone and tie otherwise). The
    * `binaryFile` source hands whole shards (bounded by the ~150 MB
    * shard convention), one task per shard; everything downstream is the
    * batch parser and the batch dedup shape, unchanged.
    */
  def wetIngest(
      spark: org.apache.spark.sql.SparkSession,
      shardDir: String,
      indexPath: String,
      outputPath: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    // the binaryFile source's schema is fixed by the format, but file
    // stream sources still demand it explicitly
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val parsed = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.warc.wet*")
      .load(shardDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, b) => graft.sources.Wet.parseShard(p, b) }
      .toDF()
      .withColumn("wet_id", concat(col("record_id"), md5(col("content"))))
    urlDedupIngest(parsed, "target_uri", "wet_id", indexPath, outputPath, checkpoint)
  }

  /** Continuous PERCEPTUAL image dedup — the [[urlDedupIngest]] shape
    * with [[graft.operators.Multimodal.dHashImages]] as the canonical
    * identity and NEAR-duplicate (hamming ≤ `maxHamming`) suppression
    * against everything already committed. Each micro-batch:
    *
    *  1. fingerprints its payloads through the REAL decoder (one pass,
    *     partition-wise);
    *  2. collapses in-batch EXACT-fingerprint groups to the min-id
    *     keeper (`min_by`, ONE exchange — the urlDedup move);
    *  3. drops batch rows with a SMALLER-id near-neighbor in the same
    *     batch ([[graft.operators.Dedup.hammingPairs64]] — greedy, not
    *     transitive: of a near-chain a—b—c the min-id doc always
    *     survives and every doc with a smaller near-neighbor drops);
    *  4. probes the committed band index for near-matches and drops
    *     hits; survivors land under `outputPath/batch=s<id>/` and their
    *     band rows append to `indexPath` LAST (the commit marker of
    *     [[eachBatch]]).
    *
    * UNDECODABLE payloads are landed, never dropped (a row you cannot
    * fingerprint cannot be proven a duplicate) with NULL `dhash` — the
    * quarantine feed is `WHERE dhash IS NULL`, consistent with the batch
    * operators' convention. Per-batch cost: one decode pass, one
    * band exchange over the batch, one (band, bucket)-keyed join against
    * the index — never all-pairs, never a full-corpus rescan beyond the
    * postings-shaped index read.
    */
  def mediaDedupIngest(
      stream: DataFrame,
      idCol: String,
      bytesCol: String,
      indexPath: String,
      outputPath: String,
      maxHamming: Int = 3,
      checkpoint: Option[String] = None,
      bloomProbe: Boolean = true,
      bloomExpectedItems: Long = 1000000L,
      bloomNumBits: Long = 8388608L): StreamingQuery = {
    import graft.operators.{BloomJoin, Dedup, Multimodal}
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding guarantees exact recall only for maxHamming <= 3")
    // start-time validation (the importanceRoutedIngest lesson): the
    // recomputed/internal columns must not silently clobber input columns,
    // and the id must be integral — a string id would cast to NULL and
    // kill the first micro-batch (or fan out the join on collisions)
    // instead of being rejected before .start()
    for (c <- Seq("dhash", "__mid"))
      require(!stream.columns.contains(c),
        s"input stream already has a '$c' column")
    stream.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"mediaDedupIngest needs an INTEGRAL id column (got $idCol: " +
          s"${other.catalogString}); hash or re-number string ids upstream")
    }
    // ONE banding geometry, shared with hammingPairs64's pair path — a
    // private copy here could drift from the in-batch suppression and
    // silently break cross-batch recall (review, round 13)
    def bandRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col(idCol), col("dhash"),
        explode(graft.operators.Dedup.bands64(col("dhash"))).as("bb"))
        .select(col(idCol), col("dhash"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    eachBatch(stream, checkpoint) { (batch, label) =>
      val spark = batch.sparkSession
      val media = batch.select(
        col(idCol).cast("long").as("media_id"),
        lit("image").as("kind"),
        col(bytesCol).cast("binary").as("bytes"))
      // renamed join key: idCol may itself be "media_id"
      val hashed = Caches.pin(batch.join(
        Multimodal.dHashImages(spark, media).toDF()
          .select(col("media_id").as("__mid"), col("dhash")),
        col(idCol).cast("long") === col("__mid"))
        .drop("__mid"))
      val quarantined = hashed.where(col("dhash").isNull)
      val decodable = hashed.where(col("dhash").isNotNull)
      // in-batch exact collapse: min-id keeper per fingerprint
      val payload = hashed.columns.filter(_ != "dhash")
      val exactKeepers = Caches.pin(decodable
        .groupBy("dhash")
        .agg(min_by(struct(payload.map(col): _*), col(idCol)).as("__r"))
        .select(col("dhash") +: payload.map(c => col(s"__r.$c").as(c)): _*))
      // in-batch near suppression: greedy — any doc with a smaller-id
      // near-neighbor drops (id_a < id_b by the pair contract)
      val nearDupIds = Dedup.hammingPairs64(
        exactKeepers.select(col(idCol), col("dhash")), idCol, "dhash", maxHamming)
        .select(col("id_b").cast(hashed.schema(idCol).dataType).as(idCol)).distinct()
      val batchKeepers = Caches.pin(
        exactKeepers.join(nearDupIds, Seq(idCol), "left_anti"))
      // cross-batch near probe against the COMMITTED band index
      val seenIndex = BatchTable(spark, indexPath)
      val hasSeen = seenIndex.committed.nonEmpty
      val accepted = Caches.pin(
        if (!hasSeen) batchKeepers
        else {
          // pinned: consumed by the bloom build AND the probe join
          val br = Caches.pin(bandRows(batchKeepers))
          val seenIdx = spark.read.parquet(indexPath)
            .select(col("band"), col("bucket"), col("dhash").as("__seen"))
          // steady-state shape (the urlDedupIngest move): the band
          // index dwarfs the batch, so bloom the batch's (band,
          // bucket) keys and test the index AT SCAN — only buckets
          // the batch actually touches enter the join. No false
          // negatives ⇒ identical drops; StreamsSpec pins both paths.
          val probedIdx =
            if (bloomProbe)
              BloomJoin.prefilter(
                seenIdx.withColumn("__bbk", xxhash64(col("band"), col("bucket"))),
                br.select(xxhash64(col("band"), col("bucket")).as("__bbk")),
                "__bbk", bloomExpectedItems, bloomNumBits).drop("__bbk")
            else seenIdx
          val hits = br
            .join(probedIdx, Seq("band", "bucket"))
            .where(bit_count(col("dhash").bitwiseXOR(col("__seen"))) <= maxHamming)
            .select(col(idCol)).distinct()
          batchKeepers.join(hits, Seq(idCol), "left_anti")
        })
      val landed = accepted.unionByName(quarantined)
      BatchTable(spark, outputPath).commitOnce(label, landed)
      // index append LAST = the commit marker;
      // quarantined rows have no fingerprint and never enter the index
      seenIndex.commitOnce(label,
        bandRows(accepted).select(
          col("band"), col("bucket"), col("dhash"), col(idCol).as("keeper_id")))
    }
  }

  /** Continuous duplicate-CLUSTER maintenance: each micro-batch carries
    * freshly discovered near-dup pairs (from any of the pair producers —
    * LSH, simhash, the dedup-index probes), and the committed table at
    * `statePath` is always the `(id, component)` star forest of the
    * CUMULATIVE pair graph — components labeled by their minimum id,
    * exactly what batch [[graft.operators.Graphs.connectedComponents]]
    * would produce over every pair ever streamed (spec-pinned). Batch
    * pairs can merge components formed in earlier batches; labels then
    * change for every member, which is why this is a state SWAP, not an
    * append like the sibling ingests.
    *
    * Incremental shape: only TOUCHED components recompute. The batch's
    * endpoint ids select their current components; those members' star
    * edges (2 columns, one row per non-root member — connectivity-
    * equivalent to the full history by the star-forest invariant) union
    * the batch pairs and re-converge; untouched state unions back
    * unchanged. Per-batch cost is O(touched components + batch), never
    * O(cumulative graph). The swap rides
    * [[graft.sources.Sinks.writePartitionedAtomic]] (the read-from-
    * target-while-overwriting shape), and replaying a crashed batch is
    * IDEMPOTENT by construction: pairs already absorbed into the state
    * re-converge to the identical forest, so the swap rewrites the same
    * rows — no commit marker needed.
    */
  def dupClusterIngest(
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      statePath: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    import graft.operators.Graphs
    eachBatch(pairs, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val b = Caches.pin(batch
        .select(col(idACol).cast("long").as("__u"), col(idBCol).cast("long").as("__v"))
        .where(col("__u").isNotNull && col("__v").isNotNull && col("__u") =!= col("__v"))
        .distinct())
      if (!b.isEmpty) {
        val root = new org.apache.hadoop.fs.Path(statePath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // committed state = _SUCCESS present; a crashed first swap
        // leaves staging debris that must not be read as a table
        // (the urlDedupIngest crash-window lesson)
        val hasState = fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS"))
        val state = Caches.pin(
          if (hasState) spark.read.parquet(statePath).select("id", "component")
          else spark.range(0).select(col("id"), col("id").as("component")))
        val nodes = b.select(col("__u").as("id"))
          .unionByName(b.select(col("__v").as("id"))).distinct()
        val touched = state.join(nodes, Seq("id"), "left_semi")
          .select("component").distinct()
        val starEdges = state.join(touched, Seq("component"), "left_semi")
          .where(col("id") =!= col("component"))
          .select(col("id").as("__u"), col("component").as("__v"))
        val merged = Graphs.connectedComponents(
          starEdges.unionByName(b), "__u", "__v")
        val newState = state.join(touched, Seq("component"), "left_anti")
          .select("id", "component")
          .unionByName(merged.select("id", "component"))
        graft.sources.Sinks.writePartitionedAtomic(newState, statePath, Nil)
      }
    }
  }

  /** Continuous DATASET CARD — [[graft.operators.Quality.datasetCard]]'s
    * audit artifact maintained incrementally over an append stream of
    * documents, with the EXACT composition law (spec-pinned): after any
    * prefix of committed batches, [[readDatasetCard]] equals the batch
    * card of those batches' documents unioned.
    *
    * Mechanics: every card value is additive once exact-distinct is
    * handled, so each micro-batch lands ONE immutable delta partition
    * (`batch=sNNNN`) of `(section, metric, value)` rows — its own counts,
    * sums, and mix histograms, plus a `distinct_texts` delta = the
    * batch's fingerprints NOT yet in the persisted seen-set. The
    * seen-set append is LAST and is the commit marker ([[eachBatch]]):
    * a crash between delta and marker replays the batch against the
    * UNCHANGED seen-set, recomputes the identical delta, finds its dir
    * already present, and only lands the marker —
    * exactly-once without a transaction log. `exact_dup_docs` is derived
    * at READ time (`n_docs − distinct_texts`) so deltas stay purely
    * additive.
    *
    * 100 TB shape: per batch, one projection pass plus one anti-join
    * against the fingerprint set (a hash exchange on fp — the join the
    * batch card's `count_distinct` implies anyway); each delta is tens
    * of rows, and the card read aggregates rows proportional to
    * batches × metrics, never documents.
    */
  def datasetCardIngest(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      cardPath: String,
      fpIndexPath: String,
      shortTokens: Long = 10L,
      highPunct: Double = 0.05,
      checkpoint: Option[String] = None): StreamingQuery = {
    import graft.operators.Quality
    // start-time schema validation (round-12 advice): a stream missing a
    // card column must be rejected before .start(), not at first batch
    Seq(idCol, textCol, sourceCol).foreach { c =>
      require(stream.columns.contains(c),
        s"document stream has no '$c' column (columns: ${stream.columns.mkString(", ")})")
    }
    eachBatch(stream, checkpoint) { (batch, label) =>
      val spark = batch.sparkSession
      val prep = Caches.pin(Quality.cardPrep(batch, textCol, sourceCol))
      def cnt(pred: org.apache.spark.sql.Column) = sum(when(pred, 1L).otherwise(0L))
      val corpus = prep.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("total_chars"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"),
        cnt(col("punct") > highPunct).as("high_punct_docs"),
        cnt(col("stopr") === 0.0 && col("n_tokens") > 0L).as("no_stopword_docs"),
        cnt(col("n_tokens") < shortTokens).as("short_docs"))
        .selectExpr(
          """stack(6,
             'corpus', 'n_docs', n_docs,
             'corpus', 'total_chars', total_chars,
             'corpus', 'total_tokens', total_tokens,
             'flags', 'high_punct_docs', high_punct_docs,
             'flags', 'no_stopword_docs', no_stopword_docs,
             'flags', 'short_docs', short_docs) AS (section, metric, value)""")
      val fpIndex = BatchTable(spark, fpIndexPath)
      // committed batch= child, not a bare directory (urlDedupIngest's
      // crash-window lesson)
      val hasSeen = fpIndex.committed.nonEmpty
      val batchFps = prep.select("fp").distinct()
      val newFps = Caches.pin(
        if (!hasSeen) batchFps
        else batchFps.join(
          spark.read.parquet(fpIndexPath).select("fp"), Seq("fp"), "left_anti"))
      val distinctRow = newFps
        .agg(count(lit(1)).as("value"))
        .select(lit("corpus").as("section"),
          lit("distinct_texts").as("metric"), col("value"))
      def mix(section: String, c: String) = prep.groupBy(col(c))
        .agg(count(lit(1)).as("value"))
        .select(lit(section).as("section"),
          coalesce(col(c), lit("__null__")).as("metric"), col("value"))
      val delta = corpus
        .unionByName(distinctRow)
        .unionByName(mix("lang", "lang"))
        .unionByName(mix("script", "script"))
        .unionByName(mix("source", "source"))
      BatchTable(spark, cardPath).commitOnce(label, delta)
      // seen-set append LAST = the commit marker
      fpIndex.commitOnce(label, newFps)
    }
  }

  /** The current card from [[datasetCardIngest]]'s delta partitions:
    * sums every additive metric and derives `exact_dup_docs` — the same
    * schema [[graft.operators.Quality.datasetCard]] emits. Aggregates
    * batches × metrics rows, never documents.
    */
  def readDatasetCard(
      spark: org.apache.spark.sql.SparkSession, cardPath: String): DataFrame = {
    val summed = spark.read.parquet(cardPath)
      .groupBy("section", "metric")
      .agg(sum("value").as("value"))
    def corpusVal(metric: String) =
      coalesce(sum(when(col("section") === "corpus" && col("metric") === metric,
        col("value"))), lit(0L))
    val dup = summed
      .agg((corpusVal("n_docs") - corpusVal("distinct_texts")).as("value"))
      .select(lit("corpus").as("section"),
        lit("exact_dup_docs").as("metric"), col("value"))
    summed.unionByName(dup)
  }

  /** Continuous maintenance of a [[graft.operators.JoinAdvisor]] sketch
    * store: each micro-batch's count-min counter table lands as one
    * `batch=` partition (atomic staging rename; a replayed batch finds
    * its partition already committed and appends NOTHING — counters are
    * additive, so double-landing a batch would double-count, the one
    * failure mode exact-once protects here). Counter addition being a
    * semigroup, [[graft.operators.JoinAdvisor.estimateFromStores]] over
    * two continuously-maintained stores always answers "how big would
    * this join be RIGHT NOW" from KB of counters — the stream is never
    * rescanned and never re-keyed.
    *
    * State: NONE beyond the store itself ([[eachBatch]]); the store
    * grows one depth×width-bounded partition per batch — compact by
    * re-sketching or summing partitions when batch count matters.
    */
  def joinSketchIngest(
      stream: DataFrame,
      keyCol: String,
      params: graft.operators.JoinAdvisor.CmParams,
      storePath: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.columns.contains(keyCol),
      s"stream has no '$keyCol' column (columns: ${stream.columns.mkString(", ")})")
    eachBatch(stream, checkpoint) { (batch, label) =>
      BatchTable(batch.sparkSession, storePath).commitOnce(label,
        graft.operators.JoinAdvisor.cmSketch(batch, keyCol, params)
          .withColumn("width", lit(params.width))
          .withColumn("depth", lit(params.depth)))
    }
  }
}
