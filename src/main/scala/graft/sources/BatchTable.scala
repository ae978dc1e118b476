package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The append-only batch-table commit protocol shared by the persisted
  * indexes ([[graft.operators.DedupIndex]], [[graft.operators.AnnIndex]],
  * [[graft.operators.TextIndex]]) and every [[graft.streaming.Streams]]
  * ingest — the per-load atomic write of the reference's full-history
  * merge (`bronze_to_silver.py:94-108`), extended to immutable
  * `batch=<label>` partitions.
  *
  * A batch table is one MARKER table plus zero or more COMPANION tables,
  * each a directory of `batch=<label>/` parquet partitions. A label is
  * committed iff `marker/batch=<label>` exists. [[commit]] stages the
  * marker under a dot-prefixed directory (Spark's file listing skips it,
  * so readers never see a partial batch), lands every companion by its
  * own staging rename, and promotes the marker LAST — so the crash
  * windows are exactly: invisible staging residue, or companion halves
  * without a marker. Both are uncommitted by definition; [[commitOnce]]
  * and [[vacuum]] clear them.
  *
  * SINGLE-WRITER label allocation: [[nextLabel]] is read-max-then-
  * increment, so two concurrent manual writers can draw the SAME label.
  * The collision is LOUD and corruption-free — [[commit]] refuses a label
  * that any table already holds, and a racing loser fails at its first
  * rename, before the marker, leaving the winner's batch untouched — but
  * the losing append is lost work: re-draw a fresh label and retry, or
  * give each writer its own namespace. The streaming ingests' `s`-labels
  * ([[streamLabel]]) are exactly that: [[nextLabel]] numbers over
  * numeric labels only, so one live stream plus one manual backfill never
  * collide; two manual writers on one table must serialize allocation.
  */
final case class BatchTable(spark: SparkSession, marker: String, companions: Seq[String] = Nil) {
  import BatchTable._

  private def tables: Seq[String] = marker +: companions
  private lazy val fs = new Path(marker).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def batchDir(table: String, label: String) = new Path(table, s"batch=$label")

  /** Labels present in `table` (the marker by default), sorted — a
    * directory listing, O(batches), never a data read.
    */
  def labels(table: String = marker): Seq[String] = {
    val dir = new Path(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
      .sorted
  }

  /** Committed labels, sorted. */
  def committed: Seq[String] = labels()

  def isCommitted(label: String): Boolean = fs.exists(batchDir(marker, label))

  /** Next zero-padded numeric label (`00000001`, …): one past the
    * largest committed numeric label; `s`-labels and free-form labels do
    * not count.
    */
  def nextLabel: String = {
    val used = committed.flatMap(_.toLongOption)
    f"${used.foldLeft(0L)(math.max) + 1}%08d"
  }

  /** Land `frame` in the marker table and `companionFrames` in the
    * companion tables as batch `label`. Refuses with an IOException
    * naming `batch=<label>` if any table already holds the label.
    * `companionFrames` receives the staged marker's path and returns one
    * frame per companion table, in declaration order; it runs after the
    * marker is staged, so it may read that staging write or its metrics.
    * The staging directory is deleted on every exit path.
    */
  def commit(
      label: String,
      frame: => DataFrame,
      companionFrames: String => Seq[DataFrame] = _ => Nil): Unit = {
    requireLabel(label)
    tables.map(batchDir(_, label)).find(fs.exists).foreach { dst =>
      throw new java.io.IOException(s"batch already exists: $dst")
    }
    val staging = new Path(marker,
      s".staging_${label}_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      quiescedOnFailure(frame.write.mode("overwrite").parquet(staging.toString))
      val frames = companionFrames(staging.toString)
      require(frames.size == companions.size,
        s"${frames.size} companion frames for ${companions.size} companion tables")
      companions.zip(frames).foreach { case (dir, df) => BatchTable(spark, dir).commit(label, df) }
      val dst = batchDir(marker, label)
      if (fs.exists(dst) || !fs.rename(staging, dst))
        throw new java.io.IOException(s"could not promote batch $dst")
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** Run `write` under a fresh job tag; if it throws, cancel the tag's
    * jobs and return (rethrow) only once no task of them runs. Spark fails
    * a job without waiting for the stage's other running tasks, and such a
    * straggler would re-create the staging directory after [[commit]]
    * deleted it. The tag adds to the caller's job group, never replaces it.
    * The wait is bounded at a minute; residue of a task that outlives it
    * is uncommitted by definition and [[vacuum]] clears it.
    */
  private def quiescedOnFailure(write: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-batch-table-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try write
    catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag, "batch-table write failed")
        val tracker = sc.statusTracker
        def running = tracker.getJobIdsForTag(tag).iterator.flatMap(tracker.getJobInfo(_))
          .exists { job =>
            job.status == JobExecutionStatus.RUNNING ||
              job.stageIds.iterator.flatMap(tracker.getStageInfo(_)).exists(_.numActiveTasks > 0)
          }
        val deadline = System.nanoTime() + java.util.concurrent.TimeUnit.MINUTES.toNanos(1)
        while (running && System.nanoTime() < deadline) Thread.sleep(20)
        throw e
    } finally sc.removeJobTag(tag)
  }

  /** Retry-safe [[commit]] for exactly-once loops (a streaming
    * micro-batch re-executed after a crash carries the SAME label and,
    * from a replayable source, the same rows): a committed label is a
    * no-op and `frame` is never evaluated; otherwise the companion halves
    * a crashed attempt left are dropped and the commit re-runs.
    */
  def commitOnce(
      label: String,
      frame: => DataFrame,
      companionFrames: String => Seq[DataFrame] = _ => Nil): Unit =
    if (!isCommitted(label)) {
      companions.map(batchDir(_, label)).filter(fs.exists).foreach(fs.delete(_, true))
      commit(label, frame, companionFrames)
    }

  /** Fold every committed batch into one batch under [[nextLabel]] and
    * drop the sources; returns the merged label (the only label, untouched,
    * when there is one). `merge` receives the source labels and returns
    * the merged marker frame and its companion frames, as for [[commit]].
    * A compact that crashed before its promote left halves under the same
    * next label, which [[commitOnce]] drops before re-committing.
    */
  def compact(merge: Seq[String] => (DataFrame, String => Seq[DataFrame])): String = {
    val old = committed
    require(old.nonEmpty, s"nothing to compact at $marker")
    if (old.size == 1) return old.head
    val label = nextLabel
    val (frame, companionFrames) = merge(old)
    commitOnce(label, frame, companionFrames)
    drop(old)
    label
  }

  /** Delete `labels` from every table, marker first: an interrupted drop
    * leaves only uncommitted companion halves, which [[vacuum]] removes.
    */
  def drop(labels: Seq[String]): Unit =
    labels.foreach(l => tables.foreach(t => fs.delete(batchDir(t, l), true)))

  /** Delete staging residue and uncommitted companion halves left by
    * crashed commits. Safe while readers are active (they list neither);
    * do NOT run concurrently with an in-flight commit to the same table.
    */
  def vacuum(): Unit = {
    val live = committed.toSet
    for (t <- tables; dir = new Path(t) if fs.exists(dir); st <- fs.listStatus(dir)) {
      val name = st.getPath.getName
      val uncommitted = t != marker && name.startsWith("batch=") &&
        !live.contains(name.stripPrefix("batch="))
      if (st.isDirectory && (name.startsWith(".staging_") || uncommitted))
        fs.delete(st.getPath, true)
    }
  }
}

object BatchTable {

  /** The label of streaming micro-batch `batchId`: `s`-prefixed, so it
    * derives from the replayable batch id and never collides with the
    * numeric labels of manual appends and compactions ([[nextLabel]]).
    * One checkpoint per table: a FRESH checkpoint resets batch ids to 0
    * and replays into used labels.
    */
  def streamLabel(batchId: Long): String = f"s$batchId%08d"

  /** Labels are path segments: non-empty, no `/`, not dot-prefixed. */
  def requireLabel(label: String): Unit =
    require(label.nonEmpty && !label.contains('/') && !label.startsWith("."),
      s"invalid batch label '$label'")
}
