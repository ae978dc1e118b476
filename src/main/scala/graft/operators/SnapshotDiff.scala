package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot differencing: derive a CDC event feed from two FULL table
  * snapshots — the inverse of [[CdcMerge]] (which applies a change feed
  * to a snapshot). The reference pipeline re-lands full bronze extracts
  * every run (`/root/reference/bronze_to_silver.py:94-108` folds the new
  * full extract into history by key); a downstream consumer that wants
  * only the DELTA of run N vs run N−1 — the standard shape for feeding
  * incremental loads, audit trails, or an SCD2 build from sources that
  * cannot emit their own change log — needs exactly this operator.
  *
  * Semantics (per key, null-safe on every comparison):
  *   - key only in `newDf`            → `insert`
  *   - key only in `oldDf`            → `delete`
  *   - key in both, any tracked column differs (`<=>`-distinct)
  *                                    → `update` + the changed column names
  *   - key in both, nothing differs   → no row (a diff is only changes)
  *
  * Output schema: key columns, `change_type`, `changed_cols`
  * (array<string>, alphabetical; empty for insert/delete), then
  * `old_<c>` / `new_<c>` for every tracked column — both images, so the
  * result IS replayable: appliers take the `new_` image for
  * insert/update and the key for delete (SnapshotDiffSpec pins that
  * applying a diff to `oldDf` reproduces `newDf` exactly).
  *
  * Scale shape: ONE full-outer shuffle join on the key — each snapshot
  * is scanned once and exchanged once; all comparisons ride the join
  * projection (codegen, no second pass). 100 TB snapshots written
  * through [[graft.sources.Sinks.writeBucketed]] on the key make
  * the diff exchange-free (both sides pre-clustered); otherwise it is
  * the unavoidable co-partition of the two inputs and AQE handles
  * skewed keys. Duplicate keys within a snapshot are a CONTRACT VIOLATION
  * (a snapshot means one row per key): the join would multiply them;
  * [[Quality.duplicateKeys]] is the pre-flight check.
  */
object SnapshotDiff {

  /** Diff `newDf` against `oldDf` on `keys`. Tracked columns default to
    * every shared non-key column; pass `compareCols` to narrow (columns
    * outside the list are carried on neither image).
    */
  def diff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "diff needs at least one key column")
    val tracked: Seq[String] =
      if (compareCols.nonEmpty) compareCols
      else oldDf.columns.filterNot(keys.contains).toSeq
        .intersect(newDf.columns.toSeq).sorted
    require(tracked.nonEmpty, "no tracked columns to compare")

    // One struct per side keeps the join projection narrow and the
    // old/new unpacking unambiguous regardless of name collisions. The
    // key join is <=> (null-safe): a USING-style equality join would
    // never match a null-keyed row against itself, mis-classifying it
    // as a delete + insert pair. (At most one null-key row per side —
    // the same one-row-per-key snapshot contract as any other key.)
    val idx = keys.indices
    val oldSide = oldDf.select(
      idx.map(i => col(keys(i)).as(s"__ko_$i")) :+
        struct(tracked.map(col): _*).as("__old"): _*)
    val newSide = newDf.select(
      idx.map(i => col(keys(i)).as(s"__kn_$i")) :+
        struct(tracked.map(col): _*).as("__new"): _*)

    val joined = oldSide
      .join(newSide,
        idx.map(i => col(s"__ko_$i") <=> col(s"__kn_$i")).reduce(_ && _),
        "full_outer")
      .select(
        idx.map(i => coalesce(col(s"__ko_$i"), col(s"__kn_$i")).as(keys(i))) ++
          Seq(col("__old"), col("__new")): _*)

    val anyChange: Column = tracked
      .map(c => !(col(s"__old.$c") <=> col(s"__new.$c")))
      .reduce(_ || _)
    val changedCols: Column = array_compact(array(tracked.map { c =>
      when(!(col(s"__old.$c") <=> col(s"__new.$c")), lit(c))
    }: _*))

    val changeType =
      when(col("__old").isNull, lit("insert"))
        .when(col("__new").isNull, lit("delete"))
        .when(anyChange, lit("update"))

    joined
      .withColumn("change_type", changeType)
      .where(col("change_type").isNotNull)
      .select(
        keys.map(col) ++
          Seq(
            col("change_type"),
            // changed columns only make sense when both images exist
            when(col("change_type") === "update", changedCols)
              .otherwise(array().cast("array<string>")).as("changed_cols")) ++
          tracked.map(c => col(s"__old.$c").as(s"old_$c")) ++
          tracked.map(c => col(s"__new.$c").as(s"new_$c")): _*)
  }
}
