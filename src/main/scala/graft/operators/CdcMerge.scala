package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.sources.Sinks

/** Full-history batch CDC merge (reference: bronze_to_silver.py:94-108).
  *
  * Semantics: existing ∪ new, deduplicated on the composite business key.
  * Late rows are just new key tuples absorbed on the next merge;
  * re-deliveries dedup away — idempotent by construction.
  *
  * `dropDuplicates(keys)` keeps an arbitrary row per key when the keys
  * don't cover every column (SURVEY.md §7.4#3); in the reference the merge
  * keys cover all columns so the choice is benign. For the general case
  * `mergeDeterministic` pins the winner with an explicit tiebreak order.
  *
  * Scale note: unclustered, dropDuplicates is a hash aggregate — partial
  * (map-side) dedup happens before the single shuffle on the key columns.
  * Clustered on the partition columns, the one shuffle is the partitioned
  * sink's and carries every candidate row; the dedup then runs inside each
  * partition. At 100 TB prefer writing silver bucketed by the merge key so
  * repeated merges reuse partitioning.
  */
object CdcMerge {

  /** Align `old` to `fresh`'s column layout. Additive schema evolution:
    * a column new in `fresh` backfills as typed NULL in the history
    * (standard for long-lived silver tables — without it the first batch
    * carrying a new field breaks every subsequent merge). Columns dropped
    * from `fresh` drop from the history, matching the reference's
    * align-to-new-layout behavior (bronze_to_silver.py:104).
    */
  private def alignTo(old: DataFrame, fresh: DataFrame): DataFrame = {
    // Presence check must follow the session's resolution rules: with
    // spark.sql.caseSensitive=false (the default) a case-only rename in
    // the source is the SAME column — treating it as missing would
    // silently null the whole history.
    val caseSensitive =
      old.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def has(name: String): Boolean =
      if (caseSensitive) old.columns.contains(name)
      else old.columns.exists(_.equalsIgnoreCase(name))
    old.select(fresh.schema.fields.toIndexedSeq.map { f =>
      if (has(f.name)) col(f.name).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  private def withHistory(existing: Option[DataFrame], fresh: DataFrame): DataFrame =
    existing.fold(fresh)(old => alignTo(old, fresh).unionByName(fresh))

  /** existing ∪ fresh, one row per key. With `partitionCols` the merge is
    * clustered on them: the union is hash-partitioned by the partition
    * columns and deduplicated on `keys ++ partitionCols` inside each
    * partition, so a sink that repartitions by the same columns
    * ([[graft.sources.Sinks.writePartitioned]]) finds its distribution
    * already satisfied — one exchange for merge and write together.
    *
    * Invariant: every partition column is a function of the keys (e.g.
    * `p_ym = ym(date)` with `date` a key). Then equal keys imply equal
    * partition values, and the answer is the same as deduplicating on
    * `keys` alone.
    */
  def mergeFullHistory(
      existing: Option[DataFrame],
      fresh: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String] = Nil): DataFrame = {
    val all = withHistory(existing, fresh)
    if (partitionCols.isEmpty) all.dropDuplicates(keys)
    else all.repartition(partitionCols.map(col): _*).dropDuplicates((keys ++ partitionCols).distinct)
  }

  /** Deterministic winner: smallest tiebreak tuple per key via min-struct
    * aggregation (one shuffle, no window sort).
    */
  def mergeDeterministic(
      existing: Option[DataFrame],
      fresh: DataFrame,
      keys: Seq[String],
      tieBreak: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val unioned = withHistory(existing, fresh)
    val others = fresh.columns.filterNot(keys.contains)
    val packed = struct((tieBreak ++ others.filterNot(tieBreak.contains)).map(col): _*)
    unioned
      .groupBy(keys.map(col): _*)
      .agg(min(packed).as("__w"))
      .select((keys.map(col) ++ others.map(c => col(s"__w.$c").as(c))): _*)
  }

  /** Land `fresh` in the silver table at `silverPath`: existing ∪ fresh,
    * one row per key. Every way into silver goes through here: the batch
    * pipeline ([[graft.banking.GoldPipeline.bronzeToSilver]]) and each
    * [[graft.streaming.Streams.cdcMergeStream]] micro-batch.
    *
    * Recover before reading: [[graft.sources.Sinks.recover]] first restores
    * whatever a crashed swap stranded (whole table or partition), so the
    * merge never reads a half-table or a `__retired_*` directory as a
    * partition.
    *
    * Then one of two routes:
    *  - '''Partition-scoped''', when the table exists, `partitionCols` is
    *    non-empty and the column sets match (case-insensitively). Only the
    *    partitions present in `fresh` are read (partition-pruned scan),
    *    merged and swapped ([[graft.sources.Sinks.writePartitionsAtomic]]);
    *    untouched partition directories are not rewritten, so the write is
    *    O(touched partitions), not O(table history). A key must not move
    *    between partition values across deliveries, or its old copy in the
    *    untouched partition survives (the contract hive-partitioned
    *    upserts have everywhere); [[mergeFullHistory]]'s invariant makes
    *    that hold for every `Ingest.Entity`.
    *  - '''Whole-table''', every other case: a new table, a flat one, or a
    *    column-set change (rewriting only the touched partitions would
    *    leave files with heterogeneous schemas, and a plain read picks one
    *    file's footer). The whole history is merged and swapped in
    *    ([[graft.sources.Sinks.writePartitionedAtomic]]).
    *
    * Both routes publish `graft.cdc.fresh` (rows_in) and `graft.cdc.merge`
    * (rows_out) as observe() aggregates of the write itself, and
    * `graft.cdc.partitions`: the touched partitions, or on the whole-table
    * route the partition directories the swap wrote.
    */
  def mergeInto(
      silverPath: String,
      fresh: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String]): Unit = {
    val spark = fresh.sparkSession
    Metrics.register(spark)
    def merged(existing: Option[DataFrame], batch: DataFrame): DataFrame =
      mergeFullHistory(existing,
        batch.observe("graft.cdc.fresh", count(lit(1)).as("rows_in")), keys, partitionCols)
        .observe("graft.cdc.merge", count(lit(1)).as("rows_out"))
    def touched(n: Long): Unit = Metrics.put("graft.cdc.partitions", "touched" -> n)

    Sinks.recover(spark, silverPath)
    val existing = readIfExists(spark, silverPath)
    def columnSet(df: DataFrame) = df.columns.map(_.toLowerCase).toSet
    if (partitionCols.isEmpty || !existing.exists(old => columnSet(old) == columnSet(fresh))) {
      Sinks.writePartitionedAtomic(merged(existing, fresh), silverPath, partitionCols)
      val p = new org.apache.hadoop.fs.Path(silverPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched(Sinks.partitionDirs(fs, p, partitionCols.length).size.toLong)
    } else Caches.scoped {
      // fresh feeds both the touched-partition probe and the union
      val batch = Caches.pin(fresh)
      val parts = batch.select(partitionCols.map(col): _*).distinct().collect()
      touched(parts.length.toLong)
      if (parts.nonEmpty) {
        // Read with the FRESH frame's schema supplied: a user schema
        // disables partition-column type inference (directory values cast
        // to the supplied types), so the typed pruning predicate reaches
        // PartitionFilters — without flipping session-global conf, which
        // would race concurrent queries.
        val pred = parts.map { r =>
          partitionCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _)
        val scoped = spark.read.schema(batch.schema).parquet(silverPath).where(pred)
        Sinks.writePartitionsAtomic(merged(Some(scoped), batch), silverPath, partitionCols)
      }
    }
  }

  /** Probe-or-none scan for the merge target (reference: bronze_to_silver.py:66-68).
    * The probe goes through the Hadoop FileSystem resolved from the path —
    * a java.nio probe is local-FS only and would return false for every
    * hdfs:// or s3a:// table, silently rebuilding silver from fresh data.
    */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(path)) else None
  }
}
