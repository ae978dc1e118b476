package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
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

  /** PARTITION-SCOPED full-history merge into a hive-partitioned silver
    * table: only the partitions present in `fresh` are read
    * (partition-pruned scan), merged, and atomically swapped — untouched
    * partition directories are never listed or rewritten, so cost is
    * O(touched partitions), not O(table history). Shared by the batch API
    * and every `cdcMergeStream` micro-batch — ONE merge code path.
    *
    * Contract: a merge key must not move between partition values across
    * deliveries, or the old copy in the untouched partition survives (the
    * same contract hive-partitioned upserts have everywhere). The merge is
    * clustered on the partition columns ([[mergeFullHistory]]'s
    * invariant), so a key that moves keeps one copy per partition value.
    */
  def mergeIntoPartitioned(
      silverPath: String,
      fresh: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(partitionCols.nonEmpty, "partition-scoped merge needs partition columns")
    val spark = fresh.sparkSession
    Metrics.register(spark)
    // persist: fresh feeds both the touched-partition probe and the union.
    val b0 = fresh.persist()
    // rows_in/rows_out ride the merge action itself as observe() aggregates
    // (no extra pass); the monitorable numbers silver_check re-scans for.
    val b = b0.observe("graft.cdc.fresh", count(lit(1)).as("rows_in"))
    def observed(df: DataFrame): DataFrame =
      df.observe("graft.cdc.merge", count(lit(1)).as("rows_out"))
    try {
      // A previous swap may have crashed mid-rename; restore BEFORE
      // building the read plan so the merge never sees a half-table.
      graft.sources.Sinks.recoverStrandedPartitions(spark, silverPath)
      val touched = b0.select(partitionCols.map(col): _*).distinct().collect()
      Metrics.put("graft.cdc.partitions", "touched" -> touched.length.toLong)
      if (touched.nonEmpty) {
        val p = new org.apache.hadoop.fs.Path(silverPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) {
          graft.sources.Sinks.writePartitionsAtomic(
            observed(mergeFullHistory(None, b, keys, partitionCols)), silverPath, partitionCols)
        } else {
          // Schema evolution must not go through the scoped path: rewriting
          // only touched partitions would leave partition files with
          // HETEROGENEOUS schemas, and a later plain read (mergeSchema off,
          // the default) picks ONE file's footer schema — an added column
          // can silently vanish table-wide, a dropped column
          // nondeterministically survives-with-nulls or disappears
          // depending on which file gets sampled. So ANY column-set
          // difference — addition OR removal — routes through one
          // full-table merge+rewrite that keeps every file homogeneous.
          val existCols = spark.read.parquet(silverPath)
            .schema.fieldNames.map(_.toLowerCase).toSet
          val freshCols = b.schema.fieldNames.map(_.toLowerCase).toSet
          if (freshCols != existCols) {
            val existing = Some(spark.read.option("mergeSchema", "true").parquet(silverPath))
            val merged = observed(mergeFullHistory(existing, b, keys, partitionCols))
            graft.sources.Sinks.writePartitionedAtomic(merged, silverPath, partitionCols)
          } else {
            // Read the existing table with the FRESH frame's schema
            // supplied: a user schema disables partition-column type
            // inference (dir values cast to the supplied types), so the
            // typed pruning predicate reaches PartitionFilters — without
            // flipping session-global conf, which would race concurrent
            // queries.
            val pred = touched.map { r =>
              partitionCols.zipWithIndex
                .map { case (c, i) => col(c) <=> lit(r.get(i)) }
                .reduce(_ && _)
            }.reduce(_ || _)
            val existingScoped =
              Some(spark.read.schema(b.schema).parquet(silverPath).where(pred))
            val merged = observed(mergeFullHistory(existingScoped, b, keys, partitionCols))
            graft.sources.Sinks.writePartitionsAtomic(merged, silverPath, partitionCols)
          }
        }
      }
    } finally b0.unpersist()
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
