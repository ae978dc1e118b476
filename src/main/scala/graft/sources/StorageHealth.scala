package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "where are my 100 TB going" dashboard in one call: per-column
  * storage footprint, per-file shape, small-file pressure, and zone-map
  * manifest freshness for a table path. The pieces existed separately
  * ([[ParquetStats]] for footers, [[ZoneMaps]] for manifests,
  * [[Sinks]] for compaction targets); this is the composition an
  * operator on call actually wants — ONE report that says which column
  * to re-encode, whether the writer is spraying small files, and
  * whether the pruning manifest still covers the directory.
  *
  * Execution shape at scale: a single parallelized footers-only sweep
  * ([[ParquetStats.chunkRows]] — KBs per file, no data pages) feeds
  * BOTH the column and the file views; the summary aggregates the
  * per-file frame (O(files) rows); the manifest check reuses
  * [[ZoneMaps.manifestRows]]'s swap-absorbing driver read (driver-sized
  * by contract: one row per data file, the same cardinality Spark's
  * FileIndex holds). Nothing in the report reads a data page.
  */
object StorageHealth {

  /** The three views of one report. `files` and `columns` are
    * frame-sized (one row per file / per column); `summary` is ONE row.
    */
  final case class Report(files: DataFrame, columns: DataFrame, summary: DataFrame)

  /** Manifest freshness relative to the live directory listing:
    * `known` files are covered by the manifest, `fresh` landed after the
    * last [[ZoneMaps.save]]/[[ZoneMaps.update]] (they degrade pruned
    * reads to full reads — the safe direction), `orphaned` manifest
    * entries point at deleted files (ignored by reads; pure cruft).
    */
  final case class ManifestFreshness(known: Long, fresh: Long, orphaned: Long)

  /** Build the report for the parquet table at `dataPath`.
    *
    * @param manifestPath zone-map manifest to audit for staleness; when
    *   None the summary's manifest columns are NULL (never 0 — "no
    *   manifest configured" must not read as "perfectly fresh").
    * @param smallFileBytes threshold below which a file counts as
    *   small (default 32 MiB: well under the 128 MiB split target,
    *   where per-file open/seek overhead dominates scan time).
    *
    * The footer sweep (the expensive part: cluster-wide file opens) is
    * pinned once and shared by all three views, with the
    * [[graft.operators.Graphs.pageRankInt]] pin lifetime.
    */
  def report(
      spark: SparkSession,
      dataPath: String,
      manifestPath: Option[String] = None,
      smallFileBytes: Long = 32L * 1024 * 1024): Report = {
    require(smallFileBytes > 0L, "smallFileBytes must be positive")
    import graft.operators.Caches
    val pinned = Caches.pin(ParquetStats.chunkRows(spark, dataPath))
    val columns = ParquetStats.columnFootprintFromChunks(pinned)
    // block_rows repeats across a row group's column chunks: collapse
    // to one row per (file, block) FIRST, then sum per file
    val perGroup = pinned
      .groupBy("file", "block")
      .agg(
        first("block_rows").as("rows"),
        sum("compressed_bytes").as("compressed_bytes"),
        sum("uncompressed_bytes").as("uncompressed_bytes"))
    val files = perGroup
      .groupBy("file")
      .agg(
        count(lit(1)).as("row_groups"),
        sum("rows").as("rows"),
        sum("compressed_bytes").as("compressed_bytes"),
        sum("uncompressed_bytes").as("uncompressed_bytes"))
    val freshness = manifestPath.map(m => manifestFreshness(spark, dataPath, m))
    val summary = files.agg(
      count(lit(1)).as("n_files"),
      sum("row_groups").as("n_row_groups"),
      sum("rows").as("total_rows"),
      sum("compressed_bytes").as("compressed_bytes"),
      sum("uncompressed_bytes").as("uncompressed_bytes"),
      sum(when(col("compressed_bytes") < smallFileBytes, 1L).otherwise(0L))
        .as("small_files"),
      avg("compressed_bytes").cast("long").as("avg_file_bytes"),
      max("compressed_bytes").as("max_file_bytes"))
      .withColumn("small_file_threshold", lit(smallFileBytes))
      .withColumn("manifest_known",
        freshness.map(f => lit(f.known)).getOrElse(lit(null).cast("long")))
      .withColumn("manifest_fresh",
        freshness.map(f => lit(f.fresh)).getOrElse(lit(null).cast("long")))
      .withColumn("manifest_orphaned",
        freshness.map(f => lit(f.orphaned)).getOrElse(lit(null).cast("long")))
    Report(files = files, columns = columns, summary = summary)
  }

  /** Manifest coverage counts for `manifestPath` against the CURRENT
    * directory listing of `dataPath` (the listing is the source of
    * truth for existence, the manifest only for statistics — the
    * [[ZoneMaps]] safety contract).
    */
  def manifestFreshness(
      spark: SparkSession,
      dataPath: String,
      manifestPath: String): ManifestFreshness = {
    def key(uri: String): String = new org.apache.hadoop.fs.Path(uri).toUri.getPath
    val current = spark.read.parquet(dataPath).inputFiles.map(key).toSet
    val (rows, _) = ZoneMaps.manifestRows(spark, manifestPath)
    val known = rows.map(r => key(r.getAs[String]("file"))).toSet
    ManifestFreshness(
      known = current.intersect(known).size.toLong,
      fresh = current.diff(known).size.toLong,
      orphaned = known.diff(current).size.toLong)
  }
}
