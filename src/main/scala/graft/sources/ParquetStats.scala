package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-footprint analytics straight from parquet FOOTERS — the
  * "where are my 100 TB actually going" view: per-column compressed and
  * uncompressed bytes, value counts, and chunk counts, without reading a
  * single data page. At a million files this is the difference between a
  * metadata sweep (KBs per file, seconds) and a full-corpus scan; it is
  * how you decide which column to dictionary-encode, which to drop from
  * the hot table, and whether a re-cluster ([[Sinks.writeZOrdered]])
  * actually improved compression.
  *
  * Execution shape: the FILE LIST parallelizes across the cluster and
  * each task opens only footers (`ParquetFileReader.readFooter`) — one
  * row per (file, column chunk) flows into a per-column aggregation, so
  * the exchange carries O(files × columns) summary rows, never data.
  */
object ParquetStats {

  /** One row per (file, row group, column chunk) from a parallelized
    * footers-only sweep — the shared substrate [[columnFootprint]] and
    * [[StorageHealth.report]] both aggregate, so a caller composing the
    * column view WITH the file view pays ONE metadata pass, not two.
    * `block_rows` is the row group's row count (repeated across the
    * group's column chunks — aggregate it `first`-per-group, never sum
    * across columns); `n_nulls` is −1 when the chunk lacks statistics.
    */
  def chunkRows(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.parquet(path).inputFiles.toSeq
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.createDataset(files)
      .repartition(math.min(files.size, spark.sparkContext.defaultParallelism).max(1))
      .mapPartitions { it =>
        it.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf.value)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            reader.getFooter.getBlocks.asScala.zipWithIndex.flatMap { case (block, bi) =>
              block.getColumns.asScala.map { c =>
                val stats = c.getStatistics
                val nulls =
                  if (stats != null && !stats.isEmpty && stats.isNumNullsSet) stats.getNumNulls
                  else -1L
                (f, bi, block.getRowCount, c.getPath.toDotString, c.getValueCount, nulls,
                  c.getTotalSize, c.getTotalUncompressedSize)
              }
            }.toSeq
          } finally reader.close()
        }
      }
      .toDF("file", "block", "block_rows", "column", "n_values", "n_nulls",
        "compressed_bytes", "uncompressed_bytes")
  }

  /** Per-column storage totals for the table at `path`:
    * `(column, n_chunks, n_values, n_nulls, compressed_bytes,
    * uncompressed_bytes)`. `n_values` counts every slot (nulls
    * included) — per parquet's chunk metadata; `n_nulls` from the chunk
    * statistics when present (-1 aggregate when any chunk lacks them:
    * absent stats must read as "unknown", never as zero nulls).
    */
  def columnFootprint(spark: SparkSession, path: String): DataFrame =
    columnFootprintFromChunks(chunkRows(spark, path))

  /** [[columnFootprint]] over an already-built [[chunkRows]] frame. */
  def columnFootprintFromChunks(chunkRows: DataFrame): DataFrame =
    chunkRows
      .groupBy("column")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_values").as("n_values"),
        // any unknown chunk poisons the total to -1: "we don't know" must
        // never print as "zero nulls"
        when(min("n_nulls") < 0L, lit(-1L)).otherwise(sum("n_nulls")).as("n_nulls"),
        sum("compressed_bytes").as("compressed_bytes"),
        sum("uncompressed_bytes").as("uncompressed_bytes"))

  /** Bloom-filter presence per (file, row group, column) — the audit
    * face of [[Sinks.writeWithBloomFilters]]: `has_bloom` from the chunk
    * metadata's bloom offset, `bloom_bytes` from its recorded length
    * (−1 when the writer predates length recording). Footers only, same
    * parallelized sweep shape as [[chunkRows]]; use it to confirm a
    * rewrite actually attached the filters before pointing a workload's
    * point-lookups at the table.
    */
  def bloomFilterReport(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.parquet(path).inputFiles.toSeq
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.createDataset(files)
      .repartition(math.min(files.size, spark.sparkContext.defaultParallelism).max(1))
      .mapPartitions { it =>
        it.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf.value)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            reader.getFooter.getBlocks.asScala.zipWithIndex.flatMap { case (block, bi) =>
              block.getColumns.asScala.map { c =>
                val off = c.getBloomFilterOffset
                (f, bi, c.getPath.toDotString, off >= 0L,
                  if (off >= 0L) c.getBloomFilterLength.toLong else -1L)
              }
            }.toSeq
          } finally reader.close()
        }
      }
      .toDF("file", "block", "column", "has_bloom", "bloom_bytes")
  }

  /** EXACT table row count from footers alone — `COUNT(*)` answered for
    * the cost of a metadata sweep: parquet row-group counts are exact by
    * format contract (they are what the reader itself trusts), so no
    * data page is touched. At a million files this is seconds of footer
    * reads instead of a full-corpus scan; the file list parallelizes
    * like [[chunkRows]] and only per-file subtotals reach the exchange.
    */
  def rowCountFromFooters(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.parquet(path).inputFiles.toSeq
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.createDataset(files)
      .repartition(math.min(files.size, spark.sparkContext.defaultParallelism).max(1))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf.value)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        } finally reader.close()
      }
      .agg(coalesce(sum("value"), lit(0L)).as("n_rows"))
  }
}
