package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Output sinks.
  *
  * - Partitioned parquet with repartition-by-partition-column first
  *   (reference: bronze_to_silver.py:70-78) so each hive partition gets one
  *   writer task → one file, instead of numShufflePartitions small files.
  *   At 100 TB, small-file explosion is the classic killer of partitioned
  *   writes; repartitioning on the partition columns bounds file count at
  *   (distinct partition values) while keeping the write fully parallel.
  * - JDBC batch sink with TRUNCATE-preserving overwrite
  *   (reference: gold_sql_to_postgres.py:31-44): `truncate=true` keeps the
  *   target table's DDL/indexes, `batchsize` bounds round-trips,
  *   `numPartitions` bounds concurrent connections to the DWH.
  * - Single-file CSV/parquet export for BI handoff (reference: README.md:188-191).
  */
object Sinks {

  /** Rows-written metric name (rides every parquet sink action via
    * `observe` — zero extra passes); `graft.sink.write` /
    * `graft.sink.compact` carry the per-target file counts, recorded
    * driver-side from the same metadata listings the sinks already do.
    * "Most recent write wins" semantics, like any last-value gauge.
    */
  val RowsWrittenMetric = "graft.sink.rows_written"

  /** (count, total bytes) of the parquet files under `root`, by a
    * `listStatus` walk. `listFiles` would build a `LocatedFileStatus` per
    * file, and on a local filesystem without native Hadoop each one forks
    * an `ls` for its permissions.
    */
  private def parquetFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path): (Long, Long) = {
    var n = 0L
    var bytes = 0L
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) { n += 1; bytes += st.getLen }
      }
    if (fs.exists(root)) walk(root)
    (n, bytes)
  }

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    graft.operators.Metrics.register(df.sparkSession)
    // On a frame already hash-clustered by partitionCols (the clustered CDC
    // merge) Spark drops this repartition as satisfied: no second exchange.
    val out =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*) else df
    val observed = out.observe(RowsWrittenMetric, count(lit(1)).as("rows"))
    val writer = observed.write.mode(SaveMode.Overwrite)
    val part = if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer
    part.parquet(path)
  }

  /** Overwrite `path` even when `df`'s lineage READS from `path` (the CDC
    * merge shape: existing ∪ fresh → same target). A direct overwrite
    * throws "Cannot overwrite a path that is also being read from", so the
    * plan is executed against a staging directory first — while the source
    * files are still intact — and the result is then swapped in with
    * filesystem renames (atomic on HDFS/local; on S3-style stores swap this
    * for a metastore location flip or table-format commit).
    */
  def writePartitionedAtomic(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    atomicSwap(df.sparkSession, path)(staging => writePartitioned(df, staging, partitionCols))

  /** Does this failure look like a reader racing [[atomicSwap]]'s
    * sub-millisecond absent-path window (old dir renamed out, new dir not
    * yet renamed in), or a scan task opening files the swap renamed away
    * after the listing? Both are transient by construction — the swap
    * completes or [[recover]] restores the retired copy —
    * so readers of swap-managed artifacts absorb them with a bounded
    * retry (see [[graft.operators.Similarity.IvfIndex.load]] and
    * [[ZoneMaps]]). Anything else propagates.
    */
  private[graft] def isTransientSwapMiss(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
      case _: java.io.FileNotFoundException => true
      case t => Option(t.getMessage).exists(m =>
        m.contains("PATH_NOT_FOUND") || m.contains("does not exist") ||
          // a listed file deleted between listing and open surfaces as a
          // read failure, not always an FNF (observed: FAILED_READ_FILE
          // over a just-retired part file). For a SWAP-MANAGED artifact
          // any read error in the window is transient by construction;
          // genuine corruption still propagates once retries exhaust.
          m.contains("FAILED_READ_FILE") ||
          m.contains("Encountered error while reading file"))
    }

  /** Run a swap-managed artifact's read under the standard bounded
    * retry: [[writePartitionedAtomic]]'s rename swap has a
    * sub-millisecond window where the path is absent (old dir renamed
    * out, new one not yet in) and a reader that listed the old files can
    * find them renamed away before its scan opens them — both transient
    * by construction, both absorbed here. One policy (attempts, sleep,
    * [[isTransientSwapMiss]] classification) for every artifact loader
    * (IvfIndex, ImiIndex, Pq.Codebook, AnnIndex's quantizer dispatch)
    * instead of a copy per loader to keep in sync.
    */
  private[graft] def loadWithSwapRetry[T](retries: Int = 8)(read: => T): T = {
    def attempt(left: Int): T =
      try read
      catch {
        case e: Throwable if left > 0 && isTransientSwapMiss(e) =>
          Thread.sleep(25L)
          attempt(left - 1)
      }
    attempt(retries)
  }

  /** The whole-table staging-and-swap protocol, factored so any writer
    * (plain partitioned, z-ordered, a future format) can be made atomic:
    * `writeTo(stagingPath)` runs while the target is untouched, then the
    * result swaps in via renames. A [[recover]] that repairs anything
    * fails the call loudly: the caller's plan was built against the
    * pre-recovery table and must be re-planned.
    */
  private def atomicSwap(
      spark: org.apache.spark.sql.SparkSession,
      path: String)(writeTo: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (recover(spark, path))
      throw new java.io.IOException(
        s"restored $path from data a previous swap stranded mid-rename; " +
          "re-run this write so its plan reads the recovered data")
    // Unique suffixes: two concurrent writers must not clobber each
    // other's staging output (last promote still wins the target — serialize
    // writers externally if that matters).
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$path.__staging_$token")
    val retired = new Path(s"$path.__retired_$token")
    writeTo(staging.toString)
    try {
      if (fs.exists(target) && !fs.rename(target, retired))
        throw new java.io.IOException(s"could not retire $target")
      if (!fs.rename(staging, target)) {
        // Roll back to the pre-write data; a failed rollback must not be
        // silent — the data would be stranded under the retired path.
        if (fs.exists(retired) && !fs.rename(retired, target))
          throw new java.io.IOException(
            s"could not promote $staging to $target AND rollback failed — " +
              s"previous data is stranded at $retired")
        throw new java.io.IOException(s"could not promote $staging to $target (rolled back)")
      }
      fs.delete(retired, true)
      graft.operators.Metrics.put("graft.sink.write",
        "path" -> path, "files" -> parquetFiles(fs, target)._1)
    } finally {
      // A successful promote renamed staging away; on any failure path the
      // recomputable staging copy must not accrete on disk (streaming
      // retries would otherwise leave one full copy per attempt).
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** The hive partition directories `depth` levels below `dir` (`dir`
    * itself at depth 0).
    */
  private[graft] def partitionDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      depth: Int): Seq[org.apache.hadoop.fs.Path] =
    if (depth == 0) Seq(dir)
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .flatMap(st => partitionDirs(fs, st.getPath, depth - 1))

  /** PARTITION-scoped atomic overwrite: `df` must contain only the
    * partitions being replaced; each hive partition directory it produces
    * is swapped into the target individually, so untouched partitions are
    * never rewritten — or even listed. This is what makes a streaming CDC
    * merge O(touched partitions) per micro-batch instead of
    * O(table history): at 100 TB the table has thousands of partitions and
    * a micro-batch touches a handful.
    */
  def writePartitionsAtomic(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    require(partitionCols.nonEmpty, "partition-scoped write needs partition columns")
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = fs.makeQualified(new Path(s"$path.__staging_$token"))
    writePartitioned(df, staging.toString, partitionCols)

    val stagingRoot = staging.toUri.getPath
    try {
      // The metric counts files under the PROMOTED leaves only — a full
      // recursive listing of the target would silently break the
      // O(touched partitions) contract this sink exists for (a streaming
      // micro-batch touching 3 of 5000 partitions must not list 5000).
      var promotedFiles = 0L
      partitionDirs(fs, staging, partitionCols.length).foreach { leaf =>
        val rel = leaf.toUri.getPath.stripPrefix(stagingRoot).stripPrefix("/")
        val dst = new Path(target, rel)
        val retired = new Path(dst.getParent, s"${dst.getName}.__retired_$token")
        if (fs.exists(dst) && !fs.rename(dst, retired))
          throw new java.io.IOException(s"could not retire partition $dst")
        if (dst.getParent != null) fs.mkdirs(dst.getParent)
        if (!fs.rename(leaf, dst)) {
          if (fs.exists(retired) && !fs.rename(retired, dst))
            throw new java.io.IOException(
              s"could not promote $leaf to $dst AND rollback failed — " +
                s"previous partition data is stranded at $retired")
          throw new java.io.IOException(s"could not promote $leaf to $dst (rolled back)")
        }
        fs.delete(retired, true)
        promotedFiles += parquetFiles(fs, dst)._1
      }
      graft.operators.Metrics.put("graft.sink.write",
        "path" -> path, "files" -> promotedFiles)
    } finally {
      // Promoted leaves were renamed out; whatever remains is recomputable
      // staging residue — delete it even on failure so streaming retries
      // don't accrete one staged copy per attempt.
      fs.delete(staging, true)
    }
  }

  /** Crash recovery for a swap-managed table, run before anything
    * reads it. Both swaps have a window where a crash strands data under
    * a `__retired_*` sibling: [[atomicSwap]] between retiring the table
    * and promoting staging, [[writePartitionsAtomic]] the same per
    * partition directory. Left alone, the next exists-probe read rebuilds
    * the table from fresh data only, and a whole-table read lists a
    * stranded partition as a bogus partition value. So:
    *  - target absent: the newest `path.__retired_*` sibling is restored
    *    and older ones, superseded by it, are deleted;
    *  - every `k=v.__retired_*` directory whose base is absent is
    *    restored, and one whose base exists is deleted.
    * Returns whether anything was restored or deleted.
    */
  def recover(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var repaired = false
    def restore(from: Path, to: Path): Unit = {
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"found stranded data at $from but could not restore it to $to")
      repaired = true
    }
    val parent = target.getParent
    if (!fs.exists(target) && parent != null && fs.exists(parent)) {
      val stranded = fs.listStatus(parent)
        .map(_.getPath)
        .filter(_.getName.startsWith(s"${target.getName}.__retired_"))
        .sortBy(p => fs.getFileStatus(p).getModificationTime)
      stranded.lastOption.foreach { newest =>
        restore(newest, target)
        // left behind, repeated crash/retry cycles would accrete one
        // full-table copy per attempt
        stranded.init.foreach(old => fs.delete(old, true))
      }
    }
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          val n = st.getPath.getName
          val idx = n.indexOf(".__retired_")
          if (idx > 0) {
            val base = new Path(dir, n.substring(0, idx))
            if (!fs.exists(base)) restore(st.getPath, base)
            else { fs.delete(st.getPath, true); repaired = true }
          } else if (n.contains("=")) walk(st.getPath)
        }
      }
    if (fs.exists(target)) walk(target)
    repaired
  }

  /** Bucketed managed table: rows are hash-clustered into `numBuckets`
    * files per partition by `bucketCols` (and optionally sorted within
    * buckets). Two tables bucketed the same way join with ZERO exchanges —
    * the join reads co-located buckets pairwise. At 100 TB this is the
    * difference between re-shuffling both fact tables on every join and
    * paying the shuffle once at write time.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    // repartition(numBuckets, bucketCols) uses the same murmur3 hash as the
    // bucket spec, so each write task holds exactly one bucket → ONE file
    // per bucket. That is what lets readers elide the join sort: with
    // multiple files per bucket Spark must re-sort even sorted buckets.
    // This is the "pay the shuffle once at write time" shuffle.
    val w = df
      .repartition(numBuckets, bucketCols.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Range-partitioned, fully-sorted parquet layout: a global sort on
    * `sortCols` laid out as one contiguous range per file. Every skipping
    * tier then stacks for predicates on the leading sort column: file
    * ranges (via [[ZoneMaps]] or any footer-reading planner), row-group
    * min/max stats inside each task, and — the tier this layout uniquely
    * unlocks — parquet's PAGE-level column index, which prunes decode
    * down to the matching ~20k-row pages within a row group (measured
    * 20× decode reduction in PageSkipSpec; an unsorted layout decodes
    * the whole group). Use for the corpus tables a serving or dedup
    * workload range-probes (doc_id, fingerprint, timestamp); multi-column
    * rectangle predicates want [[writeZOrdered]] instead — a plain sort
    * only helps its leading column.
    *
    * Cost: one range exchange (sampled bounds) + an in-task sort that
    * spills past memory — no driver-side anything.
    */
  def writeSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      numFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty, "writeSorted needs at least one sort column")
    val n = if (numFiles > 0) numFiles
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order clustered parquet: rows are sorted by the interleaved bits of
    * the (range-normalized) zCols, so each output file covers a small
    * rectangle of the multi-column space instead of a full-range slice.
    * Parquet min/max footer stats then let a reader skip most files for
    * predicates on ANY prefix-free combination of the z columns — the
    * standard data-skipping layout where single-column sorting only helps
    * its leading column. One tiny min/max agg (driver) + one range
    * shuffle; the z value is a plain shift/or expression chain, fully
    * codegen'd, dropped before the write.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      bitsPerCol: Int = 16,
      numFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions._
    require(zCols.nonEmpty, "z-ordering needs at least one column")
    require(zCols.size * bitsPerCol <= 63, "z value must fit a signed long")
    val spark = df.sparkSession
    val n = if (numFiles > 0) numFiles else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val statCols = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"__mn_$c"), max(col(c).cast("double")).as(s"__mx_$c")))
    val stats = df.agg(statCols.head, statCols.tail: _*).head()
    zCols.foreach { c =>
      require(!stats.isNullAt(stats.fieldIndex(s"__mn_$c")),
        s"z column '$c' has no numeric values to range-normalize " +
          "(empty input, or all values null/non-castable); rows whose value " +
          "casts to null land in bucket 0")
    }
    val maxBucket = (1L << bitsPerCol) - 1
    def bucket(c: String): org.apache.spark.sql.Column = {
      val mn = stats.getAs[Double](s"__mn_$c")
      val mx = stats.getAs[Double](s"__mx_$c")
      if (mx <= mn) lit(0L)
      else least(
        lit(maxBucket),
        greatest(lit(0L),
          ((coalesce(col(c).cast("double"), lit(mn)) - mn) / (mx - mn) * maxBucket).cast("long")))
    }
    // interleave: output bit (i * ncols + j) = bit i of column j's bucket
    val z = (0 until bitsPerCol).flatMap { i =>
      zCols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(bucket(c), i).bitwiseAND(1L), i * zCols.size + j)
      }
    }.reduce(_.bitwiseOR(_))
    df.withColumn("__z", z)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  final case class JdbcConfig(
      url: String,
      user: String,
      password: String,
      driver: String = "org.postgresql.Driver",
      batchSize: Int = 20000)

  /** The exact option map [[writeJdbc]] hands Spark's JDBC writer — a
    * PURE function so the reference dialect contract is spec-assertable
    * without a live warehouse (gold_sql_to_postgres.py:31-44):
    * `truncate=true` (overwrite preserves target DDL), `batchsize`
    * (default 20000), `numPartitions` mirroring the repartition, and —
    * for the Postgres driver only — `stringtype=unspecified`, the
    * pgjdbc property that lets VARCHAR params bind to enum/json/uuid
    * columns. Non-Postgres targets (embedded Derby in tests) do not get
    * Postgres-specific properties.
    */
  def jdbcOptions(cfg: JdbcConfig, table: String, numPartitions: Int): Map[String, String] = {
    val base = Map(
      "url" -> cfg.url,
      "dbtable" -> table,
      "user" -> cfg.user,
      "password" -> cfg.password,
      "driver" -> cfg.driver,
      "truncate" -> "true",
      "batchsize" -> cfg.batchSize.toString,
      "numPartitions" -> numPartitions.toString)
    if (cfg.driver == "org.postgresql.Driver") base + ("stringtype" -> "unspecified")
    else base
  }

  /** The CREATE TABLE statement Spark would issue for `df`'s schema at
    * `url`, through Spark's own [[org.apache.spark.sql.jdbc.JdbcDialect]]
    * registry — for a Postgres url this is the Postgres-dialect DDL
    * (TEXT/BIGINT/DOUBLE PRECISION/DATE/BOOLEAN), assertable in specs
    * with no live server.
    */
  def jdbcDdl(url: String, table: String, df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.jdbc.JdbcDialects
    val cols = JdbcUtils.schemaString(
      JdbcDialects.get(url), df.schema, caseSensitive = false, None)
    s"CREATE TABLE $table ($cols)"
  }

  def writeJdbc(df: DataFrame, cfg: JdbcConfig, table: String, numPartitions: Int): Unit = {
    import org.apache.spark.sql.functions.{count, lit}
    graft.operators.Metrics.register(df.sparkSession)
    df.observe(RowsWrittenMetric, count(lit(1)).as("rows"))
      .repartition(numPartitions)
      .write
      .format("jdbc")
      .options(jdbcOptions(cfg, table, numPartitions))
      .mode(SaveMode.Overwrite)
      .save()
  }

  /** Small-file compaction via the atomic staging swap. Tables fed by many
    * increments (streaming merges, frequent small batches) accrete files
    * whose per-file open/footer cost dominates scans at 100 TB — periodic
    * compaction is the standard maintenance pass. Readers see either the
    * old layout or the new one, never a mix.
    *
    * Hive-partitioned tables KEEP their layout: the partition columns are
    * detected from the directory chain and the rewrite collapses each
    * partition to one file (the same bound the partitioned writers
    * enforce at write time; partition values round-trip through Spark's
    * inferred representation). Flat tables rewrite into
    * ceil(bytes / targetFileBytes) files from a METADATA-only size
    * listing. [[recover]] runs FIRST so stranded `__retired_*` rows are
    * neither lost nor baked into the compacted output.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zOrderBy: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, path)
    // ONE pre-walk serves both the before-count metric and the flat-table
    // byte total (compact targets many-small-file tables — the listings
    // are exactly what must not be repeated).
    val (filesBefore, bytesBefore) = parquetFiles(fs, root)

    @scala.annotation.tailrec
    def partitionChain(p: Path, acc: Seq[String]): Seq[String] = {
      val sub = fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      if (sub.isEmpty) acc
      else {
        val name = sub.head.getPath.getName.takeWhile(_ != '=')
        partitionChain(sub.head.getPath, acc :+ name)
      }
    }
    val partitionCols = partitionChain(root, Nil)

    require(zOrderBy.isEmpty || partitionCols.isEmpty,
      "zOrderBy compaction supports flat tables (z-ordering spans files, not hive dirs)")
    if (partitionCols.nonEmpty) {
      writePartitionedAtomic(spark.read.parquet(path), path, partitionCols)
    } else {
      val numFiles = math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt
      if (zOrderBy.nonEmpty)
        // the OPTIMIZE-and-recluster maintenance combo: the rewrite the
        // compaction pays for anyway also restores the data-skipping
        // layout, atomically
        atomicSwap(spark, path)(staging =>
          writeZOrdered(spark.read.parquet(path), staging, zOrderBy, numFiles = numFiles))
      else
        writePartitionedAtomic(spark.read.parquet(path).repartition(numFiles), path, Nil)
    }
    // The maintenance pass's whole point is the file-count delta — record
    // it so an operator can alert on "compaction stopped helping". The
    // after-count reuses the listing the atomic writer just did (its
    // graft.sink.write metric) instead of a third full walk — but ONLY if
    // that last-value metric is really ours: the registry is JVM-global,
    // so a concurrent sink to another path may have overwritten it between
    // our swap and this read. Path mismatch → fall back to a fresh count.
    val filesAfter = writeMetricFilesFor(path).getOrElse(parquetFiles(fs, root)._1)
    graft.operators.Metrics.put("graft.sink.compact",
      "path" -> path, "files_before" -> filesBefore, "files_after" -> filesAfter)
  }

  /** The last `graft.sink.write` file count IF it belongs to `path` —
    * package-private so the spec can pin the other-path fallback without a
    * real thread race.
    */
  private[graft] def writeMetricFilesFor(path: String): Option[Long] =
    graft.operators.Metrics.get("graft.sink.write")
      .filter(_.getAs[String](0) == path)
      .map(_.getAs[Long](1))

  /** Single-file export, the reference's gold CSV/parquet export step
    * (reference: README.md:188-191); only for small (gold/BI) outputs —
    * coalesce(1) funnels everything through one task by design.
    */
  def exportSingleCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** The same single-file export as parquet (reference: README.md:188-191). */
  def exportSingleParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Write parquet with NATIVE row-group bloom filters on the named
    * columns — the format-level complement to [[BloomSkip]]'s file-level
    * manifests: the filter lives in the file itself, so ANY parquet
    * reader (this engine, Trino, DuckDB) skips non-matching row groups
    * on equality/IN point-lookups with no side-channel metadata.
    *
    * When it pays: high-cardinality columns whose values are NOT
    * clustered (min/max stats prune nothing) and whose dictionary
    * overflows (dictionary-page filtering unavailable) — exactly the
    * doc-id / URL-hash / fingerprint lookup columns of a dedup or
    * serving table. `ndv` sizes the filter (parquet derives bits from
    * expected distinct count at ~1% FPP); oversize rather than undersize
    * — a saturated bloom skips nothing and still costs its bytes.
    * Verify attachment with [[ParquetStats.bloomFilterReport]].
    */
  def writeWithBloomFilters(
      df: DataFrame,
      path: String,
      bloomNdv: Map[String, Long],
      partitionCols: Seq[String] = Nil,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    require(bloomNdv.nonEmpty, "writeWithBloomFilters needs at least one column")
    val missing = bloomNdv.keySet -- df.columns.toSet
    require(missing.isEmpty, s"bloom columns absent from frame: ${missing.mkString(", ")}")
    import org.apache.spark.sql.functions.col
    val out =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*) else df
    var w = out.write.mode(SaveMode.Overwrite)
    bloomNdv.foreach { case (c, ndv) =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    extraOptions.foreach { case (k, v) => w = w.option(k, v) }
    val part = if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
    part.parquet(path)
  }
}
