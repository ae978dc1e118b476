package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Caches
import graft.sources.{StorageHealth, ZoneMaps}

class StorageHealthSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_health_$tag").toString + "/t"

  test("report: exact file/row/row-group accounting on a controlled write") {
    val dir = freshDir("exact")
    val df = spark.range(0, 12000).select(
      col("id"),
      when(col("id") % 5 =!= 0, concat(lit("doc-"), col("id"))).as("s"))
    df.repartition(3).write.mode(SaveMode.Overwrite).parquet(dir)
    val scope = Caches.newScope()
    val rep = Caches.inScope(scope)(StorageHealth.report(spark, dir))

    val summary = rep.summary.collect().head
    assert(summary.getAs[Long]("n_files") === 3L)
    assert(summary.getAs[Long]("total_rows") === 12000L)
    assert(summary.getAs[Long]("n_row_groups") >= 3L)
    // every testdata-sized file is "small" at the default 32 MiB threshold
    assert(summary.getAs[Long]("small_files") === 3L)
    assert(summary.getAs[Long]("compressed_bytes") > 0L)
    assert(summary.getAs[Long]("avg_file_bytes") > 0L)
    assert(summary.getAs[Long]("max_file_bytes") >= summary.getAs[Long]("avg_file_bytes"))
    // no manifest configured: NULL, never a fake "perfectly fresh" zero
    assert(summary.isNullAt(summary.fieldIndex("manifest_known")))
    assert(summary.isNullAt(summary.fieldIndex("manifest_fresh")))
    assert(summary.isNullAt(summary.fieldIndex("manifest_orphaned")))

    // per-file rows sum to the table; row counts are NOT multiplied by
    // column count (the block_rows-repeats-per-chunk trap)
    val files = rep.files.collect()
    assert(files.length === 3)
    assert(files.map(_.getAs[Long]("rows")).sum === 12000L)
    // column view from the SAME sweep matches the standalone footprint
    val cols = rep.columns.collect()
      .map(r => r.getAs[String]("column") -> r.getAs[Long]("n_values")).toMap
    assert(cols === Map("id" -> 12000L, "s" -> 12000L))
    scope.release(blocking = true)
  }

  test("manifest freshness: known/fresh/orphaned track landings and deletes exactly") {
    val dir = freshDir("fresh")
    val manifest = freshDir("manifest")
    spark.range(0, 1000).select(col("id"), (col("id") % 97).as("k"))
      .repartition(2).write.mode(SaveMode.Overwrite).parquet(dir)
    ZoneMaps.save(spark, dir, manifest, Seq("k"))
    val manifested = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))

    // fully fresh manifest
    val f0 = StorageHealth.manifestFreshness(spark, dir, manifest)
    assert(f0 === StorageHealth.ManifestFreshness(known = 2L, fresh = 0L, orphaned = 0L))

    // a landing the manifest has not seen → fresh, never silently known
    spark.range(1000, 1500).select(col("id"), (col("id") % 97).as("k"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
    val f1 = StorageHealth.manifestFreshness(spark, dir, manifest)
    assert(f1.known === 2L && f1.fresh === 1L && f1.orphaned === 0L)

    // delete a MANIFESTED file (not the fresh landing) → orphaned entry,
    // existence decided by the listing
    val victim = manifested.minBy(_.getName)
    assert(victim.delete())
    val f2 = StorageHealth.manifestFreshness(spark, dir, manifest)
    assert(f2.known + f2.orphaned === 2L && f2.orphaned === 1L && f2.fresh === 1L)

    // summary carries the same numbers when a manifest is configured
    val scope = Caches.newScope()
    val s = Caches.inScope(scope)(StorageHealth.report(spark, dir, Some(manifest)))
      .summary.collect().head
    assert(s.getAs[Long]("manifest_known") === f2.known)
    assert(s.getAs[Long]("manifest_fresh") === f2.fresh)
    assert(s.getAs[Long]("manifest_orphaned") === f2.orphaned)
    scope.release(blocking = true)
  }

  test("report on testdata: totals agree with a real row count; one sweep job shape") {
    val dir = "/root/testdata/sf0.001"
    val scope = Caches.newScope()
    val rep = Caches.inScope(scope)(StorageHealth.report(spark, s"$dir/documents.parquet"))
    val summary = rep.summary.collect().head
    val rows = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(summary.getAs[Long]("total_rows") === rows)
    assert(summary.getAs[Long]("n_files") >= 1L)
    // column bytes and file bytes are two aggregations of ONE chunk frame:
    // their compressed totals must agree exactly
    val colBytes = rep.columns.agg(sum("compressed_bytes")).collect().head.getLong(0)
    assert(summary.getAs[Long]("compressed_bytes") === colBytes)
    scope.release(blocking = true)
  }
}
