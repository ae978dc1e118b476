package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sinks, Tables}

class SinksSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("writePartitioned: one file per partition value, hive layout, roundtrip") {
    val dir = Files.createTempDirectory("sink-part")
    val df = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyyMM").as("p_ym"))
    Sinks.writePartitioned(df, dir.toString + "/t", Seq("p_ym"))
    val partDirs = new java.io.File(dir.toString + "/t").listFiles()
      .filter(_.getName.startsWith("p_ym=")).toSeq
    assert(partDirs.nonEmpty)
    partDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${d.getName}: repartition-by-partition-cols must yield 1 file, got $files")
    }
    val back = spark.read.parquet(dir.toString + "/t")
    assert(back.count() == df.count())
    assert(back.columns.toSet == df.columns.toSet)
  }

  test("writePartitionedAtomic: stranded __retired_ sibling is restored, not silently lost") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("sink-atomic")
    val t = dir.toString + "/t"
    val df = Tables.load(spark, "/root/testdata/sf0.001", "region")
    Sinks.writePartitionedAtomic(df, t, Nil)
    // Simulate a driver crash between the two swap renames: target was
    // retired, the staging promote never happened.
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an OLDER stranded copy from a previous crash/retry cycle: superseded,
    // must be purged on recovery instead of accreting forever
    val older = new Path(t + ".__retired_00oldcrash")
    fs.mkdirs(older)
    fs.setTimes(older, 1000L, -1)
    assert(fs.rename(new Path(t), new Path(t + ".__retired_deadbeef")))
    val e = intercept[java.io.IOException] { Sinks.writePartitionedAtomic(df, t, Nil) }
    assert(e.getMessage.contains("restored"), e.getMessage)
    assert(spark.read.parquet(t).count() == df.count(), "pre-crash data must be recovered")
    assert(!fs.exists(older), "superseded retired sibling must be deleted on recovery")
    // With the target recovered, a re-run completes normally.
    Sinks.writePartitionedAtomic(df, t, Nil)
    assert(spark.read.parquet(t).count() == df.count())
  }

  test("writeJdbc against embedded Derby: batched write, truncate-overwrite preserves DDL") {
    // Derby ships with Spark (metastore dependency) — a real JDBC target in
    // the same JVM, exercising the exact write path the reference points at
    // Postgres: truncate=true overwrite, batchsize, numPartitions.
    val dbDir = Files.createTempDirectory("sink-jdbc").toString + "/db"
    val cfg = Sinks.JdbcConfig(
      url = s"jdbc:derby:$dbDir;create=true",
      user = "app",
      password = "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      batchSize = 100)
    val df = Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"))

    Sinks.writeJdbc(df, cfg, "NATION_GOLD", numPartitions = 4)

    // Index the table out-of-band; a drop/recreate overwrite would lose it,
    // a TRUNCATE-preserving overwrite must keep it.
    Class.forName(cfg.driver)
    val conn = java.sql.DriverManager.getConnection(cfg.url)
    try {
      // Spark's JDBC writer quotes column identifiers, so Derby stores them
      // case-sensitively lowercase.
      conn.createStatement().execute(
        "CREATE INDEX NATION_GOLD_IDX ON NATION_GOLD (\"n_nationkey\")")
    } finally conn.close()

    Sinks.writeJdbc(df, cfg, "NATION_GOLD", numPartitions = 4)

    val check = java.sql.DriverManager.getConnection(cfg.url)
    try {
      val rs = check.createStatement().executeQuery("SELECT COUNT(*) FROM NATION_GOLD")
      rs.next()
      assert(rs.getInt(1) == df.count(), "second overwrite must replace, not append")
      val idx = check.getMetaData.getIndexInfo(null, null, "NATION_GOLD", false, false)
      var names = Set.empty[String]
      while (idx.next()) names += Option(idx.getString("INDEX_NAME")).getOrElse("")
      assert(names.contains("NATION_GOLD_IDX"),
        s"truncate-overwrite must preserve the index; found only $names")
    } finally check.close()

    val back = spark.read.format("jdbc")
      .option("url", cfg.url).option("dbtable", "NATION_GOLD")
      .option("driver", cfg.driver).load()
    assert(back.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq ==
      df.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq)

    // source direction: predicates must push into the remote query, not
    // filter rows after shipping them
    val filtered = back.where(col("n_nationkey") < 5)
    val plan = filtered.queryExecution.executedPlan.toString
    // assert the CONCRETE pushed filter: DSv1 JDBC scans always print a
    // (possibly empty) PushedFilters list, so a bare contains check stays
    // green even with pushdown broken
    assert(plan.contains("LessThan(n_nationkey,5)"),
      s"JDBC scan must push the < predicate into the remote query:\n$plan")
    assert(filtered.count() == 5)
  }

  test("CDC merge additive schema evolution: new column backfills history as typed null") {
    val old = Seq((1L, "a")).toDF("k", "v")
    val fresh = Seq((2L, "b", 7)).toDF("k", "v", "extra") // new int column
    val merged = graft.operators.CdcMerge.mergeFullHistory(Some(old), fresh, Seq("k"))
      .orderBy("k").collect()
    assert(merged.length == 2)
    assert(merged.head.isNullAt(2), "history rows get typed null for the new column")
    assert(merged(1).getInt(2) == 7)
    assert(merged.head.schema("extra").dataType.typeName == "integer")
  }

  test("mergeInto: a new column triggers one homogeneous full rewrite") {
    val silver = Files.createTempDirectory("evolve-part").toString + "/t"
    val d1 = Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d1, Seq("k"), Seq("p"))
    // evolution batch touches ONLY p2 but carries a new column
    val d2 = Seq((3L, "c", 7, "p2")).toDF("k", "v", "extra", "p")
    graft.operators.CdcMerge.mergeInto(silver, d2, Seq("k"), Seq("p"))
    // a PLAIN read (no mergeSchema) must see the new column everywhere —
    // i.e. the untouched partition's files were rewritten too
    val out = spark.read.parquet(silver)
    assert(out.columns.contains("extra"),
      "plain read must surface the evolved column (homogeneous files)")
    assert(out.count() == 3)
    assert(out.where(col("k") === 3L).select("extra").head().getInt(0) == 7)
    assert(out.where(col("extra").isNull).count() == 2, "history rows carry typed null")
  }

  test("mergeInto: a DROPPED column also triggers one homogeneous full rewrite") {
    val silver = Files.createTempDirectory("evolve-drop").toString + "/t"
    val d1 = Seq((1L, "a", 5, "p1"), (2L, "b", 6, "p2")).toDF("k", "v", "extra", "p")
    graft.operators.CdcMerge.mergeInto(silver, d1, Seq("k"), Seq("p"))
    // narrowing batch touches ONLY p2 and no longer carries `extra`
    val d2 = Seq((3L, "c", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d2, Seq("k"), Seq("p"))
    // every file must agree on the narrow layout: a plain read must neither
    // nondeterministically resurrect `extra` nor depend on footer sampling
    val out = spark.read.parquet(silver)
    assert(!out.columns.contains("extra"),
      "align-to-new-layout drops the column everywhere, not just touched partitions")
    assert(out.count() == 3)
    val merged = spark.read.option("mergeSchema", "true").parquet(silver)
    assert(!merged.columns.contains("extra"),
      "even a mergeSchema read must not find stale wide files")
  }

  test("mergeInto (batch API): dedups against existing, touches only its partitions") {
    val silver = Files.createTempDirectory("batch-scoped").toString + "/t"
    val d1 = Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d1, Seq("k"), Seq("p"))
    // second increment: re-delivery of k=2 plus a new key, both in p2
    val d2 = Seq((2L, "b", "p2"), (3L, "c", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d2, Seq("k"), Seq("p"))
    val out = spark.read.parquet(silver)
    assert(out.count() == 3, "re-delivered key must dedup")
    assert(out.where(col("p") === "p1").count() == 1, "untouched partition preserved")
    assert(out.where(col("k") === 2L).count() == 1)
  }

  test("mergeInto restores a table a crashed whole-table swap stranded, then merges into it") {
    import org.apache.hadoop.fs.Path
    val silver = Files.createTempDirectory("crash-whole").toString + "/t"
    val d1 = Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d1, Seq("k"), Seq("p"))
    // a crash between the swap's two renames: the table was retired and
    // the staged output never promoted
    val fs = new Path(silver).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(silver), new Path(silver + ".__retired_deadbeef")))
    val d2 = Seq((4L, "d", "p2")).toDF("k", "v", "p")
    graft.operators.CdcMerge.mergeInto(silver, d2, Seq("k"), Seq("p"))
    val out = spark.read.parquet(silver).select("k").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 4L), s"history plus the new key, got ${out.mkString(",")}")
    val siblings = fs.listStatus(new Path(silver).getParent).map(_.getPath.getName)
    assert(!siblings.exists(_.contains("__retired_")), s"stranded copy left: ${siblings.mkString(",")}")
  }

  test("compact: many small files collapse to the byte-target count, data intact") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val df = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    df.repartition(40).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() == 40, "fixture: start fragmented")
    val before = spark.read.parquet(dir).collect().toSet
    // generous byte target → everything fits one file
    Sinks.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(files() == 1, s"expected 1 compacted file, got ${files()}")
    assert(spark.read.parquet(dir).collect().toSet == before, "compaction must not change rows")
  }

  test("compact preserves hive partition layout and purges stranded retired dirs first") {
    val dir = Files.createTempDirectory("compact-part").toString + "/t"
    val df = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyyMM").as("p_ym"))
    df.repartition(6).write.partitionBy("p_ym").parquet(dir) // fragmented: ~6 files/partition
    val before = spark.read.parquet(dir).collect().toSet
    val aPartition = new java.io.File(dir).listFiles().filter(_.getName.startsWith("p_ym=")).head
    assert(aPartition.listFiles().count(_.getName.endsWith(".parquet")) > 1, "fixture: fragmented")
    // plant a stranded retired dir whose base exists: must be purged, not compacted in
    val stranded = new java.io.File(dir, aPartition.getName + ".__retired_dead")
    assert(aPartition.listFiles().head != null)
    org.apache.commons.io.FileUtils.copyDirectory(aPartition, stranded)

    Sinks.compact(spark, dir)

    val partDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("p_ym="))
    assert(partDirs.nonEmpty, "partition layout must survive compaction")
    assert(!partDirs.exists(_.getName.contains("__retired")), "stranded dir purged")
    partDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName}: compaction must collapse to one file per partition")
    }
    assert(spark.read.parquet(dir).collect().toSet == before,
      "rows intact, stale retired copy NOT baked in")
  }

  test("writeZOrdered: each file covers a small rectangle of BOTH z columns") {
    val dir = Files.createTempDirectory("zorder").toString
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    Sinks.writeZOrdered(li, s"$dir/z", Seq("l_orderkey", "l_partkey"), numFiles = 16)

    def spans(path: String, c: String): Seq[(Double, Double)] =
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val r = spark.read.parquet(f.toString)
          .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
        (r.getDouble(0), r.getDouble(1))
      }
    val global = li.agg(
      min("l_orderkey").cast("double"), max("l_orderkey").cast("double"),
      min("l_partkey").cast("double"), max("l_partkey").cast("double")).head()
    val okRange = global.getDouble(1) - global.getDouble(0)
    val pkRange = global.getDouble(3) - global.getDouble(2)

    def meanSpanFraction(c: String, whole: Double): Double = {
      val s = spans(s"$dir/z", c)
      s.map { case (mn, mx) => (mx - mn) / whole }.sum / s.length
    }
    val okFrac = meanSpanFraction("l_orderkey", okRange)
    val pkFrac = meanSpanFraction("l_partkey", pkRange)
    // 16 files over a 2-d z-curve → each covers ~1/4 of each dimension;
    // a plain write gives ~1.0 on both. Allow slack for boundary files.
    assert(okFrac < 0.6 && pkFrac < 0.6,
      s"z-ordering must narrow per-file ranges on BOTH columns: ok=$okFrac pk=$pkFrac")
    // round-trip intact
    assert(spark.read.parquet(s"$dir/z").count() == li.count())
  }

  test("compact with zOrderBy: one rewrite both collapses files and restores clustering") {
    val dir = Files.createTempDirectory("compact-z").toString + "/t"
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // accrete unclustered small files the way increments do
    (0 until 4).foreach { i =>
      li.where(pmod(col("l_orderkey"), lit(4)) === i)
        .repartition(5).write.mode("append").parquet(dir)
    }
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 20)

    Sinks.compact(spark, dir, targetFileBytes = 64 * 1024,
      zOrderBy = Seq("l_orderkey", "l_partkey"))

    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length < 20 && files.length > 1,
      s"files must collapse toward the byte target, got ${files.length}")
    assert(spark.read.parquet(dir).count() == li.count(), "rows intact")
    // clustering restored: per-file spans shrink on BOTH z columns
    def meanFrac(c: String): Double = {
      val g = li.agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
      val whole = g.getDouble(1) - g.getDouble(0)
      val fr = files.toSeq.map { f =>
        val r = spark.read.parquet(f.toString)
          .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
        (r.getDouble(1) - r.getDouble(0)) / whole
      }
      fr.sum / fr.length
    }
    assert(meanFrac("l_orderkey") < 0.7 && meanFrac("l_partkey") < 0.7,
      "z-order compaction must narrow per-file ranges on both columns")
    // partitioned tables refuse the combo (z spans files, not hive dirs)
    intercept[IllegalArgumentException] {
      val pdir = Files.createTempDirectory("compact-zp").toString + "/t"
      Sinks.writePartitioned(
        li.withColumn("p", pmod(col("l_orderkey"), lit(2))), pdir, Seq("p"))
      Sinks.compact(spark, pdir, zOrderBy = Seq("l_partkey"))
    }
  }

  test("JsonlSource: explicit schema, corrupt lines quarantined not dropped, gz transparent") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world"}""",
      """{"doc_id": 2, "text": "second doc"}""",
      """{"doc_id": broken not json""",
      """{"doc_id": 3, "text": "third"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-00000.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    // a gz shard too: compression must be transparent
    val gzOut = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/shard-00001.jsonl.gz"))
    gzOut.write("""{"doc_id": 4, "text": "gz doc"}""".getBytes("UTF-8"))
    gzOut.close()

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val clean = graft.sources.JsonlSource.readClean(spark, dir, schema)
    assert(clean.count() == 4)
    assert(clean.columns.toSeq == Seq("doc_id", "text"))
    assert(clean.where(col("doc_id") === 4L).select("text").head().getString(0) == "gz doc")
    val quarantine = graft.sources.JsonlSource.readQuarantine(spark, dir, schema).collect()
    assert(quarantine.length == 1, "the mangled line must be quarantined, not silently dropped")
    assert(quarantine.head.getAs[String](graft.sources.JsonlSource.corruptCol).contains("broken"))
  }

  test("single-file exports: exactly one data file, header round-trip") {
    val dir = Files.createTempDirectory("sink-export")
    val df = Tables.load(spark, "/root/testdata/sf0.001", "region")
    Sinks.exportSingleCsv(df, dir.toString + "/csv")
    val csvFiles = new java.io.File(dir.toString + "/csv").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(csvFiles.length == 1, "coalesce(1) must produce a single csv")
    val back = spark.read.option("header", "true").csv(dir.toString + "/csv")
    assert(back.count() == df.count())
    Sinks.exportSingleParquet(df, dir.toString + "/pq")
    assert(spark.read.parquet(dir.toString + "/pq").count() == df.count())
  }
}
