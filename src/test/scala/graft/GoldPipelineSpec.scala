package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.banking.{GoldPipeline, Ingest}
import graft.operators.CdcMerge

/** End-to-end medallion run over the reference's bronze fixtures
  * (FIXTURES.md §1), including the second-run CDC merge that reads and
  * rewrites the same silver path — the case a plain overwrite cannot do.
  */
class GoldPipelineSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def writeFixtures(dir: java.nio.file.Path): Unit = {
    def put(name: String, content: String): Unit =
      Files.writeString(dir.resolve(name), content)
    put("accounts.csv",
      "Acc no,Date,Status\n123,01-jan-22,Active\n456,01-feb-22,Active\n123,01-mar-22,In Active\n")
    put("account_details.csv",
      "Acc no,Date,type\n123,01-jan-22,CC\n456,01-feb-22,Loan\n123,01-mar-22,CC\n")
    put("person.csv",
      "Acc no,Person\n123,X\n456,Y\n456,Z\n123,X\n")
    put("person_profile.csv",
      "Person,Name,Date\nX,Adam,01-jan-22\nY,Mona,01-feb-22\nZ,Rana,01-feb-22\nZ,Rana Ali,01-apr-22\n")
    put("person_iden.csv",
      "Person,Id,Date\nX,ID1,01-jan-22\nY,ID2,01-feb-22\nZ,ID3,01-feb-22\nZ,ID4,01-apr-22\n")
  }

  /** The query executions `body` ran, in the order the session's listeners
    * saw them. Delivery is asynchronous but ordered, so waiting for a
    * marker query run after `body` waits for all of them.
    */
  private def executionsOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    val marker = "__executions_of_marker"
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.analyzed.output.exists(_.name == marker)) &&
        System.nanoTime() < deadline) Thread.sleep(25L)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def derbyConfig(prefix: String): graft.sources.Sinks.JdbcConfig =
    graft.sources.Sinks.JdbcConfig(
      url = s"jdbc:derby:${Files.createTempDirectory(prefix)}/db;create=true",
      user = "app",
      password = "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      batchSize = 100)

  test("bronze→silver is idempotent: the second run merges over its own output") {
    val bronze = Files.createTempDirectory("graft-bronze")
    val silver = Files.createTempDirectory("graft-silver")
    writeFixtures(bronze)

    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    val firstCounts = graft.banking.Ingest.entities.map { e =>
      e.name -> spark.read.parquet(s"$silver/${e.name}").count()
    }.toMap
    assert(firstCounts("accounts") == 3)
    assert(firstCounts("person") == 3, "duplicate (123,X) must dedup")

    // Second run: reads existing silver, unions fresh bronze, rewrites the
    // SAME path. Without the staging-and-swap sink this throws
    // AnalysisException("Cannot overwrite a path that is also being read from").
    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    graft.banking.Ingest.entities.foreach { e =>
      val again = spark.read.parquet(s"$silver/${e.name}").count()
      assert(again == firstCounts(e.name), s"${e.name}: second merge changed row count")
    }
  }

  test("silver→gold builds the star schema with reference semantics") {
    val bronze = Files.createTempDirectory("graft-bronze2")
    val silver = Files.createTempDirectory("graft-silver2")
    writeFixtures(bronze)
    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    val gold = GoldPipeline.silverToGold(spark, silver.toString)

    // dim_account: 123 has Active → In Active (2 versions), 456 has 1.
    val da = gold.dimAccount.orderBy("acc_no", "effective_start_date").collect()
    assert(da.length == 3)
    assert(da(0).getAs[String]("status") == "Active" && !da(0).getAs[Boolean]("is_current"))
    assert(da(0).getAs[java.sql.Date]("effective_end_date").toString == "2022-02-28")
    assert(da(1).getAs[String]("status") == "In Active" && da(1).getAs[Boolean]("is_current"))

    // dim_person: X(1), Y(1), Z(2: Rana/ID3 → Rana Ali/ID4).
    assert(gold.dimPerson.count() == 4)
    val z = gold.dimPerson.where(col("person") === "Z")
      .orderBy("effective_start_date").collect()
    assert(z.map(_.getAs[String]("name")).toSeq == Seq("Rana", "Rana Ali"))

    // bridge: (123,X), (456,Y), (456,Z); dim_date: 4 distinct dates.
    assert(gold.bridgeAccountPerson.count() == 3)
    assert(gold.dimDate.count() == 4)

    // fact: one row per distinct (snapshot_date, acc_no), each with an SK.
    val fact = gold.factAccountSnapshot.collect()
    assert(fact.length == 3)
    assert(fact.forall(r => !r.isNullAt(2)), "every snapshot resolves a dim version")
  }

  test("streamed silver feeds the same gold build: batch and streaming are one path") {
    // Build silver twice — accounts ingested as a STREAM (micro-batched
    // through cdcMergeStream, out of order and with a re-delivery) vs the
    // plain batch path — and assert silverToGold produces the identical
    // dim_account from both. This is the architecture claim: one merge +
    // one gold build, whatever the ingestion mode.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._

    val bronzeB = Files.createTempDirectory("one-path-bronze")
    val silverBatch = Files.createTempDirectory("one-path-silver-b")
    val silverStream = Files.createTempDirectory("one-path-silver-s")
    writeFixtures(bronzeB)
    GoldPipeline.bronzeToSilver(spark, bronzeB.toString, silverBatch.toString)

    // stream the accounts entity into the OTHER silver; copy the rest
    graft.banking.Ingest.entities.filterNot(_.name == "accounts").foreach { e =>
      spark.read.parquet(s"$silverBatch/${e.name}")
        .write.parquet(s"$silverStream/${e.name}")
    }
    val input = MemoryStream[(String, String, String)]
    val accounts = input.toDF().toDF("acc_no", "raw_date", "status")
      .select(col("acc_no"), to_date(col("raw_date")).as("date"), col("status"))
      .withColumn("p_ym", date_format(col("date"), "yyyyMM"))
    val q = graft.streaming.Streams.cdcMergeStream(
      accounts, s"$silverStream/accounts",
      mergeKeys = Seq("acc_no", "date", "status"), partitionCols = Seq("p_ym"))
    try {
      input.addData(("123", "2022-03-01", "In Active")) // out of order first
      q.processAllAvailable()
      input.addData(("123", "2022-01-01", "Active"), ("456", "2022-02-01", "Active"))
      q.processAllAvailable()
      input.addData(("456", "2022-02-01", "Active")) // cross-batch re-delivery
      q.processAllAvailable()
    } finally q.stop()

    def dimOf(silver: java.nio.file.Path) =
      GoldPipeline.silverToGold(spark, silver.toString).dimAccount
        .select("acc_no", "status", "type", "effective_start_date",
          "effective_end_date", "is_current")
        .orderBy("acc_no", "effective_start_date")
        .collect().map(_.toSeq).toSeq
    assert(dimOf(silverStream) == dimOf(silverBatch),
      "gold from streamed silver must equal gold from batch silver")
  }

  test("gold→DWH loads all five tables end-to-end (embedded Derby)") {
    // The reference's actual production act: five sequential JDBC bulk
    // loads (gold_sql_to_postgres.py:199-203). Full chain here: bronze
    // fixtures → silver CDC merge → star schema → Derby → read back.
    val bronze = Files.createTempDirectory("graft-bronze3")
    val silver = Files.createTempDirectory("graft-silver3")
    writeFixtures(bronze)
    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    val gold = GoldPipeline.silverToGold(spark, silver.toString)

    val dbDir = Files.createTempDirectory("graft-dwh").toString + "/db"
    val cfg = graft.sources.Sinks.JdbcConfig(
      url = s"jdbc:derby:$dbDir;create=true",
      user = "app",
      password = "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      batchSize = 100)

    GoldPipeline.loadToDwh(gold, cfg, numPartitions = 2)

    def readBack(table: String) = spark.read.format("jdbc")
      .option("url", cfg.url).option("dbtable", table)
      .option("driver", cfg.driver).load()

    // Every table arrived with the exact row count the gold frames hold.
    GoldPipeline.dwhTables(gold).foreach { case (name, df) =>
      assert(readBack(name).count() == df.count(), s"$name: DWH row count mismatch")
    }

    // Keys survive the trip: the fact's surrogate keys must all resolve
    // against the loaded dim_account (referential integrity in the DWH,
    // not just in Spark).
    val dimSks = readBack("dim_account").select("account_sk")
      .collect().map(_.getLong(0)).toSet
    val factSks = readBack("fact_account_snapshot").select("account_sk")
      .collect().map(_.getLong(0)).toSet
    assert(factSks.nonEmpty && factSks.subsetOf(dimSks),
      "every loaded fact SK must exist in the loaded dim")

    // SCD2 shape survives: exactly one current version per account.
    val current = readBack("dim_account").where(col("is_current"))
      .groupBy("acc_no").count().collect()
    assert(current.forall(_.getLong(1) == 1L), "one is_current row per acc_no")

    // Reload is idempotent (nightly full reload): same counts second time.
    GoldPipeline.loadToDwh(gold, cfg, numPartitions = 2)
    GoldPipeline.dwhTables(gold).foreach { case (name, df) =>
      assert(readBack(name).count() == df.count(), s"$name: reload must replace, not append")
    }
  }

  test("Postgres dialect contract: option map and gold DDL pinned to the reference") {
    // No live Postgres exists in this sandbox; the reference's JDBC
    // contract (gold_sql_to_postgres.py:31-44,199-203) is pinned at the
    // two seams that fully determine the server-side behavior: the exact
    // option map handed to Spark's JDBC writer, and the PostgresDialect
    // DDL Spark would issue for each gold table.
    val cfg = graft.sources.Sinks.JdbcConfig(
      url = "jdbc:postgresql://postgres:5432/dwh",
      user = "pguser",
      password = "pgpass")
    assert(graft.sources.Sinks.jdbcOptions(cfg, "gold.dim_account", 16) == Map(
      "url" -> "jdbc:postgresql://postgres:5432/dwh",
      "dbtable" -> "gold.dim_account",
      "user" -> "pguser",
      "password" -> "pgpass",
      "driver" -> "org.postgresql.Driver",
      "truncate" -> "true",
      "batchsize" -> "20000",
      "stringtype" -> "unspecified",
      "numPartitions" -> "16"))
    // Postgres-only properties must NOT leak to other drivers (Derby tests)
    val derby = cfg.copy(url = "jdbc:derby:/tmp/x", driver = "org.apache.derby.jdbc.EmbeddedDriver")
    assert(!graft.sources.Sinks.jdbcOptions(derby, "T", 2).contains("stringtype"))
    // per-table writer parallelism matches the reference's five load calls
    assert(GoldPipeline.DwhPartitions == Map(
      "dim_account" -> 16, "dim_person" -> 16, "bridge_account_person" -> 8,
      "dim_date" -> 8, "fact_account_snapshot" -> 16))

    val bronze = Files.createTempDirectory("graft-bronze4")
    val silver = Files.createTempDirectory("graft-silver4")
    writeFixtures(bronze)
    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    val gold = GoldPipeline.silverToGold(spark, silver.toString)
    val ddl = GoldPipeline.postgresGoldDdl(gold).toMap
    assert(ddl.keySet == GoldPipeline.DwhPartitions.keySet)
    ddl.values.foreach(s => assert(s.startsWith("CREATE TABLE gold."), s))
    // the SCD2 dim's shape through Spark's own PostgresDialect mapping:
    // surrogate key BIGINT, attributes TEXT, validity window DATE, flag BOOLEAN
    val dim = ddl("dim_account")
    Seq("\"account_sk\" BIGINT", "\"acc_no\" TEXT", "\"status\" TEXT",
      "\"type\" TEXT", "\"effective_start_date\" DATE",
      "\"effective_end_date\" DATE", "\"is_current\" BOOLEAN")
      .foreach(f => assert(dim.contains(f), s"dim_account DDL missing `$f`:\n$dim"))
    val fact = ddl("fact_account_snapshot")
    Seq("\"snapshot_date\" DATE", "\"acc_no\" TEXT", "\"account_sk\" BIGINT")
      .foreach(f => assert(fact.contains(f), s"fact DDL missing `$f`:\n$fact"))
  }

  /** Each parquet write `body` makes under `dir`: its output directory
    * name and the shuffles its executed plan ran.
    */
  private def writeShuffles(dir: java.nio.file.Path)(body: => Unit): Seq[(String, Int)] = {
    def shufflesIn(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0) +
        graft.operators.Metrics.planChildren(p).map(shufflesIn).sum
    executionsOf(body).flatMap { qe =>
      qe.logical match {
        case c: InsertIntoHadoopFsRelationCommand
            if c.outputPath.toString.contains(dir.getFileName.toString) =>
          Seq(c.outputPath.getName -> shufflesIn(qe.executedPlan))
        case _ => Nil
      }
    }
  }

  test("each silver table's write runs one shuffle, into an empty and an existing silver") {
    val bronze = Files.createTempDirectory("graft-bronze-plan")
    val silver = Files.createTempDirectory("graft-silver-plan")
    writeFixtures(bronze)
    // the sink's own repartition by the partition columns must be satisfied
    // by the merge's clustering, not planned as a second exchange
    Seq("empty", "existing").foreach { state =>
      val writes = writeShuffles(silver)(
        GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString))
      assert(writes.size == Ingest.entities.size, s"$state silver: writes seen $writes")
      writes.foreach { case (out, shuffles) =>
        assert(shuffles == 1, s"$state silver: $out planned $shuffles shuffles")
      }
    }
    // the partition-scoped merge: into a new table, then into its own output
    val accounts = Ingest.readBronze(spark, bronze.toString, Ingest.accounts)
    Seq("new", "existing").foreach { state =>
      val writes = writeShuffles(silver)(CdcMerge.mergeInto(
        s"$silver/accounts_scoped", accounts, Ingest.accounts.mergeKeys, Ingest.accounts.partitionCols))
      assert(writes.size == 1 && writes.head._2 == 1,
        s"mergeInto into a $state table: $writes")
    }
  }

  /** Every row of one silver table, columns in name order, sorted. */
  private def silverRows(silver: java.nio.file.Path, e: Ingest.Entity): Seq[String] = {
    val df = spark.read.parquet(s"$silver/${e.name}")
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
  }

  test("bronze→silver restores a partition a crashed scoped swap stranded") {
    val bronze = Files.createTempDirectory("graft-bronze-strand")
    val clean = Files.createTempDirectory("graft-silver-clean")
    val crashed = Files.createTempDirectory("graft-silver-strand")
    writeFixtures(bronze)
    Seq(clean, crashed).foreach(s => GoldPipeline.bronzeToSilver(spark, bronze.toString, s.toString))
    // a crash inside a scoped swap: one month retired, its staged
    // replacement never promoted
    val accounts = new java.io.File(s"$crashed/accounts")
    val month = accounts.listFiles().filter(_.getName.startsWith("p_ym=")).minBy(_.getName)
    assert(month.renameTo(new java.io.File(accounts, s"${month.getName}.__retired_deadbeef")))

    GoldPipeline.bronzeToSilver(spark, bronze.toString, crashed.toString)
    Ingest.entities.foreach { e =>
      assert(silverRows(crashed, e) == silverRows(clean, e), s"${e.name} differs from the uncrashed silver")
    }
    val yms = spark.read.parquet(accounts.toString).select("p_ym").distinct()
      .collect().map(_.get(0).toString)
    assert(!yms.exists(_.contains("__retired_")), s"stranded month read as a partition: ${yms.mkString(",")}")
  }

  test("bronze→silver over seeded increments equals one run over all rows; a one-month increment rewrites one month") {
    val rnd = new scala.util.Random(20220301L)
    val refFormat = java.time.format.DateTimeFormatter.ofPattern("dd-MMM-yy", java.util.Locale.ENGLISH)
    def render(d: java.time.LocalDate, iso: Boolean): String =
      if (iso) d.toString else d.format(refFormat).toLowerCase
    def pick(prefix: String, n: Int): String = s"$prefix${rnd.nextInt(n)}"
    // one delivered bronze row: its month (0 when undated) and its CSV
    // line, with the date written in the reference or the ISO format
    final case class Delivery(month: Int, line: Boolean => String, iso: Boolean)
    def dated(month: Int)(line: String => String): Delivery = {
      val d = java.time.LocalDate.of(2022, month, 1 + rnd.nextInt(28))
      Delivery(month, iso => line(render(d, iso)), rnd.nextBoolean())
    }
    val entities: Seq[(String, String, Int => Delivery)] = Seq(
      ("accounts", "Acc no,Date,Status",
        m => { val a = pick("A", 8); val s = pick("S", 3); dated(m)(d => s"$a,$d,$s") }),
      ("account_details", "Acc no,Date,type",
        m => { val a = pick("A", 8); val t = pick("T", 3); dated(m)(d => s"$a,$d,$t") }),
      ("person", "Acc no,Person",
        _ => { val l = s"${pick("A", 8)},${pick("P", 6)}"; Delivery(0, _ => l, iso = false) }),
      ("person_profile", "Person,Name,Date",
        m => { val p = pick("P", 6); val n = pick("N", 4); dated(m)(d => s"$p,$n,$d") }),
      ("person_iden", "Person,Id,Date",
        m => { val p = pick("P", 6); val i = pick("I", 4); dated(m)(d => s"$p,$i,$d") }))
    val onlyMonth = 3
    val delivered = entities.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Delivery]).toMap
    // three increments over months 1-5 in random order, the later two with
    // exact and re-formatted re-deliveries; then one that touches March only
    val increments: Seq[Map[String, Seq[String]]] = (0 to 3).map { k =>
      entities.map { case (name, _, gen) =>
        val seen = delivered(name).toIndexedSeq
        val fresh =
          if (k < 3) Seq.fill(10)(gen(1 + rnd.nextInt(5)))
          else Seq.fill(4)(gen(if (name == "person") 0 else onlyMonth))
        val again = rnd.shuffle(seen.filter(d => k < 3 || d.month == 0 || d.month == onlyMonth))
          .take(if (k == 0) 0 else 4)
        delivered(name) ++= fresh
        name -> rnd.shuffle(
          fresh.map(d => d.line(d.iso)) ++
            again.zipWithIndex.map { case (d, i) => d.line(if (i % 2 == 0) d.iso else !d.iso) })
      }.toMap
    }
    def bronzeOf(prefix: String, lines: Map[String, Seq[String]]): String = {
      val dir = Files.createTempDirectory(prefix)
      entities.foreach { case (name, header, _) =>
        Files.writeString(dir.resolve(s"$name.csv"), (header +: lines(name)).mkString("", "\n", "\n"))
      }
      dir.toString
    }
    val incremental = Files.createTempDirectory("graft-silver-inc")
    val whole = Files.createTempDirectory("graft-silver-whole")
    val partitioned = Ingest.entities.filter(_.partitionCols.nonEmpty)
    def monthFiles(): Map[(String, String), Set[String]] = partitioned.flatMap { e =>
      new java.io.File(s"$incremental/${e.name}").listFiles().filter(_.isDirectory).map { d =>
        (e.name, d.getName) -> d.list().filter(_.endsWith(".parquet")).toSet
      }
    }.toMap

    increments.init.zipWithIndex.foreach { case (inc, k) =>
      GoldPipeline.bronzeToSilver(spark, bronzeOf(s"graft-bronze-inc$k", inc), incremental.toString)
    }
    val before = monthFiles()
    val march = f"p_ym=2022$onlyMonth%02d"
    partitioned.foreach(e => assert(before.contains(e.name -> march), s"fixture: ${e.name} has no $march"))
    GoldPipeline.bronzeToSilver(spark, bronzeOf("graft-bronze-inc3", increments.last), incremental.toString)
    val after = monthFiles()
    GoldPipeline.bronzeToSilver(spark,
      bronzeOf("graft-bronze-all", entities.map(en => en._1 -> increments.flatMap(_(en._1))).toMap),
      whole.toString)

    Ingest.entities.foreach { e =>
      assert(silverRows(incremental, e) == silverRows(whole, e),
        s"${e.name}: incremental silver differs from one merge over all rows")
    }
    assert(after.keySet == before.keySet)
    before.foreach { case (key @ (name, month), files) =>
      if (month == march) assert(after(key) != files, s"$name/$month: the touched month was not rewritten")
      else assert(after(key) == files, s"$name/$month was rewritten by a March-only increment")
    }
  }

  test("a p_bucket-partitioned person silver migrates to the flat layout on the next merge") {
    val bronze = Files.createTempDirectory("graft-bronze-legacy")
    val silver = Files.createTempDirectory("graft-silver-legacy")
    writeFixtures(bronze)
    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    // the person table as the 64-way hash-bucketed layout wrote it
    val personDir = s"$silver/person"
    Ingest.readBronze(spark, bronze.toString, Ingest.person)
      .dropDuplicates("acc_no", "person")
      .withColumn("p_bucket", pmod(xxhash64(col("acc_no")), lit(64)))
      .write.mode("overwrite").partitionBy("p_bucket").parquet(personDir)
    def links(): Set[(String, String)] = spark.read.parquet(personDir)
      .select("acc_no", "person").collect().map(r => (r.getString(0), r.getString(1))).toSet
    def bridge(): Set[Seq[Any]] = GoldPipeline.silverToGold(spark, silver.toString)
      .bridgeAccountPerson.collect().map(_.toSeq).toSet
    val legacyLinks = links()
    val legacyBridge = bridge()
    assert(new java.io.File(personDir).listFiles().exists(_.getName.startsWith("p_bucket=")))

    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    assert(spark.read.parquet(personDir).columns.toSeq == Seq("acc_no", "person"))
    assert(!new java.io.File(personDir).listFiles().exists(_.isDirectory),
      "the migrated person table must have no hive directories")
    assert(links() == legacyLinks)
    assert(bridge() == legacyBridge)
  }

  test("loadToDwh pins dim_account for the fact's range join and releases it on every exit") {
    val bronze = Files.createTempDirectory("graft-bronze-pin")
    val silver = Files.createTempDirectory("graft-silver-pin")
    writeFixtures(bronze)
    GoldPipeline.bronzeToSilver(spark, bronze.toString, silver.toString)
    val gold = GoldPipeline.silverToGold(spark, silver.toString)
    def nothingCached(): Unit = GoldPipeline.dwhTables(gold).foreach { case (name, df) =>
      assert(df.storageLevel == StorageLevel.NONE, s"$name still cached")
    }

    val qes = executionsOf(GoldPipeline.loadToDwh(gold, derbyConfig("graft-dwh-pin"), numPartitions = 2))
    val factRuns = qes.filter(_.optimizedPlan.exists(_.output.exists(_.name == "snapshot_date")))
    assert(factRuns.nonEmpty, "the fact load's execution must be seen")
    factRuns.foreach { qe =>
      val dimFromCache = qe.optimizedPlan.exists {
        case r: InMemoryRelation => r.output.exists(_.name == "effective_start_date")
        case _ => false
      }
      assert(dimFromCache, s"the fact must read dim_account from the pin:\n${qe.optimizedPlan}")
    }
    nothingCached()

    // a fact table the load cannot write into: the load throws after
    // dim_account is pinned and loaded, and the pin is still released
    val failing = derbyConfig("graft-dwh-pin-fail")
    Class.forName(failing.driver)
    val conn = java.sql.DriverManager.getConnection(failing.url)
    try conn.createStatement().execute("CREATE TABLE fact_account_snapshot (unrelated INT)")
    finally conn.close()
    intercept[Exception](GoldPipeline.loadToDwh(gold, failing, numPartitions = 2))
    nothingCached()
  }
}
