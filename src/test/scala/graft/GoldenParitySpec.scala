package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.banking.GoldPipeline

/** Parity against the reference's OWN golden outputs: run the full
  * medallion pipeline on the reference's bronze sample CSVs in
  * faithful-nulls mode and compare every gold table to the golden
  * exports.
  *
  * With the reference checkout present (reference: data/bronze_samples/
  * and exports/gold_csv/ — SURVEY.md §5.3) the pipeline reads its bronze
  * samples and every table is compared to the committed export. Without
  * it, the pipeline reads the copy of those samples under
  * `src/test/resources/bronze_samples` (FIXTURES.md §1) and each table is
  * checked against what FIXTURES.md §3 records of the exports: the row
  * counts and the rows it lists, nothing more.
  *
  * Surrogate keys are excluded (the reference's monotonically_increasing_id
  * is partition-encoded and non-deterministic — SURVEY.md §7.4#2); the
  * fact↔dim SK relationship is compared structurally instead.
  *
  * This exercises the reference's nastiest semantics end-to-end: the
  * null-unsafe change predicate (person Z's 04-01 id-only change row is
  * dropped because name and id are both NULL-compared), lowercase dd-MMM-yy
  * dates, and the 9999-12-31 open sentinel.
  */
class GoldenParitySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val refBronze = "/root/reference/data/bronze_samples"
  private val refGold = "/root/reference/exports/gold_csv"

  private val reference: Boolean =
    Files.isDirectory(Paths.get(refBronze)) && Files.isDirectory(Paths.get(refGold))

  private def bronzeDir: String =
    if (reference) refBronze
    else Paths.get(getClass.getResource("/bronze_samples").toURI).toString

  private def golden(name: String): DataFrame =
    spark.read.option("header", "true").csv(s"$refGold/$name.csv")

  /** FIXTURES.md §3: the gold row counts and the rows it lists, SKs
    * dropped, dates as `yyyy-MM-dd`, `is_current` as `true`/`false`.
    */
  private object Section3 {
    val rows: Map[String, Long] = Map(
      "dim_account" -> 3L, "dim_person" -> 4L, "dim_date" -> 4L,
      "bridge_account_person" -> 3L, "fact_account_snapshot" -> 3L)
    val dimAccount: Set[Seq[String]] = Set(
      Seq("123", "Active", "CC", "2022-01-01", "2022-02-28", "false"),
      Seq("123", "In Active", "CC", "2022-03-01", "9999-12-31", "true"),
      Seq("456", "Active", "Loan", "2022-02-01", "9999-12-31", "true"))
    val dimPersonZ: Set[Seq[String]] = Set(
      Seq("Z", "Rana", "ID3 (NID)", "2022-02-01", "2022-02-28", "false"),
      Seq("Z", "Rana Ali", null, "2022-03-01", "9999-12-31", "true"))
    val dimDate: Set[Seq[String]] =
      Set("2022-01-01", "2022-02-01", "2022-03-01", "2022-04-01").map(Seq(_))
  }

  private lazy val gold: GoldPipeline.GoldTables = {
    val silver = Files.createTempDirectory("golden-silver")
    GoldPipeline.bronzeToSilver(spark, bronzeDir, silver.toString)
    GoldPipeline.silverToGold(spark, silver.toString, faithfulNulls = true)
  }

  private def asSet(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).map(_.toList: Seq[String]).toSet

  private def dimAccountRows(df: DataFrame): Set[Seq[String]] = asSet(df.select(
    col("acc_no"), col("status"), col("type"),
    col("effective_start_date").cast("string"),
    col("effective_end_date").cast("string"),
    col("is_current").cast("string")))

  private def dimPersonRows(df: DataFrame): Set[Seq[String]] = asSet(df.select(
    col("person"), col("name"), col("id"),
    col("effective_start_date").cast("string"),
    col("effective_end_date").cast("string"),
    col("is_current").cast("string")))

  private def goldenDimAccount: Set[Seq[String]] = asSet(golden("dim_account").select(
    col("acc_no"), col("status"), col("type"),
    col("effective_start_date"), col("effective_end_date"),
    // reference CSV exports postgres-style t/f booleans
    when(col("is_current") === "t", "true").otherwise("false")))

  private def goldenDimPerson: Set[Seq[String]] = asSet(golden("dim_person").select(
    col("person"), col("name"), col("id"),
    col("effective_start_date"), col("effective_end_date"),
    when(col("is_current") === "t", "true").otherwise("false")))

  /** (snapshot_date, acc_no, start of the dim_account version the fact's
    * SK names) per fact row.
    */
  private def factLinks(fact: DataFrame, dimAccount: DataFrame, cast: Boolean): Set[Seq[String]] = {
    def s(c: String) = if (cast) col(c).cast("string") else col(c)
    asSet(fact.alias("f")
      .join(dimAccount.alias("d"), col("f.account_sk") === col("d.account_sk"))
      .select(s("f.snapshot_date"), col("f.acc_no"), s("d.effective_start_date")))
  }

  private def assertDimAccount(df: DataFrame): Unit =
    if (reference) assert(dimAccountRows(df) == goldenDimAccount)
    else {
      assert(df.count() === Section3.rows("dim_account"))
      assert(dimAccountRows(df) == Section3.dimAccount)
    }

  private def assertDimPerson(df: DataFrame): Unit =
    if (reference) assert(dimPersonRows(df) == goldenDimPerson)
    else {
      assert(df.count() === Section3.rows("dim_person"))
      // filtered after the collect: a warehouse copy would push the
      // predicate into its CLOB column
      assert(dimPersonRows(df).filter(_.head == "Z") == Section3.dimPersonZ)
    }

  private def assertDimDateAndBridge(dimDate: DataFrame, bridge: DataFrame): Unit = {
    val dates = asSet(dimDate.select(col("dt").cast("string")))
    if (reference) {
      assert(dates == asSet(golden("dim_date")))
      assert(asSet(bridge) == asSet(golden("bridge_account_person")))
    } else {
      assert(dimDate.count() === Section3.rows("dim_date"))
      assert(dates == Section3.dimDate)
      assert(bridge.count() === Section3.rows("bridge_account_person"))
    }
  }

  /** Each (snapshot_date, acc_no) resolves to the dim_account version
    * whose interval contains the date (the range join).
    */
  private def assertFact(fact: DataFrame, dimAccount: DataFrame): Unit =
    if (reference)
      assert(factLinks(fact, dimAccount, cast = true) ==
        factLinks(golden("fact_account_snapshot"), golden("dim_account"), cast = false))
    else {
      assert(fact.count() === Section3.rows("fact_account_snapshot"))
      val linked = fact.alias("f")
        .join(dimAccount.alias("d"), col("f.account_sk") === col("d.account_sk"))
        .where(col("f.acc_no") === col("d.acc_no") &&
          col("f.snapshot_date").between(col("d.effective_start_date"), col("d.effective_end_date")))
      assert(linked.count() === Section3.rows("fact_account_snapshot"),
        "every fact row must name the version containing its date")
    }

  test("dim_account matches the committed golden export (modulo SK)") {
    assertDimAccount(gold.dimAccount)
  }

  test("dim_person matches, including the null-unsafe dropped 04-01 row") {
    assertDimPerson(gold.dimPerson)
    // the id-only change on 2022-04-01 must NOT create a version (faithful mode)
    assert(!dimPersonRows(gold.dimPerson).exists(_.contains("2022-04-01")))
  }

  test("dim_date and bridge match") {
    assertDimDateAndBridge(gold.dimDate, gold.bridgeAccountPerson)
  }

  test("DWH round-trip: gold loaded to Derby and re-read still matches the golden exports") {
    // The last inch of end-to-end parity: the reference's production act
    // is five JDBC loads (reference: gold_sql_to_postgres.py:199-203) and
    // its golden CSVs were exported from the LOADED warehouse — so parity
    // should hold against what comes back OUT of the DWH, not only the
    // in-Spark frames (types squeeze through JDBC DDL on the way).
    val dbDir = Files.createTempDirectory("golden-dwh").toString + "/db"
    val cfg = graft.sources.Sinks.JdbcConfig(
      url = s"jdbc:derby:$dbDir;create=true",
      user = "app",
      password = "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      batchSize = 100)
    GoldPipeline.loadToDwh(gold, cfg, numPartitions = 2)
    def readBack(table: String): DataFrame = spark.read.format("jdbc")
      .option("url", cfg.url).option("dbtable", table)
      .option("driver", cfg.driver).load()

    // dims + bridge on business keys/intervals (SK excluded as above)
    assertDimAccount(readBack("dim_account"))
    assertDimPerson(readBack("dim_person"))
    assertDimDateAndBridge(readBack("dim_date"), readBack("bridge_account_person"))
    // fact structurally, with the join resolved INSIDE the warehouse copy
    assertFact(readBack("fact_account_snapshot"), readBack("dim_account"))
  }

  test("fact matches structurally: same (snapshot, account) → same dim version") {
    assertFact(gold.factAccountSnapshot, gold.dimAccount)
  }
}
