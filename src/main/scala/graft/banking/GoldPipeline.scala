package graft.banking

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Caches, CdcMerge, Gold, Scd2}
import graft.sources.Sinks

/** The full medallion pipeline of the reference, Spark-first.
  *
  * Bronze CSV → Silver parquet (CDC full-history merge) →
  * Gold star schema: dim_account + dim_person (SCD2), dim_date, bridge,
  * fact_account_snapshot (range join). Reference entry points:
  * bronze_to_silver.py (ingest+merge), gold_sql_to_postgres.py (gold build).
  */
object GoldPipeline {

  /** Bronze → Silver for every entity (reference: bronze_to_silver.py:175-207):
    * each entity's bronze batch lands through [[CdcMerge.mergeInto]], which
    * states the recovery and the two routes. Over standing silver only the
    * `p_ym` months the batch touches are rewritten. The merge reads the
    * silver path it rewrites, so every route swaps staged output in — a
    * plain overwrite throws "Cannot overwrite a path that is also being
    * read from" (the reference's merge_full_history has that exact flaw).
    */
  def bronzeToSilver(spark: SparkSession, bronzeDir: String, silverDir: String): Unit =
    Ingest.entities.foreach { e =>
      CdcMerge.mergeInto(s"$silverDir/${e.name}",
        Ingest.readBronze(spark, bronzeDir, e), e.mergeKeys, e.partitionCols)
    }

  final case class GoldTables(
      dimAccount: DataFrame,
      dimPerson: DataFrame,
      dimDate: DataFrame,
      bridgeAccountPerson: DataFrame,
      factAccountSnapshot: DataFrame)

  /** Silver → Gold (reference: gold_sql_to_postgres.py:67-195).
    * `faithfulNulls = true` reproduces the reference's null-unsafe change
    * predicate (needed for golden-file parity — SURVEY.md §7.4#1).
    */
  def silverToGold(
      spark: SparkSession,
      silverDir: String,
      processYm: Option[String] = None,
      faithfulNulls: Boolean = true): GoldTables = {

    def silver(name: String): DataFrame = {
      val df = spark.read.parquet(s"$silverDir/$name")
      // Optional single-month partition prune (reference: gold_sql_to_postgres.py:46-50).
      processYm match {
        case Some(ym) if df.columns.contains("p_ym") => df.where(col("p_ym") === ym)
        case _ => df
      }
    }

    val accounts = silver("accounts")
    val accountDetails = silver("account_details")
    val person = silver("person")
    val personProfile = silver("person_profile")
    val personIden = silver("person_iden")

    // --- dim_date: union the date columns, distinct (reference :67-79) ---
    val dimDate = Gold.dimDate(Seq(
      accounts -> "date", accountDetails -> "date",
      personProfile -> "date", personIden -> "date"))

    // --- dim_account: broadcast-left enrich + SCD2 (reference :82-125) ---
    val accountTimeline = Gold.enrichTimeline(
      accounts.select("acc_no", "date", "status"),
      accountDetails.select("acc_no", "date", "type"),
      Seq("acc_no", "date"))
    val dimAccountCore = Scd2.build(
      accountTimeline,
      Scd2.Config(Seq("acc_no"), "date", Seq("status", "type"), nullSafe = !faithfulNulls))
    val dimAccount = Scd2
      .withHashSk(dimAccountCore, "account_sk", Seq("acc_no"))
      .select("account_sk", "acc_no", "status", "type",
        "effective_start_date", "effective_end_date", "is_current")

    // --- dim_person: full-outer timeline + SCD2 (reference :128-171) ---
    val personTimeline = Gold.mergeTimelines(
      personProfile.select("person", "date", "name"),
      personIden.select("person", "date", "id"),
      Seq("person", "date"))
    val dimPersonCore = Scd2.build(
      personTimeline,
      Scd2.Config(Seq("person"), "date", Seq("name", "id"), nullSafe = !faithfulNulls))
    val dimPerson = Scd2
      .withHashSk(dimPersonCore, "person_sk", Seq("person"))
      .select("person_sk", "person", "name", "id",
        "effective_start_date", "effective_end_date", "is_current")

    // --- bridge: distinct M:N pairs (reference :174-176) ---
    val bridgeDf = Gold.bridge(person, Seq("acc_no", "person"))

    // --- fact: distinct (date, acc_no) base → range-join SK (reference :179-195) ---
    val factBase = accounts
      .select(col("date").as("snapshot_date"), col("acc_no"))
      .distinct()
    val fact = Gold.snapshotFact(
      factBase, dimAccount, Seq("acc_no"), "snapshot_date", "account_sk")

    GoldTables(dimAccount, dimPerson, dimDate, bridgeDf, fact)
  }

  /** Names the DWH tables in reference order (gold_sql_to_postgres.py:
    * 199-203): dims first, bridge BEFORE dim_date, fact last.
    */
  def dwhTables(gold: GoldTables): Seq[(String, DataFrame)] = Seq(
    "dim_account" -> gold.dimAccount,
    "dim_person" -> gold.dimPerson,
    "bridge_account_person" -> gold.bridgeAccountPerson,
    "dim_date" -> gold.dimDate,
    "fact_account_snapshot" -> gold.factAccountSnapshot)

  /** Per-table JDBC writer parallelism from the reference's load calls
    * (gold_sql_to_postgres.py:199-203): the big SCD2 dims and the fact
    * load on 16 connections, the small bridge/date tables on 8.
    */
  val DwhPartitions: Map[String, Int] = Map(
    "dim_account" -> 16,
    "dim_person" -> 16,
    "bridge_account_person" -> 8,
    "dim_date" -> 8,
    "fact_account_snapshot" -> 16)

  /** The Postgres-dialect CREATE TABLE statements for the five gold
    * tables under the reference's `gold` schema — what the reference's
    * overwrite-with-truncate load (reference: gold_sql_to_postgres.py)
    * relies on existing server-side. Spec-
    * pinned (no live Postgres in tests; [[Sinks.jdbcDdl]] runs Spark's
    * own PostgresDialect type mapping).
    */
  def postgresGoldDdl(
      gold: GoldTables,
      url: String = "jdbc:postgresql://postgres:5432/dwh",
      schema: String = "gold"): Seq[(String, String)] =
    dwhTables(gold).map { case (name, df) =>
      name -> Sinks.jdbcDdl(url, s"$schema.$name", df)
    }

  /** Gold → DWH: the reference's production act is five sequential JDBC
    * bulk loads (gold_sql_to_postgres.py:199-203, Postgres). Same act here
    * against any JDBC target (embedded Derby in tests). Each load is a
    * truncate-preserving overwrite (see [[Sinks.writeJdbc]]), so DDL the
    * DBA added out-of-band (indexes, grants) survives the nightly reload.
    *
    * Each table's plan runs once per load: [[Sinks.writeJdbc]]
    * repartitions, so the JDBC writers read one shuffle. The one plan read
    * twice is dim_account — loaded itself, then the fact's range join
    * reads it — so it alone is pinned, for the whole load, and released on
    * every exit path.
    */
  def loadToDwh(
      gold: GoldTables,
      cfg: Sinks.JdbcConfig,
      numPartitions: Int = 0): Unit = Caches.scoped {
    Caches.pin(gold.dimAccount)
    dwhTables(gold).foreach { case (name, df) =>
      // numPartitions <= 0 → the reference's per-table parallelism
      // ([[DwhPartitions]]); a positive override applies to every table
      // (tests size it to the local session).
      val parts = if (numPartitions > 0) numPartitions else DwhPartitions(name)
      Sinks.writeJdbc(df, cfg, name, parts)
    }
  }
}
