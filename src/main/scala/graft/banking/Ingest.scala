package graft.banking

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.dates
import graft.sources.CsvSource

/** Bronze → Silver normalization per entity
  * (reference: bronze_to_silver.py:110-173): rename/project, multi-format
  * date parse, not-null key filter, yyyyMM partition key.
  */
object Ingest {

  /** One bronze entity's silver contract. Each of `partitionCols` is a
    * function of `mergeKeys`, which lets the CDC merge cluster on the
    * partition columns (see [[graft.operators.CdcMerge.mergeFullHistory]]).
    */
  final case class Entity(
      name: String,
      schema: org.apache.spark.sql.types.StructType,
      normalize: DataFrame => DataFrame,
      mergeKeys: Seq[String],
      partitionCols: Seq[String])

  private def clean(df: DataFrame, renames: Seq[(String, String)], dateCol: Option[String],
      keyCols: Seq[String], withYm: Boolean): DataFrame = {
    val renamed = renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    val dated = dateCol.fold(renamed)(c => renamed.withColumn(c, dates.parseDateMulti(col(c))))
    val filtered = dated.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val ymd = if (withYm) filtered.withColumn("p_ym", dates.ym(col(dateCol.get))) else filtered
    ymd
  }

  val accounts: Entity = Entity(
    "accounts", Schemas.accounts,
    df => clean(df, Seq("Acc no" -> "acc_no", "Date" -> "date", "Status" -> "status"),
      Some("date"), Seq("acc_no", "date", "status"), withYm = true)
      .select("acc_no", "date", "status", "p_ym"),
    mergeKeys = Seq("acc_no", "date", "status"),
    partitionCols = Seq("p_ym"))

  val accountDetails: Entity = Entity(
    "account_details", Schemas.accountDetails,
    df => clean(df, Seq("Acc no" -> "acc_no", "Date" -> "date"),
      Some("date"), Seq("acc_no", "date", "type"), withYm = true)
      .select("acc_no", "date", "type", "p_ym"),
    mergeKeys = Seq("acc_no", "date", "type"),
    partitionCols = Seq("p_ym"))

  val person: Entity = Entity(
    "person", Schemas.person,
    df => clean(df, Seq("Acc no" -> "acc_no", "Person" -> "person"),
      None, Seq("acc_no", "person"), withYm = false)
      .select("acc_no", "person"),
    // Unpartitioned: gold reads the link table whole (the bridge's
    // distinct pairs), so no read prunes on a partition column, and hive
    // directories would only multiply the files a write makes and a read
    // lists.
    mergeKeys = Seq("acc_no", "person"),
    partitionCols = Nil)

  val personProfile: Entity = Entity(
    "person_profile", Schemas.personProfile,
    df => clean(df, Seq("Person" -> "person", "Name" -> "name", "Date" -> "date"),
      Some("date"), Seq("person", "date", "name"), withYm = true)
      .select("person", "name", "date", "p_ym"),
    mergeKeys = Seq("person", "date", "name"),
    partitionCols = Seq("p_ym"))

  val personIden: Entity = Entity(
    "person_iden", Schemas.personIden,
    df => clean(df, Seq("Person" -> "person", "Id" -> "id", "Date" -> "date"),
      Some("date"), Seq("person", "id", "date"), withYm = true)
      .select("person", "id", "date", "p_ym"),
    mergeKeys = Seq("person", "id", "date"),
    partitionCols = Seq("p_ym"))

  val entities: Seq[Entity] =
    Seq(accounts, accountDetails, person, personProfile, personIden)

  def readBronze(spark: SparkSession, bronzeDir: String, e: Entity): DataFrame =
    e.normalize(CsvSource.read(spark, s"$bronzeDir/${e.name}.csv", e.schema))
}
