package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.dates

/** Generic SCD Type-2 dimension builder.
  *
  * Re-expresses the reference's two-pass window pattern (reference:
  * gold_sql_to_postgres.py:94-125 for dim_account, :140-171 for dim_person —
  * identical shape, so one function serves both):
  *
  *   1. LAG each tracked attribute per business key ordered by change date,
  *      keep rows where any tracked attribute changed (or the first row).
  *   2. LEAD the surviving start dates to close each interval:
  *      end = next_start - 1 day, open rows get the 9999-12-31 sentinel;
  *      is_current = next_start IS NULL.
  *
  * Both passes share one Window partitioning → ONE hash exchange on the
  * business key feeds both sorts; at scale this is a single shuffle of the
  * timeline, no joins, no driver round-trips.
  *
  * Change predicate modes (SURVEY.md §7.4):
  * - `nullSafe = false` reproduces the reference's predicate
  *   (`attr <> prev_attr`), which misses NULL↔value transitions unless
  *   another attribute changed too (reference: gold_sql_to_postgres.py:114,160).
  * - `nullSafe = true` (default) uses null-safe inequality (`NOT (a <=> b)`).
  *
  * Surrogate keys: the reference uses `monotonically_increasing_id()`
  * (non-deterministic, partition-encoded — gold_sql_to_postgres.py:118,164).
  * `withSurrogateKey` offers that plus a deterministic, shuffle-free
  * alternative (xxhash64 of key+start) suitable for reproducible tests and
  * idempotent reloads at 100 TB (no global row_number sort bottleneck).
  */
object Scd2 {

  final case class Config(
      keyCols: Seq[String],
      orderCol: String,
      trackedCols: Seq[String],
      tieBreakCols: Seq[String] = Nil,
      nullSafe: Boolean = true)

  def build(timeline: DataFrame, cfg: Config): DataFrame = {
    val orderCols = (cfg.orderCol +: cfg.tieBreakCols).map(col)
    val w = Window.partitionBy(cfg.keyCols.map(col): _*).orderBy(orderCols: _*)

    val withPrev = cfg.trackedCols.foldLeft(
      // Explicit first-row marker: lag of a constant is NULL only on the
      // partition's first row. Testing `__prev_attr IS NULL` instead would
      // silently drop a key whose first row has every tracked attribute
      // NULL (NULL <=> NULL is true, so "changed" never fires and the key
      // vanishes from the dimension).
      timeline.withColumn("__first", lag(lit(1), 1).over(w).isNull)) { (df, c) =>
      df.withColumn(s"__prev_$c", lag(col(c), 1).over(w))
    }

    val attrChanged: Column =
      if (cfg.nullSafe)
        cfg.trackedCols.map(c => !(col(c) <=> col(s"__prev_$c"))).reduce(_ || _)
      else
        // Faithful to the reference predicate shape (reference:
        // gold_sql_to_postgres.py:115,160): `prev_<first> IS NULL OR
        // attr1 <> prev1 OR attr2 <> prev2` — the IS NULL guard exists on
        // the FIRST tracked attribute only (a first-row test that also
        // fires mid-timeline when the previous first-attr was NULL); the
        // other attributes get plain null-unsafe `<>`, which is what drops
        // e.g. person Z's id-only 04-01 change in the golden outputs.
        col(s"__prev_${cfg.trackedCols.head}").isNull ||
          cfg.trackedCols.map(c => col(c) =!= col(s"__prev_$c")).reduce(_ || _)

    val stg = withPrev
      .filter(col("__first") || attrChanged)
      .withColumn("effective_start_date", col(cfg.orderCol))

    val w2 = Window
      .partitionBy(cfg.keyCols.map(col): _*)
      .orderBy((col("effective_start_date") +: cfg.tieBreakCols.map(col)): _*)
    val nextStart = lead(col("effective_start_date"), 1).over(w2)

    stg
      .withColumn("effective_end_date", coalesce(date_sub(nextStart, 1), dates.HighDate))
      .withColumn("is_current", nextStart.isNull)
      .drop("__first")
      .drop(cfg.trackedCols.map(c => s"__prev_$c"): _*)
  }

  /** Deterministic SK: hash of business key + interval start. No shuffle,
    * no global sort, stable across reruns — the scalable choice.
    */
  def withHashSk(dim: DataFrame, skName: String, keyCols: Seq[String]): DataFrame =
    dim.withColumn(
      skName,
      xxhash64((keyCols.map(col) :+ col("effective_start_date")): _*))
}
