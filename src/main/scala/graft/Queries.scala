package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}
import graft.operators.{AnnIndex, AsofJoin, CdcMerge, Dedup, DedupIndex, Embeddings, Gold, Multimodal, Quality, Scd2, Sessionize, Similarity}
import graft.sources.Tables

/** The engine's query catalog: one named query per operator from
  * SURVEY.md §2 (plus the large-scale training-data extras), each over the
  * driver's synthetic testdata tables, each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible.
  *
  * Determinism rules (driver hash-compares against DuckDB):
  *  - money sums go through decimal(18,2) then cast to double (exact in
  *    both engines, order-independent);
  *  - timestamps are never emitted raw — always cast to date or epoch
  *    seconds (the events table is nanos; Spark reads micros);
  *  - every window has a total order (explicit tiebreak column);
  *  - aggregate/computed columns are aliased identically in both dialects;
  *  - gate-face OUTPUT columns are BIGINT/DOUBLE/VARCHAR/DATE/BOOL — never
  *    DECIMAL (the driver's hasher coerces decimals asymmetrically between
  *    its Spark-parquet read and its DuckDB fetch: q136/q138–q140 sat red
  *    two rounds on bit-identical values) and never ARRAY (unhashable).
  *    Internal decimal arithmetic stays; project through [[loudBigint]]
  *    (or cast to string when the value can genuinely exceed long at
  *    scale). Verify.assertHashableSchema enforces this at dump time.
  */
object Queries {

  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      headline: Boolean = false)

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def sumMoney(c: Column): Column = sum(dec(c)).cast("double")

  /** Gate-face BIGINT projection of an internally-DECIMAL value (catalog
    * header rule): out-of-range values raise loudly instead of wrapping
    * or nulling — a gate value that no longer fits a long means the face
    * must switch to a VARCHAR projection (the q136 checksum choice), not
    * silently lie. The oracle side mirrors with CAST(... AS BIGINT),
    * which DuckDB also range-checks loudly.
    */
  private def loudBigint(c: Column): Column = {
    val lo = lit("-9223372036854775808").cast("decimal(38,0)")
    val hi = lit("9223372036854775807").cast("decimal(38,0)")
    when(c.isNull, lit(null).cast("long"))
      .when(c < lo || c > hi,
        raise_error(concat(lit("gate-face value overflows BIGINT: "), c.cast("string")))
          .cast("long"))
      .otherwise(c.cast("long"))
  }

  // ===========================================================
  // Relational core (SURVEY.md §2.1–§2.8 over the TPC-H-ish tables)
  // ===========================================================

  /** A-agg flagship: grouped sums/avgs with filter pushdown (A5/A6-style). */
  val q01PricingSummary: Q = Q(
    "q01_pricing_summary",
    (s, dir) => {
      val l = t(s, dir, "lineitem").where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             AVG(l_quantity) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
             COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      GROUP BY l_returnflag, l_linestatus"""),
    headline = true)

  /** S2+P2: predicate/projection pushdown to the parquet scan. */
  val q02FilterPushdown: Q = Q(
    "q02_filter_pushdown",
    (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") && col("l_discount") > 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_shipdate").cast("date").as("ship_date")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_discount > 0.05"""))

  /** J1: broadcast LEFT equi-join + aggregation. */
  val q03BroadcastJoinAgg: Q = Q(
    "q03_broadcast_join_agg",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      Gold.enrichTimeline(
        o.withColumnRenamed("o_custkey", "c_custkey"),
        c.select("c_custkey", "c_mktsegment"),
        Seq("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("num_orders"), sumMoney(col("o_totalprice")).as("revenue"))
    },
    Some("""
      SELECT c_mktsegment,
             COUNT(*) AS num_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment"""),
    headline = true)

  /** J2: FULL OUTER merge of two change streams with coalesced keys. */
  val q04FullouterTimeline: Q = Q(
    "q04_fullouter_timeline",
    (s, dir) => {
      val e = t(s, dir, "events")
      def side(kind: String, vAlias: String, nAlias: String) =
        e.where(col("event_type") === kind)
          .groupBy(col("user_id"), col("ts").cast("date").as("d"))
          .agg(sumMoney(col("value")).as(vAlias), count(lit(1)).as(nAlias))
      Gold.mergeTimelines(
        side("purchase", "purchase_value", "n_purchases"),
        side("click", "click_value", "n_clicks"),
        Seq("user_id", "d"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value,
               COUNT(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      c AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value,
               COUNT(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      SELECT COALESCE(p.user_id, c.user_id) AS user_id,
             COALESCE(p.d, c.d) AS d,
             p.purchase_value, p.n_purchases, c.click_value, c.n_clicks
      FROM p FULL OUTER JOIN c ON p.user_id = c.user_id AND p.d = c.d"""))

  private def scd2OrdersDim(s: SparkSession, dir: String): DataFrame = {
    val timeline = t(s, dir, "orders").select(
      col("o_custkey"),
      col("o_orderdate").cast("date").as("change_date"),
      col("o_orderstatus"),
      col("o_orderkey"))
    Scd2.build(
      timeline,
      Scd2.Config(
        keyCols = Seq("o_custkey"),
        orderCol = "change_date",
        trackedCols = Seq("o_orderstatus"),
        tieBreakCols = Seq("o_orderkey"),
        nullSafe = true))
  }

  private val scd2OracleCte: String = """
      WITH tl AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS change_date, o_orderstatus, o_orderkey
        FROM orders),
      ch AS (
        SELECT *, lag(o_orderstatus) OVER w AS prev, lag(1) OVER w IS NULL AS is_first
        FROM tl WINDOW w AS (PARTITION BY o_custkey ORDER BY change_date, o_orderkey)),
      st AS (
        SELECT o_custkey, o_orderstatus, change_date AS effective_start_date, o_orderkey
        FROM ch WHERE is_first OR o_orderstatus IS DISTINCT FROM prev),
      fin AS (
        SELECT o_custkey, o_orderstatus, effective_start_date,
               COALESCE(CAST(lead(effective_start_date) OVER (PARTITION BY o_custkey ORDER BY effective_start_date, o_orderkey) - INTERVAL 1 DAY AS DATE), DATE '9999-12-31') AS effective_end_date,
               lead(effective_start_date) OVER (PARTITION BY o_custkey ORDER BY effective_start_date, o_orderkey) IS NULL AS is_current
        FROM st)"""

  /** W1+W2+P6: the SCD2 core (LAG change-detect, LEAD interval close). */
  val q05Scd2Dim: Q = Q(
    "q05_scd2_dim",
    (s, dir) =>
      scd2OrdersDim(s, dir).select(
        "o_custkey", "o_orderstatus", "effective_start_date", "effective_end_date", "is_current"),
    Some(scd2OracleCte + """
      SELECT o_custkey, o_orderstatus, effective_start_date, effective_end_date, is_current
      FROM fin"""),
    headline = true)

  /** J3: point-in-interval range join (snapshot fact ↔ SCD2 dim). */
  val q06SnapshotFact: Q = Q(
    "q06_snapshot_fact",
    (s, dir) => {
      val factBase = t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("snapshot_date"), col("o_custkey"))
        .distinct()
      val dim = scd2OrdersDim(s, dir).withColumn("version_start", col("effective_start_date"))
      Gold.snapshotFact(factBase, dim, Seq("o_custkey"), "snapshot_date", "version_start")
    },
    Some(scd2OracleCte + """,
      fb AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS snapshot_date, o_custkey FROM orders)
      SELECT fb.snapshot_date, fb.o_custkey, fin.effective_start_date AS version_start
      FROM fb LEFT JOIN fin
        ON fb.o_custkey = fin.o_custkey
       AND fb.snapshot_date BETWEEN fin.effective_start_date AND fin.effective_end_date"""),
    headline = true)

  /** U1+A1: union-all date columns from several tables, distinct. */
  val q07DimDate: Q = Q(
    "q07_dim_date",
    (s, dir) =>
      Gold.dimDate(Seq(
        t(s, dir, "orders") -> "o_orderdate",
        t(s, dir, "lineitem") -> "l_shipdate",
        t(s, dir, "events") -> "ts")),
    Some("""
      SELECT DISTINCT dt FROM (
        SELECT CAST(o_orderdate AS DATE) AS dt FROM orders
        UNION ALL SELECT CAST(l_shipdate AS DATE) FROM lineitem
        UNION ALL SELECT CAST(ts AS DATE) FROM events)
      WHERE dt IS NOT NULL"""))

  /** U2+A2: batch CDC merge — overlapping extracts union'd and dedup'd. */
  val q08CdcMerge: Q = Q(
    "q08_cdc_merge",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("date").as("event_date"), col("value"))
      val extract1 = e.where(col("event_id") % 3 =!= 0)
      val extract2 = e.where(col("event_id") % 2 === 0)
      CdcMerge.mergeFullHistory(Some(extract1), extract2, Seq("event_id"))
    },
    Some("""
      SELECT DISTINCT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date, value
      FROM (
        SELECT * FROM events WHERE event_id % 3 <> 0
        UNION ALL SELECT * FROM events WHERE event_id % 2 = 0)"""))

  /** A3: duplicate-key detector (quality harness). */
  val q09DupKeyDetector: Q = Q(
    "q09_dup_key_detector",
    (s, dir) => Quality.duplicateKeys(t(s, dir, "lineitem"), Seq("l_orderkey")),
    Some("""
      SELECT l_orderkey, COUNT(*) AS dup_count
      FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1"""))

  /** A4+A5: one-pass table profile (counts, distinct keys, date range). */
  val q10QualityProfile: Q = Q(
    "q10_quality_profile",
    (s, dir) => Quality.profile(t(s, dir, "orders"), Seq("o_orderkey"), "o_orderdate"),
    Some("""
      SELECT COUNT(*) AS row_count,
             COUNT(DISTINCT o_orderkey) AS distinct_keys,
             MIN(CAST(o_orderdate AS DATE)) AS min_date,
             MAX(CAST(o_orderdate AS DATE)) AS max_date
      FROM orders"""))

  /** A4/A5 generalized: one-pass column-level profile (null fraction,
    * approx distinct, min/max per column). Approx sketch → no oracle;
    * SaltQualitySpec asserts the stats.
    */
  val q10bColumnProfile: Q = Q(
    "q10b_column_profile",
    (s, dir) => Quality.columnProfile(t(s, dir, "orders")),
    None)

  /** The exact half of q10b, oracle-gated: per-column null fraction and
    * min/max (as strings) without the HLL sketch — only the sketch column
    * is legitimately oracle-less.
    */
  val q10cColumnProfileExact: Q = Q(
    "q10c_column_profile_exact",
    (s, dir) => Quality.columnProfile(t(s, dir, "orders"), withApproxDistinct = false),
    Some {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name,
            CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_fraction,
            CAST(MIN($c) AS VARCHAR) AS min_value, CAST(MAX($c) AS VARCHAR) AS max_value
            FROM orders"""
      }.mkString("\nUNION ALL\n")
    })

  /** Skew-mitigated join: explicit key salting. Result must be identical
    * to the plain join — the oracle IS the unsalted join.
    */
  val q13bSaltedJoin: Q = Q(
    "q13b_salted_join",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.operators.Salt.saltedJoin(o, c, Seq("c_custkey"), saltFactor = 8, joinType = "left")
    },
    Some("""
      SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey"""))

  /** Bloom-prefiltered join: semi-join reduction ahead of the exchange.
    * No false negatives → the oracle is the plain inner join.
    */
  val q13cBloomJoin: Q = Q(
    "q13c_bloom_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val bigOrders = t(s, dir, "orders")
        .where(col("o_totalprice") > 400000.0)
        .select("o_orderkey", "o_totalprice")
      graft.operators.BloomJoin.prefilteredJoin(li, bigOrders, "o_orderkey")
    },
    Some("""
      SELECT l_orderkey AS o_orderkey, l_quantity, o_totalprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 400000.0"""))

  /** O1/O3: global top-k with total-order tiebreak. */
  val q11TopK: Q = Q(
    "q11_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  /** F1+F2: multi-format date parsing (reference coalesce order) + yyyyMM. */
  val q12MultiformatDates: Q = Q(
    "q12_multiformat_dates",
    (s, dir) => {
      val d = col("ts").cast("date")
      val raw = when(col("event_id") % 4 === 0, date_format(d, "dd-MMM-yy"))
        .when(col("event_id") % 4 === 1, date_format(d, "yyyy-MM-dd"))
        .when(col("event_id") % 4 === 2, date_format(d, "dd/MM/yyyy"))
        .otherwise(date_format(d, "MM/dd/yyyy"))
      t(s, dir, "events")
        .select(col("event_id"), raw.as("raw"))
        .withColumn("parsed", graft.functions.dates.parseDateMulti(col("raw")))
        .withColumn("p_ym", graft.functions.dates.ym(col("parsed")))
    },
    Some("""
      WITH r AS (
        SELECT event_id,
               CASE CAST(event_id % 4 AS INTEGER)
                 WHEN 0 THEN strftime(CAST(ts AS DATE), '%d-%b-%y')
                 WHEN 1 THEN strftime(CAST(ts AS DATE), '%Y-%m-%d')
                 WHEN 2 THEN strftime(CAST(ts AS DATE), '%d/%m/%Y')
                 ELSE strftime(CAST(ts AS DATE), '%m/%d/%Y') END AS raw
        FROM events)
      SELECT event_id, raw,
             CAST(COALESCE(try_strptime(raw, '%d-%b-%y'), try_strptime(raw, '%Y-%m-%d'),
                           try_strptime(raw, '%d/%m/%Y'), try_strptime(raw, '%m/%d/%Y')) AS DATE) AS parsed,
             strftime(CAST(COALESCE(try_strptime(raw, '%d-%b-%y'), try_strptime(raw, '%Y-%m-%d'),
                           try_strptime(raw, '%d/%m/%Y'), try_strptime(raw, '%m/%d/%Y')) AS DATE), '%Y%m') AS p_ym
      FROM r"""))

  /** J4: left-semi join. */
  val q13SemiJoin: Q = Q(
    "q13_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi").select("c_custkey", "c_name")
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  /** J4: left-anti join. */
  val q14AntiJoin: Q = Q(
    "q14_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti").select("c_custkey", "c_name")
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  /** W3: ranked window (top-3 orders per customer). */
  val q15WindowRank: Q = Q(
    "q15_window_rank",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3"""))

  /** Custom physical operator: bounded-heap top-k per key (logical node +
    * planner strategy + exec; partial map-side pruning before the
    * exchange). Same semantics as q15's window form — same oracle.
    */
  val q15bTopkNative: Q = Q(
    "q15b_topk_native",
    (s, dir) =>
      graft.plans.TopK.perKey(
        t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3),
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3"""))

  /** U3: EXCEPT. */
  val q16Except: Q = Q(
    "q16_except",
    (s, dir) =>
      t(s, dir, "customer").select("c_custkey")
        .except(t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))),
    Some("SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders"))

  /** U3: INTERSECT. */
  val q17Intersect: Q = Q(
    "q17_intersect",
    (s, dir) =>
      t(s, dir, "customer").select("c_custkey")
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))),
    Some("SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders"))

  /** U3 generalized: multiset EXCEPT ALL (duplicates preserved). */
  val q16bExceptAll: Q = Q(
    "q16b_except_all",
    (s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"))
        .exceptAll(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"))),
    Some("SELECT l_orderkey FROM lineitem EXCEPT ALL SELECT o_orderkey FROM orders"))

  /** U3 generalized: multiset INTERSECT ALL. */
  val q17bIntersectAll: Q = Q(
    "q17b_intersect_all",
    (s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"))
        .intersectAll(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"))),
    Some("SELECT l_orderkey FROM lineitem INTERSECT ALL SELECT o_orderkey FROM orders"))

  /** Stateful-shape batch op: gap-based sessionization + per-session rollup. */
  val q18Sessionize: Q = Q(
    "q18_sessionize",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("sec", expr("ts_ns div 1000000000"))
      Sessionize.sessionStats(e, "user_id", "sec", "event_id", "value", gapSeconds = 1800L)
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec, value FROM events),
      l AS (
        SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e),
      f AS (
        SELECT *, CASE WHEN sec - prev > 1800 THEN 1 ELSE 0 END AS ns FROM l),
      sx AS (
        SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM f)
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             MIN(sec) AS session_start_sec, MAX(sec) AS session_end_sec,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sx GROUP BY user_id, session_idx"""),
    headline = true)

  /** A6 generalized: ROLLUP grouping sets (per-group, per-flag, grand total). */
  val q19Rollup: Q = Q(
    "q19_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).cast("double").as("sum_qty"), count(lit(1)).as("n_rows")),
    Some("""
      SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n_rows
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""))

  /** A6 generalized: CUBE grouping sets (all 4 grouping combinations). */
  val q19Cube: Q = Q(
    "q19_cube",
    (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).cast("double").as("sum_qty"), count(lit(1)).as("n_rows")),
    Some("""
      SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n_rows
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""))

  /** W3 generalized: explicit ROWS frames — running total + 3-row moving avg. */
  val q19WindowFrames: Q = Q(
    "q19_window_frames",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w3 = w.rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        sum(dec(col("o_totalprice"))).over(wRun).cast("double").as("running_spend"),
        (sum(dec(col("o_totalprice"))).over(w3).cast("double") /
          count(lit(1)).over(w3)).as("avg3"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w1 AS DOUBLE) AS running_spend,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE) / COUNT(*) OVER w3 AS avg3
      FROM orders
      WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING),
             w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"""))

  /** Pivot: long→wide reshape (explicit value list keeps columns stable). */
  val q19Pivot: Q = Q(
    "q19_pivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O", "P"))
        .agg(sum(col("l_quantity")).cast("double"))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o", "P" -> "qty_p")),
    Some("""
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE) AS qty_f,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS DOUBLE) AS qty_o,
             CAST(SUM(CASE WHEN l_linestatus = 'P' THEN l_quantity END) AS DOUBLE) AS qty_p
      FROM lineitem GROUP BY l_returnflag"""))

  /** W3 generalized: ntile quartiles per group. */
  val q19Ntile: Q = Q(
    "q19_ntile",
    (s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice"),
        ntile(4).over(w).as("quartile"))
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders"""))

  // ===========================================================
  // Training-data pipeline: text analysis
  // ===========================================================

  /** Token statistics: whitespace + subword counts, mean token length. */
  val q20TokenStats: Q = Q(
    "q20_token_stats",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"),
        text.subwordCount(col("text")).cast("long").as("n_subwords"),
        text.meanTokenLen(col("text")).as("mean_token_len")),
    Some("""
      SELECT doc_id,
             CAST(length(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens,
             CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_subwords,
             CAST(list_sum(list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0), x -> length(x))) AS DOUBLE)
               / length(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS mean_token_len
      FROM documents"""))

  /** Quality scoring: length / punctuation / stopword ratios. */
  val q21QualityScore: Q = Q(
    "q21_quality_score",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        text.punctRatio(col("text")).as("punct_ratio"),
        text.stopwordRatio(col("text")).as("stopword_ratio")),
    Some("""
      WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tk
        FROM documents)
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_actual,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN length(tk) = 0 THEN 0.0
                  ELSE CAST(length(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS DOUBLE) / length(tk) END AS stopword_ratio
      FROM toks"""))

  /** Language ID: argmax stopword-hit heuristic. */
  val q22LangId: Q = Q(
    "q22_lang_id",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        text.langId(col("text")).as("detected_lang")),
    Some {
      val hitExpr = text.langStopwords.map { case (lang, stop) =>
        val inList = stop.map(w => s"'$w'").mkString(",")
        s"length(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> length(x) > 0), x -> x IN ($inList))) AS ${lang}_hits"
      }.mkString(",\n               ")
      s"""
      WITH h AS (
        SELECT doc_id,
               $hitExpr
        FROM documents),
      m AS (SELECT *, greatest(en_hits, es_hits, fr_hits, de_hits) AS mx FROM h)
      SELECT doc_id,
             CASE WHEN mx = 0 THEN 'und'
                  WHEN en_hits = mx THEN 'en'
                  WHEN es_hits = mx THEN 'es'
                  WHEN fr_hits = mx THEN 'fr'
                  ELSE 'de' END AS detected_lang
      FROM m"""
    })

  /** Canonical-text MD5 fingerprint. */
  val q23Fingerprint: Q = Q(
    "q23_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        text.fingerprintMd5(col("text")).as("fingerprint")),
    Some("""
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents"""))

  /** Exact dedup groups: canonical hash → keeper id + copy count. */
  val q24ExactDedup: Q = Q(
    "q24_exact_dedup",
    (s, dir) => Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id"),
    Some("""
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
             MIN(doc_id) AS keeper_id, COUNT(*) AS copies
      FROM documents GROUP BY 1"""))

  /** Corpus-wide term frequency: tokenize, explode, count, top 20. */
  val q28TermFreq: Q = Q(
    "q28_term_freq",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(text.tokens(lower(col("text")))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20),
    Some("""
      SELECT term, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0)) AS term
        FROM documents)
      GROUP BY term ORDER BY n DESC, term LIMIT 20"""))

  /** Exact token-set Jaccard between consecutive documents — the
    * SQL-expressible corner of n-gram similarity, oracle-checked (the
    * banded k-shingle pipeline in q25 has no ANSI equivalent).
    */
  val q29TokenJaccard: Q = Q(
    "q29_token_jaccard",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(text.tokens(lower(col("text")))).as("tk"))
      val a = d.select(col("doc_id").as("id_a"), col("tk").as("tk_a"))
      val b = d.select(col("doc_id").as("id_b"), col("tk").as("tk_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(
          col("id_a"),
          col("id_b"),
          when(size(array_union(col("tk_a"), col("tk_b"))) === 0, lit(0.0))
            .otherwise(
              size(array_intersect(col("tk_a"), col("tk_b"))).cast("double") /
                size(array_union(col("tk_a"), col("tk_b"))).cast("double"))
            .as("jaccard"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0)) AS tk
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CASE WHEN len(list_distinct(a.tk || b.tk)) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(list_distinct(a.tk || b.tk)) END AS jaccard
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1"""))

  /** Corpus with planted near-duplicates (first token dropped) — the shared
    * input for the near-dup detection queries below. Mutated copies get
    * doc_id + 1,000,000.
    *
    * NULL texts are dropped BEFORE planting, symmetrically with the
    * `WHERE text IS NOT NULL` in every oracle corpus CTE: mutating a NULL
    * doc yields `""` in Spark (concat_ws skips nulls) but NULL in DuckDB
    * (array_to_string(NULL) is NULL), so a NULL-text fixture would
    * otherwise put a signature-0 ghost doc on only one face of the gate.
    */
  private[graft] def corpusWithPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text").where(col("text").isNotNull)
    val toks = text.tokens(col("text"))
    val mutated = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        // length = size(toks), NOT Int.MaxValue: slice clamps start+length
        // with int arithmetic, and the overflow path differs between codegen
        // and interpreted eval — fused plans silently produced "" here.
        concat_ws(" ", slice(toks, lit(2), size(toks))).as("text"))
    docs.unionByName(mutated)
  }

  /** MinHash+LSH near-dup candidates, exact-Jaccard verified. */
  val q25MinhashDedup: Q = Q(
    "q25_minhash_dedup",
    (s, dir) =>
      Dedup.minHashDedupPairs(
        corpusWithPlantedDups(s, dir), "text", "doc_id",
        numPerm = 64, bands = 16, threshold = 0.5),
    None, // banded-LSH candidate generation is not ANSI-SQL-expressible
    headline = true)

  /** Near-dup clustering: LSH pairs → connected components → one keeper
    * per duplicate group (the transitive closure pairs alone can't give).
    */
  val q25bDupClusters: Q = Q(
    "q25b_dup_clusters",
    (s, dir) =>
      Dedup.dedupByClusters(
        corpusWithPlantedDups(s, dir), "text", "doc_id",
        numPerm = 64, bands = 16, threshold = 0.5),
    None)

  /** The planted near-dup corpus, shared by every oracle that rebuilds
    * [[corpusWithPlantedDups]] (q25c/q25d/q26c/q110).
    */
  private val plantedCorpusCte = """
      corpus AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)[2:], ' ') AS text
        FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL)"""

  /** Shared DuckDB CTE prefix for the exact-Jaccard oracles (q25c, q25d):
    * planted corpus → shingle sets → inverted index → shared counts →
    * set sizes. One definition so the pair ground truth and the clustering
    * oracle can never drift apart.
    */
  private val exactJaccardCtes = """
      d AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM corpus),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
        FROM d),
      inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
      shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, len(sh) AS n FROM sh)"""

  /** EXACT near-dup ground truth: inverted-index all-pairs k-shingle
    * Jaccard at the same threshold as q25 — recall = 1 by construction
    * (any pair with Jaccard > 0 shares a shingle), no hashing anywhere, so
    * DuckDB reproduces it bit-for-bit. This oracle-gates the near-dup
    * family: DedupSpec asserts q25's LSH pipeline emits a SUBSET of these
    * pairs (precision 1.0) with bounded recall loss.
    */
  val q25cJaccardPairsExact: Q = Q(
    "q25c_jaccard_pairs_exact",
    (s, dir) =>
      Dedup.exactJaccardPairs(
        corpusWithPlantedDups(s, dir), "text", "doc_id",
        shingleK = 3, threshold = 0.5),
    Some(s"""
      WITH $plantedCorpusCte, $exactJaccardCtes
      SELECT s.id_a, s.id_b,
             CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) AS jaccard
      FROM shared s
      JOIN sz sa ON sa.doc_id = s.id_a
      JOIN sz sb ON sb.doc_id = s.id_b
      WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5"""))

  /** Duplicate-group clustering over the EXACT pair set (q25c): GraphX
    * connected components, oracle-gated — DuckDB rebuilds the components
    * with a recursive transitive-closure CTE and labels each vertex with
    * the component minimum, which is exactly GraphX's labeling.
    */
  val q25dClustersExact: Q = Q(
    "q25d_clusters_exact",
    (s, dir) =>
      Dedup.duplicateClusters(
        Dedup.exactJaccardPairs(
          corpusWithPlantedDups(s, dir), "text", "doc_id",
          shingleK = 3, threshold = 0.5)),
    Some(s"""
      WITH RECURSIVE $plantedCorpusCte, $exactJaccardCtes,
      pairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5),
      und AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT s, t FROM und
        UNION
        SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s WHERE u.t <> r.s)
      SELECT s AS id, LEAST(s, MIN(t)) AS cluster FROM reach GROUP BY s"""))

  /** The STREAMING incremental-components ingest's batch face
    * ([[graft.streaming.Streams.dupClusterIngest]], VERDICT r14 item 5):
    * the exact-Jaccard pair set (q25c's, already oracle-gated) streams in
    * as TWO micro-batches split by `(id_a + id_b) % 2` — a split that
    * guarantees chains straddle batches, forcing the touched-component
    * star-expansion merge path — and the FINAL persisted state must equal
    * whole-graph connected components computed in one shot: q25d's
    * recursive-CTE oracle verbatim, `component` for `cluster`. Agreement
    * pins exactly the streaming-specific machinery: state read-modify-
    * write atomicity, touched-component selection, star-edge expansion,
    * and min-id label preservation across incremental merges. The pair
    * collect is the MemoryStream fixture; production feeds a real pair
    * stream.
    */
  val q25eDupClusterIngest: Q = Q(
    "q25e_dup_cluster_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_ccingest").toString
      val pairs = Dedup.exactJaccardPairs(
        corpusWithPlantedDups(s, dir), "text", "doc_id",
        shingleK = 3, threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      val (b1, b2) = pairs.partition { case (a, b) => (a + b) % 2 == 0 }
      val input = MemoryStream[(Long, Long)]
      val query = graft.streaming.Streams.dupClusterIngest(
        input.toDF().toDF("id_a", "id_b"), "id_a", "id_b", s"$root/state")
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/state").select("id", "component")
    },
    Some(s"""
      WITH RECURSIVE $plantedCorpusCte, $exactJaccardCtes,
      pairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5),
      und AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT s, t FROM und
        UNION
        SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s WHERE u.t <> r.s)
      SELECT s AS id, LEAST(s, MIN(t)) AS component FROM reach GROUP BY s"""))

  /** SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures). The
    * explicit cap exercises the production hot-bucket path; at this corpus
    * no bucket exceeds it, so the result equals the exact default.
    */
  val q26SimhashPairs: Q = Q(
    "q26_simhash_pairs",
    (s, dir) => Dedup.simHashPairs(corpusWithPlantedDups(s, dir), "text", "doc_id",
      maxBucket = 256),
    None)

  /** The 63-bit linear-simhash signature chain over `corpus` (q26c and
    * q110's shared rebuild): tokenize → byte polynomials → linear spread
    * → per-bit majority vote → packed (lo, hi) signature halves.
    */
  private val simhashSigCtes = """
      tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS w
        FROM corpus WHERE text IS NOT NULL),
      hb AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 31 + b) % 2147483647) AS p1,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 131 + b) % 2147483647) AS p2
        FROM tok),
      h AS (
        SELECT doc_id,
               (1103515245 * p1 + 12345) % 2147483647 AS base1,
               (1103515245 * p2 + 54321) % 2147483647 AS base2
        FROM hb),
      votes AS (
        SELECT doc_id, j.j AS bit,
               SUM(CASE WHEN ((base1 + j.j * base2 + 11) % 2147483647) * 2 < 2147483647 THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN range(0, 63) AS j(j)
        GROUP BY doc_id, j.j),
      sig AS (
        SELECT c.doc_id,
               COALESCE(SUM(CASE WHEN v.bit < 32 AND v.v > 0 THEN (CAST(1 AS BIGINT) << CAST(v.bit AS INT)) ELSE 0 END), 0) AS lo,
               COALESCE(SUM(CASE WHEN v.bit >= 32 AND v.v > 0 THEN (CAST(1 AS BIGINT) << CAST(v.bit - 32 AS INT)) ELSE 0 END), 0) AS hi
        FROM corpus c LEFT JOIN votes v ON v.doc_id = c.doc_id
        WHERE c.text IS NOT NULL
        GROUP BY c.doc_id)"""

  /** EXACT all-pairs hamming ground truth for the SimHash family, ORACLE-
    * GATED via the injectable token hash ([[graft.operators.Dedup.linearTokenHash]]
    * — the q85/q48c move applied per token): DuckDB rebuilds the byte-
    * polynomial base hash, the 63-bit linear spread, the per-bit majority
    * vote, the packed signature, and the all-pairs hamming ≤ 3 join from
    * the raw planted corpus. Agreement means tokenization, UTF-8 byte
    * extraction, the [[graft.expressions.SimHashExpr]] vote matrix
    * (ties → 0, empty docs → sig 0), and the hamming comparison are ALL
    * faithful. The production xxhash face keeps its own exactness law in
    * DedupSpec (banded q26 == driver-side all-pairs), and the banded
    * fast path under THIS hash is spec-asserted equal to this query
    * (pigeonhole is hash-agnostic).
    */
  val q26cSimhashPairsExact: Q = Q(
    "q26c_simhash_pairs_exact",
    (s, dir) => Dedup.simHashPairsExact(corpusWithPlantedDups(s, dir), "text", "doc_id",
      tokenHash = Dedup.linearTokenHash(_, seed = 11L)),
    Some(s"""
      WITH $plantedCorpusCte, $simhashSigCtes
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""))

  /** Rolling-hash document fingerprint (min shingle hash, winnowing-style).
    * NULL/empty-token docs are filtered identically on both q27 faces and
    * in the q27c oracle: a NULL text fingerprints to NULL in Spark but is
    * dropped by DuckDB's unnest, and a whitespace-only doc hashes the `""`
    * shingle differently (Spark's bit test nulls to fp 0, DuckDB to a
    * nonzero polynomial) — neither doc has a meaningful fingerprint, so
    * both faces exclude them rather than pin an arbitrary value.
    */
  val q27RollingFingerprint: Q = Q(
    "q27_rolling_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .where(col("text").isNotNull && size(text.tokens(col("text"))) > 0)
        .select(
          col("doc_id"),
          text.rollingFingerprint(col("text")).as("rolling_fp")),
    None) // xxhash64 has no DuckDB equivalent; q27c is the oracle face

  /** ORACLE-GATED q27 twin via the injectable shingle hash
    * ([[graft.operators.Dedup.linearTokenHash]] over the shingle STRING):
    * DuckDB rebuilds word 3-shingles, the double byte-polynomial 63-bit
    * spread, the packed hash, and the per-document min. Agreement gates
    * the SHARED machinery — tokenize, shingle window (incl. the <k
    * whole-doc-shingle branch), and min-winnowing — end to end; only the
    * hash family differs from the production q27 face.
    */
  val q27cRollingFingerprintLinear: Q = Q(
    "q27c_rolling_fingerprint_linear",
    (s, dir) =>
      t(s, dir, "documents")
        .where(col("text").isNotNull && size(text.tokens(col("text"))) > 0)
        .select(
          col("doc_id"),
          text.rollingFingerprint(col("text"),
            hash = Dedup.linearTokenHash(_, seed = 11L)).as("rolling_fp")),
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents
        WHERE text IS NOT NULL
          AND len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) > 0),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS sh
        FROM tok),
      s AS (SELECT doc_id, unnest(sh) AS w FROM sh),
      hb AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 31 + b) % 2147483647) AS p1,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 131 + b) % 2147483647) AS p2
        FROM s),
      hx AS (
        SELECT doc_id,
               (1103515245 * p1 + 12345) % 2147483647 AS base1,
               (1103515245 * p2 + 54321) % 2147483647 AS base2
        FROM hb),
      packed AS (
        SELECT doc_id,
               list_reduce(list_transform(range(0, 63),
                 j -> CASE WHEN (base1 + j * base2 + 11) % 2147483647 * 2 < 2147483647
                           THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END),
                 (a, b) -> a + b) AS h
        FROM hx)
      SELECT doc_id, MIN(h) AS rolling_fp FROM packed GROUP BY doc_id"""))

  /** Sequence-packing primitive for training shards: global running token
    * total in doc_id order and the ~10k-token shard each document lands in.
    * The running sum is the two-phase distributed prefix sum
    * ([[graft.operators.Partitioning.runningSum]]) — never the
    * single-partition `Window.orderBy` that the naive form uses.
    */
  val q43TokenShards: Q = Q(
    "q43_token_shards",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Partitioning.runningSum(d, "doc_id", "n_tokens", "cum_tokens")
        // greatest(...,1): a zero-token prefix gives cum_tokens = 0, where
        // Spark's `div` truncates toward zero but DuckDB's `//` floors
        // (0 vs -1) — clamp so both engines agree and shard stays >= 0
        .withColumn("shard", expr("(greatest(cum_tokens, 1L) - 1) div 10000"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
        FROM d)
      SELECT doc_id, n_tokens, cum_tokens, (greatest(cum_tokens, CAST(1 AS BIGINT)) - 1) // 10000 AS shard FROM c"""))

  /** Gopher-style within-document repetition ratio: fraction of word
    * 2-shingles that are repeats — the standard boilerplate/keyword-stuffing
    * quality signal.
    */
  val q34Repetition: Q = Q(
    "q34_repetition_ratio",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        text.repetitionRatio(col("text"), k = 2).as("rep_ratio")),
    Some("""
      WITH d AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) END AS sh
        FROM d)
      SELECT doc_id,
             CASE WHEN len(sh) <= 1 THEN 0.0
                  ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) END AS rep_ratio
      FROM sh"""))

  /** PII redaction: email + phone scrubbing with typed placeholders. The
    * corpus is salted with synthetic deterministic PII in-query (the raw
    * documents have none), so the oracle exercises real replacements, not
    * the identity path.
    */
  val q35PiiRedact: Q = Q(
    "q35_pii_redact",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        text.redactPii(
          concat(
            col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or +1 (555) 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .as("redacted")),
    Some(s"""
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || doc_id || '@example.com or +1 (555) 010-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                 '${text.emailPattern}', '<EMAIL>', 'g'),
               '${text.phonePattern}', '<PHONE>', 'g') AS redacted
      FROM documents"""))

  // ===========================================================
  // Training-data pipeline: embeddings / similarity search
  // ===========================================================

  /** Brute-force exact cosine top-k against one query vector. */
  val q30CosineTopK: Q = Q(
    "q30_cosine_topk",
    (s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 20),
    None, // float summation order differs across engines; q30c is the oracle face
    headline = true)

  /** ORACLE-GATED exact twin for the one-query ANN family (q30/q31/q33):
    * [[Similarity.bruteForceTopKExactInt]] quantizes components to
    * integers, so dot/norm² are exact longs (no summation-order noise to
    * absorb) and DuckDB reproduces the top-k set AND values bit-for-bit —
    * the q65c pattern applied to the brute-force probe. Agreement gates
    * the whole shared scoring shape: broadcast 1-row query, per-row
    * zip_with/aggregate fold, cosine ranking with id tie-break, bounded
    * top-k. SimilaritySpec additionally pins this twin's id set against
    * the float q30 face, and q31/q33 keep their in-query planted-recall
    * floors.
    */
  val q30cCosineTopkExact: Q = Q(
    "q30c_cosine_topk_exact",
    (s, dir) =>
      Similarity.bruteForceTopKExactInt(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 20),
    Some("""
      WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings),
      q AS (SELECT iv AS qv FROM iv WHERE vec_id = 0),
      d AS (
        SELECT i.vec_id,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(i.iv AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM iv i CROSS JOIN q
        WHERE i.vec_id <> 0)
      SELECT vec_id, dot, norm2
      FROM d
      ORDER BY CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END DESC,
               vec_id
      LIMIT 20"""))

  /** Five positive-scaled near-copies of the query vector (ids
    * 2000000+i): cosine to the query is 1.0 up to float32 rounding, so
    * they are the unambiguous true top neighbors ANY correct ANN must
    * recall — the q65 planted-copy contract, made local to the one-query
    * probes q31/q33.
    */
  private def embWithPlantedQueryCopies(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val copies = (1 to 5).map { i =>
      emb.where(col("vec_id") === 0L).select(
        lit(2000000L + i).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.0f + i * 0.0001f)).cast("float"))
          .as("embedding"))
    }.reduce(_.unionByName(_))
    emb.unionByName(copies)
  }

  /** Recall floor INSIDE the catalog entry (loud failure, the q65
    * pattern at catalog level): at least `floor` of the 5 planted
    * query-copies must appear in the top-k, else the query itself
    * throws — a silent-recall regression cannot produce a green row.
    * The collect is k rows, driver-bounded.
    */
  private def requirePlantedRecall(res: DataFrame, name: String, floor: Int): DataFrame = {
    // ONE execution of the full LSH/IVF pipeline: collect the k result
    // rows (driver-bounded by contract), gate on them, and hand the
    // harness a LOCAL relation of the same rows — returning `res` itself
    // would re-run centroid training + probe when the harness executes it.
    val rows = res.collect()
    val got = rows.map(r => r.getAs[Number](r.fieldIndex("vec_id")).longValue()).toSet
    val hits = (1 to 5).count(i => got.contains(2000000L + i))
    require(hits >= floor,
      s"$name planted-recall floor violated: $hits/5 planted query-copies in top-k (need >= $floor)")
    res.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  /** LSH-bucketed approximate nearest neighbors (the scale path).
    * Self-checking: positive scaling preserves every random-hyperplane
    * sign, so the planted colinear copies land in the query's own
    * bucket — the probe must recall them (floor 4 of 5 tolerates one
    * float32-rounding sign flip).
    */
  val q31AnnLsh: Q = Q(
    "q31_ann_lsh",
    (s, dir) =>
      requirePlantedRecall(
        Similarity.lshTopK(embWithPlantedQueryCopies(s, dir), "vec_id", "embedding",
          queryId = 0L, k = 20),
        "q31_ann_lsh", floor = 4),
    None)

  /** IVF-style ANN: coarse-quantized inverted file, nprobe-cell search.
    * Self-checking: colinear planted copies quantize to the query's own
    * coarse cell, which nprobe always includes — same floor as q31.
    */
  val q33AnnIvf: Q = Q(
    "q33_ann_ivf",
    (s, dir) =>
      requirePlantedRecall(
        Similarity.ivfTopK(embWithPlantedQueryCopies(s, dir), "vec_id", "embedding",
          queryId = 0L, k = 20),
        "q33_ann_ivf", floor = 4),
    None)

  /** ORACLE-GATED LSH probe twin (closes the r11 "only no-twin rows"
    * item): [[Similarity.lshTopKExactInt]] — the q31 plan shape (banded
    * signatures, broadcast query, any-band candidate union, cosine
    * top-k) with the injectable INTEGER hyperplane family, so DuckDB
    * rebuilds BUCKET MEMBERSHIP exactly (every sign test is an exact
    * long), then ranks candidates by the same exact-int cosine as q30c.
    * The approximate q31 face keeps its planted-recall floor; this row
    * gates the probe mechanics end to end.
    */
  val q31cAnnLshExact: Q = Q(
    "q31c_ann_lsh_exact",
    (s, dir) =>
      Similarity.lshTopKExactInt(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 20),
    Some("""
      WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings),
      planes AS (
        SELECT b, j,
               list_transform(range(0, 64), i -> (1103515245 * ((b*8 + j)*64 + i) + 12345) % 2048 - 1024) AS p
        FROM range(0, 8) tb(b), range(0, 8) tj(j)),
      sigs AS (
        SELECT iv.vec_id, p.b AS band,
               SUM(CASE WHEN list_dot_product(CAST(iv.iv AS DOUBLE[]), CAST(p.p AS DOUBLE[])) >= 0
                        THEN 1 << p.j ELSE 0 END) AS sig
        FROM iv CROSS JOIN planes p
        GROUP BY iv.vec_id, p.b),
      qs AS (SELECT band, sig FROM sigs WHERE vec_id = 0),
      cand AS (
        SELECT DISTINCT s.vec_id
        FROM sigs s JOIN qs ON s.band = qs.band AND s.sig = qs.sig
        WHERE s.vec_id <> 0),
      qv AS (SELECT iv FROM iv WHERE vec_id = 0),
      d AS (
        SELECT i.vec_id,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(qv.iv AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(i.iv AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(qv.iv AS DOUBLE[]), CAST(qv.iv AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM iv i JOIN cand USING (vec_id) CROSS JOIN qv)
      SELECT vec_id, dot, norm2
      FROM d
      ORDER BY CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END DESC,
               vec_id
      LIMIT 20"""))

  /** ORACLE-GATED IVF probe twin: [[Similarity.ivfTopKExactInt]] — the
    * q33 plan shape (cell assignment, nprobe nearest cells, in-cell
    * brute force) with the injectable INTEGER centroid family, so DuckDB
    * rebuilds the ASSIGNMENT and the PROBED-CELL SET exactly (distances
    * are exact longs, ties break on the lower cell), then ranks by the
    * q30c exact-int cosine.
    */
  val q33cAnnIvfExact: Q = Q(
    "q33c_ann_ivf_exact",
    (s, dir) =>
      Similarity.ivfTopKExactInt(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 20),
    Some("""
      WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings),
      cents AS (
        SELECT c, list_transform(range(0, 64), i -> (48271 * (c*64 + i) + 11) % 1024 - 512) AS cent
        FROM range(0, 16) tc(c)),
      dist AS (
        SELECT iv.vec_id, c.c,
               CAST(list_dot_product(CAST(iv.iv AS DOUBLE[]), CAST(iv.iv AS DOUBLE[]))
                  - 2 * list_dot_product(CAST(iv.iv AS DOUBLE[]), CAST(c.cent AS DOUBLE[]))
                  + list_dot_product(CAST(c.cent AS DOUBLE[]), CAST(c.cent AS DOUBLE[])) AS BIGINT) AS d2
        FROM iv CROSS JOIN cents c),
      asg AS (
        SELECT vec_id, c AS cell
        FROM (SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM dist)
        WHERE rn = 1),
      probes AS (SELECT c AS cell FROM dist WHERE vec_id = 0 ORDER BY d2, c LIMIT 4),
      cand AS (
        SELECT a.vec_id FROM asg a JOIN probes p ON a.cell = p.cell WHERE a.vec_id <> 0),
      qv AS (SELECT iv FROM iv WHERE vec_id = 0),
      d AS (
        SELECT i.vec_id,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(qv.iv AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(i.iv AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(qv.iv AS DOUBLE[]), CAST(qv.iv AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM iv i JOIN cand USING (vec_id) CROSS JOIN qv)
      SELECT vec_id, dot, norm2
      FROM d
      ORDER BY CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END DESC,
               vec_id
      LIMIT 20"""))

  /** Embedding-cosine near-dup pairs over a corpus with planted scaled copies. */
  val q32EmbeddingNearDup: Q = Q(
    "q32_embedding_near_dup",
    (s, dir) =>
      // explicit cap = the production hot-bucket path; no bucket exceeds
      // it at this corpus, so the result equals the exact default
      Similarity.cosineNearDupPairs(
        embWithPlantedDups(s, dir), "vec_id", "embedding", threshold = 0.99,
        maxBucket = 256),
    None)

  /** EXACT all-pairs cosine ground truth for q32, ORACLE-GATED: emits pair
    * ids only, so the DuckDB comparison is a threshold-set decision, not a
    * bitwise double match — safe because the corpus has a ~0.01 cosine
    * margin around the 0.99 threshold (no pair lands between 0.98 and the
    * planted ~1.0 copies). The float corpus construction (x * 1.001f cast
    * to float) is IEEE-754 float32 in both engines, hence bit-identical
    * inputs. SimilaritySpec asserts q32 ⊆ q32c.
    */
  val q32cEmbeddingNearDupExact: Q = Q(
    "q32c_embedding_near_dup_exact",
    (s, dir) =>
      Similarity.cosineNearDupPairsExact(
        embWithPlantedDups(s, dir), "vec_id", "embedding", threshold = 0.99),
    Some("""
      WITH base AS (SELECT vec_id, embedding FROM embeddings),
      pert AS (SELECT vec_id + 1000000 AS vec_id,
                      list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
               FROM base WHERE vec_id % 10 = 0),
      allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
            (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
             sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.99"""))

  // ===========================================================
  // Multimodal: opaque binary columns + typed metadata
  // ===========================================================

  /** Binary payload metadata (byte length + checksum) — pure SQL side. */
  val q40BinaryMeta: Q = Q(
    "q40_binary_meta",
    (s, dir) =>
      Multimodal.byteMeta(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "text"))
        .withColumn("byte_len", col("byte_len").cast("long")),
    Some("""
      SELECT doc_id AS media_id, 'text' AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             md5(text) AS md5
      FROM documents"""))

  /** REAL image decode, oracle-gated: each document id becomes a synthetic
    * PNG whose geometry is a pure function of the id, Spark runs the real
    * encode → javax.imageio decode path, and DuckDB predicts the expected
    * dimensions arithmetically — the hashes agree only if both codec
    * passes are faithful.
    */
  val q41MediaDecode: Q = Q(
    "q41_media_decode",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "image", Multimodal.syntheticPng(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.decodeImages(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(8 + doc_id % 32 AS INT) AS width,
             CAST(8 + (doc_id // 32) % 32 AS INT) AS height,
             3 AS channels
      FROM documents"""))

  /** REAL frame sampling, oracle-gated: each document id becomes a
    * synthetic animated GIF whose frame count (1 + id % 7) and geometry
    * are pure functions of the id; Spark runs the real GIF encode →
    * `ImageReader.getNumImages`/`read(i)` multi-frame decode → evenly
    * sampled frame rows, and DuckDB predicts (frame_idx, n_frames,
    * width, height) arithmetically — both codec passes must be faithful
    * for the hashes to agree (the q41 gate, extended to multi-frame).
    * The pixel hash is real decoded content, used by frame-level dedup;
    * it is projected out here because no external oracle can predict a
    * palette-quantized GIF decode.
    */
  val q42FrameSample: Q = Q(
    "q42_frame_sample",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "video", Multimodal.syntheticGif(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.frameSample(s, media, maxFrames = 4).toDF()
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(1 + doc_id % 7 AS INT) AS nf,
               CAST(8 + doc_id % 32 AS INT) AS w,
               CAST(8 + (doc_id // 32) % 32 AS INT) AS h
        FROM documents),
      f AS (
        SELECT doc_id, nf, w, h, unnest(range(0, LEAST(4, nf))) AS i FROM d)
      SELECT doc_id AS media_id,
             CAST(CASE WHEN LEAST(4, nf) <= 1 THEN 0
                       ELSE i * (nf - 1) // (LEAST(4, nf) - 1) END AS INT) AS frame_idx,
             nf AS n_frames, w AS width, h AS height
      FROM f"""))

  /** REAL audio decode, oracle-gated: each document id becomes a
    * synthetic PCM WAV whose format (sample rate, channels, sample
    * count) is a pure function of the id; Spark runs the real WAV
    * encode → `javax.sound.sampled` parse, and DuckDB predicts the
    * fields arithmetically — the q41/q42 gate extended to audio. With
    * this, every modality's metadata decode (image, frames, audio) is a
    * real JDK codec pass, not a stub.
    */
  val q91AudioDecode: Q = Q(
    "q91_audio_decode",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "audio", Multimodal.syntheticWav(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.decodeAudio(s, media).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("duration_ms"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                    WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
               CAST(1 + doc_id % 2 AS INT) AS channels,
               CAST(100 + doc_id % 400 AS BIGINT) AS n_samples
        FROM documents)
      SELECT doc_id AS media_id, sample_rate, channels, n_samples,
             n_samples * 1000 // sample_rate AS duration_ms
      FROM d"""))

  /** REAL image resize, oracle-gated on the output geometry: synthetic
    * PNGs decode, bilinear-rescale to fit maxSide=16 (some downscale,
    * small ones pass through — live witnesses on both arms), and PNG
    * re-encode, all through real JDK codecs. DuckDB predicts the out
    * dims with the same IEEE double arithmetic (`floor(x·s + 0.5)` is
    * Java's round, bit-for-bit on both engines); the re-encoded bytes
    * are real but codec-specific, so they stay out of the projection.
    */
  val q92ImageResize: Q = Q(
    "q92_image_resize",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "image", Multimodal.syntheticPng(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.resizeImages(s, media, maxSide = 16).toDF()
        .select(col("media_id"), col("src_width"), col("src_height"),
          col("out_width"), col("out_height"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 32 AS INT) AS w,
               CAST(8 + (doc_id // 32) % 32 AS INT) AS h
        FROM documents),
      sc AS (
        SELECT doc_id, w, h, LEAST(1.0, 16.0 / GREATEST(w, h)) AS s FROM d)
      SELECT doc_id AS media_id, w AS src_width, h AS src_height,
             CAST(GREATEST(1, floor(w * s + 0.5)) AS INT) AS out_width,
             CAST(GREATEST(1, floor(h * s + 0.5)) AS INT) AS out_height
      FROM sc"""))

  /** Domain balancing — the curation stage that caps overrepresented
    * sources: at most 10 docs per source, chosen by the deterministic
    * per-key reservoir ([[graft.operators.Partitioning.sampleNPerKey]],
    * riding the bounded-heap [[graft.plans.TopK]] physical plan — never
    * a full per-group sort). Production xxhash face (reproducible across
    * runs/retries/partitionings; no ANSI oracle for xxhash64); q96b is
    * the oracle face sharing every line of machinery but the draw.
    */
  val q96CapPerSource: Q = Q(
    "q96_cap_per_source",
    (s, dir) =>
      graft.operators.Partitioning
        .sampleNPerKey(t(s, dir, "documents"), "source", "doc_id", n = 10)
        .select("doc_id", "source"),
    None)

  /** ORACLE-GATED q96 twin via the injectable uniform (the q48c/q60c/
    * q88c move): the systematic `(doc_id·37 mod 1000)/1000` draw makes
    * the selected set a pure function DuckDB reproduces with a
    * row_number window — which gates the custom bounded-heap TopK
    * SparkPlan itself against an external engine (selection AND
    * tie-break order must both be faithful).
    */
  val q96bCapPerSourceSystematic: Q = Q(
    "q96b_cap_per_source_systematic",
    (s, dir) =>
      graft.operators.Partitioning
        .sampleNPerKey(t(s, dir, "documents"), "source", "doc_id", n = 10,
          uniform = Some(pmod(col("doc_id") * 37L, lit(1000L)).cast("double") / lit(1000.0)))
        .select("doc_id", "source"),
    Some("""
      WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY (doc_id * 37 % 1000) / 1000.0, doc_id) AS rn
        FROM documents)
      SELECT doc_id, source FROM r WHERE rn <= 10"""))

  /** REAL JPEG decode, oracle-gated (the q41 gate on the JDK's lossy
    * codec): each document id becomes a synthetic baseline JPEG via
    * [[graft.operators.Multimodal.syntheticJpeg]]; Spark runs real JPEG
    * encode → real `javax.imageio` decode; DuckDB predicts (width,
    * height, channels) arithmetically. JPEG pixel values are lossy but
    * geometry and band count are exact — which is why the oracle pins
    * dims, not content. Closes the round-9 stub-scope question: JPEG is
    * fully real, and round 11 retired the stub entry point entirely —
    * formats the JDK cannot decode quarantine through the real decoders.
    */
  val q95JpegDecode: Q = Q(
    "q95_jpeg_decode",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "image", Multimodal.syntheticJpeg(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.decodeImages(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(8 + doc_id % 48 AS INT) AS width,
             CAST(8 + (doc_id // 48) % 48 AS INT) AS height,
             3 AS channels
      FROM documents"""))

  /** Consecutive-duplicate-token collapse ([[text.collapseRuns]]) — the
    * stutter-cleaning stage for OCR/crawl corpora, ORACLE-GATED on both
    * the cleaned text and the drop count. Non-adjacent repeats survive
    * (language, not stutter); the synthetic corpus is dense with
    * adjacent repeats ("table table"), so witnesses are live at every
    * scale.
    */
  val q94CollapseRuns: Q = Q(
    "q94_collapse_runs",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        text.collapseRunsText(col("text")).as("text_clean"),
        (text.tokenCount(col("text")) - size(text.collapseRuns(col("text"))))
          .cast("long").as("n_tokens_dropped")),
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      k AS (
        SELECT doc_id, tk,
               list_filter(range(1, len(tk) + 1), i -> i = 1 OR tk[i] <> tk[i-1]) AS ki
        FROM d)
      SELECT doc_id,
             array_to_string(list_transform(ki, i -> tk[i]), ' ') AS text_clean,
             CAST(len(tk) - len(ki) AS BIGINT) AS n_tokens_dropped
      FROM k"""))

  /** F8 generalized: JSON extraction from a string column. */
  val q36JsonExtract: Q = Q(
    "q36_json_extract",
    (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val")),
    Some("""
      SELECT event_id, CAST(props->>'k' AS INT) AS k_val FROM events"""))

  /** A6 generalized: exact discrete quantiles + distinct count per group. */
  val q38Quantiles: Q = Q(
    "q38_quantiles",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"),
          count_distinct(col("o_custkey")).as("n_cust"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price")),
    Some("""
      SELECT o_orderstatus,
             quantile_disc(o_totalprice, 0.5) AS p50,
             quantile_disc(o_totalprice, 0.9) AS p90,
             COUNT(DISTINCT o_custkey) AS n_cust,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price
      FROM orders GROUP BY o_orderstatus"""))

  /** A6 generalized: sketch-based approximate aggregates (HLL++ distinct
    * count, approximate percentile). No oracle — DuckDB's sketches differ —
    * so the query also emits the exact values and relative-error bounds it
    * must respect; AggregatesSpec asserts them.
    */
  val q38bApproxAgg: Q = Q(
    "q38b_approx_agg",
    (s, dir) =>
      t(s, dir, "lineitem").agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        count_distinct(col("l_orderkey")).as("exact_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("exact_median")),
    None)

  /** The exact half of q38b, oracle-gated: only the sketch columns
    * (HLL, t-digest) legitimately differ from DuckDB.
    */
  val q38cExactAgg: Q = Q(
    "q38c_exact_agg",
    (s, dir) =>
      t(s, dir, "lineitem").agg(
        count_distinct(col("l_orderkey")).as("exact_orders"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("exact_median")),
    Some("""
      SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
             quantile_disc(l_extendedprice, 0.5) AS exact_median
      FROM lineitem"""))

  /** Interval join (batch face of the stream-stream operator): every
    * click paired with the same user's purchases in the preceding
    * 30 minutes. The range rides the equi-join on user_id as a filter.
    */
  val q44IntervalJoin: Q = Q(
    "q44_interval_join",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("sec", expr("ts_ns div 1000000000"))
        .withColumn("ets", expr("timestamp_seconds(sec)"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ets").as("click_ts"))
      val buys = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ets").as("buy_ts"), col("value").as("amount"))
      graft.streaming.Streams
        .intervalJoin(clicks, buys, "user_id", "click_ts", "buy_ts", "30 minutes", "0 seconds")
        .select(
          col("click_id"), col("user_id"),
          expr("unix_timestamp(click_ts)").as("click_sec"),
          expr("unix_timestamp(buy_ts)").as("buy_sec"),
          col("amount"))
    },
    Some("""
      WITH c AS (
        SELECT event_id AS click_id, user_id, epoch_ns(ts) // 1000000000 AS click_sec
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS buy_sec, value AS amount
        FROM events WHERE event_type = 'purchase')
      SELECT c.click_id, c.user_id, c.click_sec, p.buy_sec, p.amount
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.buy_sec >= c.click_sec - 1800 AND p.buy_sec <= c.click_sec"""))

  /** As-of join: each click picks up the latest same-or-earlier purchase
    * value of the same user (union + running window — no join node).
    */
  val q39AsofJoin: Q = Q(
    "q39_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events").withColumn("sec", expr("ts_ns div 1000000000"))
      val purchases = e
        .where(col("event_type") === "purchase")
        .groupBy("user_id", "sec")
        .agg(max(col("value")).as("last_purchase_value"))
      val clicks = e
        .where(col("event_type") === "click")
        .select("event_id", "user_id", "sec")
      AsofJoin
        .lastValueJoin(clicks, purchases, Seq("user_id"), "sec", Seq("last_purchase_value"))
        .select("event_id", "user_id", "sec", "last_purchase_value")
    },
    Some("""
      WITH p AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, MAX(value) AS last_purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      c AS (
        SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS sec
        FROM events WHERE event_type = 'click')
      SELECT c.event_id, c.user_id, c.sec, p.last_purchase_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.sec >= p.sec"""))

  // ===========================================================
  // Streaming-shaped (same transform serves readStream inputs)
  // ===========================================================

  /** Built-in session_window gap sessions — the batch face of the
    * Streams.sessionWindowStats transform. Same session iff gap <= 30 min:
    * session_window merges at EXACTLY the gap (one sf0.1 pair sits
    * precisely on the 1800s boundary), matching q18's lag/cumsum form, so
    * the oracle's new-session predicate is strictly-greater. Session end =
    * last event + gap. (SQL comments must NOT go inside oracle strings —
    * normalizeSql flattens to one line and `--` swallows the rest.)
    */
  val q37SessionWindow: Q = Q(
    "q37_session_window",
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("tsec", expr("timestamp_seconds(ts_ns div 1000000000)"))
      graft.streaming.Streams
        .sessionWindowStats(e, "tsec", "user_id", "value", gap = "30 minutes")
        .select(
          col("user_id"),
          col("session_start").cast("long").as("session_start_sec"),
          col("session_end").cast("long").as("session_end_sec"),
          col("n_events"),
          col("session_value"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, value FROM events),
      l AS (
        SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev FROM e),
      f AS (
        SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS ns FROM l),
      sx AS (
        SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      SELECT user_id, MIN(sec) AS session_start_sec, MAX(sec) + 1800 AS session_end_sec,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sx GROUP BY user_id, sid"""))

  // ===========================================================
  // Interchange formats: ORC / Avro round-trips, oracle-gated. The oracle
  // runs over the ORIGINAL parquet table — "the round trip is
  // value-identical" is exactly the claim under test.
  // ===========================================================

  /** Orders → explicit-schema ORC → grouped agg over the ORC scan. */
  val q45OrcRoundtrip: Q = Q(
    "q45_orc_roundtrip",
    (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString + "/orders"
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(tmp)
      graft.sources.OrcSource
        .read(s, tmp, org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sumMoney(col("o_totalprice")).as("total"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders GROUP BY o_orderstatus"""))

  /** Nation → Avro container file (driver-side write: nation is the
    * fixed 25-row TPC-H table) → distributed AvroSource scan → broadcast
    * join with parquet region → grouped agg.
    */
  val q46AvroRoundtrip: Q = Q(
    "q46_avro_roundtrip",
    (s, dir) => {
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .collect()
      val avroSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"nation","fields":[
          |  {"name":"n_nationkey","type":"long"},
          |  {"name":"n_name","type":"string"},
          |  {"name":"n_regionkey","type":"long"}
          |]}""".stripMargin)
      val out = java.nio.file.Files.createTempDirectory("graft-avro")
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](avroSchema))
      w.create(avroSchema, out.resolve("nation.avro").toFile)
      try rows.foreach { r =>
        val rec = new org.apache.avro.generic.GenericData.Record(avroSchema)
        rec.put("n_nationkey", r.getLong(0))
        rec.put("n_name", r.getString(1))
        rec.put("n_regionkey", r.getLong(2))
        w.append(rec)
      } finally w.close()
      graft.sources.AvroSource
        .read(s, out.toString, org.apache.spark.sql.types.StructType.fromDDL(
          "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"))
        .join(
          broadcast(t(s, dir, "region")
            .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_nation"))
    },
    Some("""
      SELECT r_name, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name"""))

  /** Exact corpus heavy hitters WITHOUT shuffling the distinct-term long
    * tail: Misra–Gries candidate summary (bounded mergeable aggregate,
    * no key shuffle) + exact count of candidates only. The oracle is the
    * naive full groupBy — equality IS the exactness claim.
    */
  val q47HeavyHitters: Q = Q(
    "q47_heavy_hitters",
    (s, dir) =>
      graft.operators.Frequency.heavyHitters(
        t(s, dir, "documents").select(explode(text.tokens(lower(col("text")))).as("term")),
        "term", minCount = 500L),
    Some("""
      SELECT term AS item, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0)) AS term
        FROM documents)
      GROUP BY term HAVING COUNT(*) >= 500"""))

  /** Single-pass APPROXIMATE heavy hitters: Misra–Gries candidates and
    * Count-Min estimates computed in ONE aggregation job — the variant for
    * when the corpus cannot be scanned twice (q47 is the two-pass exact
    * form). The oracle is the exact count: Count-Min only overestimates on
    * hash collisions, and the testdata vocabulary under the 2048×5
    * geometry is collision-free (checked at sf0.001/0.01/0.1; the
    * FrequencyProperties suite covers colliding corpora), so here the
    * estimates equal exact counts deterministically.
    */
  val q49ApproxHeavyHitters: Q = Q(
    "q49_approx_heavy_hitters",
    (s, dir) =>
      graft.operators.Frequency.approxHeavyHitters(
        t(s, dir, "documents").select(explode(text.tokens(lower(col("text")))).as("term")),
        "term", minCount = 500L),
    Some("""
      SELECT term AS item, COUNT(*) AS est FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0)) AS term
        FROM documents)
      GROUP BY term HAVING COUNT(*) >= 500"""))

  /** Deterministic group-coherent train/val/test split (no ANSI oracle:
    * the assignment hash is xxhash64, which DuckDB lacks — determinism,
    * coherence, and proportions are pinned by PartitioningSpec instead).
    */
  val q48HashSplit: Q = Q(
    "q48_hash_split",
    (s, dir) =>
      graft.operators.Partitioning
        .hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(text.tokenCount(col("text")).cast("long")).as("n_tokens")),
    None)

  /** ORACLE-GATED q48 twin via the injectable uniform: the same
    * cumulative-cut CASE assignment on the systematic `pmod` draw. The
    * oracle mirrors the cut arithmetic EXPRESSION-for-expression
    * (8/10, then 8/10 + 1/10) — the running float sum is not the
    * decimal it prints as, and a literal 0.9 boundary would misassign
    * keys landing exactly on it (hashSplit's scaladoc contract).
    */
  val q48cHashSplitSystematic: Q = Q(
    "q48c_hash_split_systematic",
    (s, dir) =>
      graft.operators.Partitioning
        .hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0),
          uniform = Some(pmod(col("doc_id"), lit(1000L)).cast("double") / lit(1000.0)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(text.tokenCount(col("text")).cast("long")).as("n_tokens")),
    Some("""
      WITH d AS (
        SELECT *,
               CASE WHEN (doc_id % 1000) / 1000.0 < (8.0 / 10.0) THEN 'train'
                    WHEN (doc_id % 1000) / 1000.0 < ((8.0 / 10.0) + (1.0 / 10.0)) THEN 'val'
                    ELSE 'test' END AS split
        FROM documents)
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0))) AS BIGINT) AS n_tokens
      FROM d GROUP BY split"""))

  /** Incremental sketch profile: shard lineitem 8 ways, build one
    * mergeable profile row per shard (exact count/nulls/min/max + HLL
    * distinct sketch + GK quantile sketch), then merge the shard rows and
    * decode — the "profile each day once, answer over any range without
    * rescanning" shape at 100 TB. No ANSI oracle (HLL estimate and
    * epsilon-rank quantiles are sketch outputs; DuckDB lacks both
    * sketches) — q50c is the exact twin, and ProfileSpec pins merge ≡
    * direct plus the error bounds.
    */
  val q50ProfileSketch: Q = Q(
    "q50_profile_sketch",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val shards = graft.operators.Profile.shardProfiles(
        li,
        pmod(xxhash64(col("l_orderkey")), lit(8)),
        col("l_extendedprice"),
        col("l_orderkey"))
      graft.operators.Profile.profileReport(
        graft.operators.Profile.mergeProfiles(shards), Seq(0.5, 0.9, 0.99))
    },
    None)

  /** Exact twin of q50's decoded report, oracle-gated: count, nulls,
    * min/max, exact distinct, and exact discrete percentiles — what the
    * sketch row approximates, computed the expensive way.
    */
  val q50cProfileExact: Q = Q(
    "q50c_profile_exact",
    (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("row_count"),
        sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("null_count"),
        min(col("l_extendedprice")).as("min_value"),
        max(col("l_extendedprice")).as("max_value"),
        count_distinct(col("l_orderkey")).as("distinct_orders"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").as("p99")),
    Some("""
      SELECT COUNT(*) AS row_count,
             CAST(COALESCE(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_count,
             MIN(l_extendedprice) AS min_value,
             MAX(l_extendedprice) AS max_value,
             COUNT(DISTINCT l_orderkey) AS distinct_orders,
             quantile_disc(l_extendedprice, 0.5) AS p50,
             quantile_disc(l_extendedprice, 0.9) AS p90,
             quantile_disc(l_extendedprice, 0.99) AS p99
      FROM lineitem"""))

  /** TF-IDF top terms per doc with the standard ln idf. No ANSI oracle —
    * `ln` is implementation-defined in the last ulp, so cross-engine hash
    * equality of scores (or of a selection ordered by them) is not sound;
    * q51c is the hash-gated twin on exact arithmetic, and RankingSpec pins
    * this query against an independent driver-side recomputation.
    */
  val q51TfidfTopTerms: Q = Q(
    "q51_tfidf_topterms",
    (s, dir) =>
      graft.operators.Ranking.tfidfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3),
    None)

  /** Oracle twin of q51: identical dataflow (tokenize → tf → df → join →
    * bounded-heap top-k per doc) but scored with (tf·N)/df — IEEE
    * +,*,/ only, bit-identical across engines including its ties, so the
    * whole pipeline IS hash-compared against DuckDB; only the `ln` curve
    * is left to q51/RankingSpec.
    */
  val q51cTfidfRatioExact: Q = Q(
    "q51c_tfidf_ratio_exact",
    (s, dir) =>
      graft.operators.Ranking.tfidfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3,
        score = graft.operators.Ranking.ratioIdfScore)
        .withColumnRenamed("score", "score_ratio"),
    Some("""
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
          SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0)) AS term
          FROM documents)
        GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(*) AS n FROM documents)
      SELECT doc_id, term, tf, df, score_ratio FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score_ratio,
               row_number() OVER (PARTITION BY tf.doc_id ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, tf.term) AS rn
        FROM tf JOIN df USING (term) CROSS JOIN n)
      WHERE rn <= 3"""))

  /** BM25 scoring of the corpus against a fixed bag-of-terms query. No
    * oracle (ln idf + avgdl normalization); RankingSpec pins the formula
    * on a hand corpus and the broadcast shape of the plan.
    */
  val q52Bm25: Q = Q(
    "q52_bm25",
    (s, dir) =>
      graft.operators.Ranking.bm25(
        t(s, dir, "documents"), "doc_id", "text",
        query = Seq("spark", "merge", "window"))
        .limit(20),
    None)

  /** EXACT-RATIONAL BM25 twin of q52, ORACLE-GATED: rational idf and a
    * cleared-denominator tf-normalization make every per-term weight one
    * correctly-rounded integer-ratio division, and the per-doc sum runs in
    * fixed query order — bit-identical across engines (the q51c trick).
    */
  val q52cBm25Exact: Q = Q(
    "q52c_bm25_exact",
    (s, dir) =>
      graft.operators.Ranking.bm25ExactRational(
        t(s, dir, "documents"), "doc_id", "text",
        query = Seq("spark", "merge", "window"))
        .limit(20),
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS toks
        FROM documents),
      stats AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS d FROM tok),
      tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
          SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok) u
        WHERE term IN ('spark', 'merge', 'window')
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      w AS (
        SELECT tf.doc_id, tf.term,
               CAST((2*s.n - 2*df.df + 1) * 22 * tf.tf * s.d AS DOUBLE) /
               CAST((2*df.df + 1) * (10*tf.tf*s.d + 3*s.d + 9*tf.dl*s.n) AS DOUBLE) AS w
        FROM tf JOIN df USING (term) CROSS JOIN stats s),
      piv AS (
        SELECT doc_id,
               MAX(CASE WHEN term = 'spark' THEN w END) AS w0,
               MAX(CASE WHEN term = 'merge' THEN w END) AS w1,
               MAX(CASE WHEN term = 'window' THEN w END) AS w2
        FROM w GROUP BY doc_id)
      SELECT doc_id,
             COALESCE(w0, CAST(0 AS DOUBLE)) + COALESCE(w1, CAST(0 AS DOUBLE)) + COALESCE(w2, CAST(0 AS DOUBLE)) AS score
      FROM piv
      ORDER BY score DESC, doc_id
      LIMIT 20"""))

  /** Persisted-index cross dedup — the per-batch production shape: the
    * original corpus is sketched into an on-disk MinHash/LSH index ONCE,
    * then the planted near-dup batch probes it (broadcast bucket
    * semi-join + exact-Jaccard verify on stored shingle sets) without the
    * corpus ever being re-read. Not ANSI-expressible (LSH banding);
    * DedupIndexSpec asserts this result ⊆ q53c with full recall on the
    * planted pairs, and the catalog twin q53c oracle-gates the values.
    */
  val q53IndexDedup: Q = Q(
    "q53_index_dedup",
    (s, dir) => {
      val corpus = t(s, dir, "documents").select("doc_id", "text")
      val batch = corpusWithPlantedDups(s, dir).where(col("doc_id") >= 1000000L)
      val path = java.nio.file.Files.createTempDirectory("graft_dedup_index").toString
      DedupIndex.build(corpus, "text", "doc_id", path, numPerm = 64, bands = 16)
      DedupIndex.crossPairs(batch, "text", "doc_id", path, threshold = 0.5)
        .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"), col("jaccard"))
    },
    None)

  /** [[graft.operators.DedupIndex.occupancyReport]] — the LSH index's
    * bucket-skew maintenance report (VERDICT r15 item 4; ORACLE-GATED
    * since r18, VERDICT r17 item 2). The corpus is synthesized so the
    * REAL machinery (shingle → minhash → banded xxhash64 buckets →
    * parquet postings → report aggregation) runs end-to-end while the
    * bucket GROUP STRUCTURE is forced: each doc's text is four tokens
    * carrying its own doc_id, so shingle sets are DISJOINT across
    * distinct texts (pairwise Jaccard 0 — a cross-text band collision
    * needs a full 4-long xxhash64 slice equality on independent
    * sketches, absent at both gate SFs and deterministic, so a drift
    * would hash-fail loudly, never flake), and every 10th doc gets an
    * exact COPY (identical text → identical minhash → the pair
    * co-occupies all 16 band buckets; at `maxBucket = 1` those are the
    * hot buckets, so both aggregation branches run under the gate).
    * Bucket groups therefore equal text groups × 16 bands and the whole
    * report reduces to pure count arithmetic DuckDB replays exactly.
    * DedupIndexSpec keeps the hand-corpus pins for the trained organic
    * shapes.
    */
  val q53eDedupIndexOccupancy: Q = Q(
    "q53e_dedup_index_occupancy",
    (s, dir) => {
      def mk(id: Column): Column =
        concat(lit("a"), id, lit(" b"), id, lit(" c"), id, lit(" d"), id)
      val base = t(s, dir, "documents").select("doc_id")
      val corpus = base.select(col("doc_id"), mk(col("doc_id")).as("text"))
        .unionByName(base.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mk(col("doc_id")).as("text")))
      val path = java.nio.file.Files.createTempDirectory("graft_dedup_occ").toString
      DedupIndex.build(corpus, "text", "doc_id", path, numPerm = 64, bands = 16)
      DedupIndex.occupancyReport(s, path, maxBucket = 1)
    },
    Some("""
      WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t,
               CAST(COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS BIGINT) AS c
        FROM documents)
      SELECT CAST(16*t AS BIGINT) AS buckets,
             CAST(16*(t+c) AS BIGINT) AS postings,
             CAST(16*(t+c) AS DOUBLE) / CAST(16*t AS DOUBLE) AS mean_occupancy,
             CAST(CASE WHEN c > 0 THEN 2 ELSE 1 END AS BIGINT) AS max_occupancy,
             CAST(16*c AS BIGINT) AS hot_buckets,
             CAST(32*c AS BIGINT) AS hot_postings,
             CAST(32*c AS DOUBLE) / CAST(16*(t+c) AS DOUBLE) AS hot_postings_frac
      FROM s"""))

  /** [[graft.operators.DedupIndex.maintenanceReport]] ACTED ON
    * (r18, the [[AnnIndex.maintenanceReport]] symmetry in the q139c
    * pattern): on the q53e forced-structure corpus the hot buckets are
    * EXACTLY the planted exact-copy pairs — one sketch per hot bucket,
    * irreducible by construction — so the deterministic verdict is
    * `flag_irreducible_duplicates` at both SFs. The face then EXECUTES
    * the recommendation ([[Dedup.exactDedup]] + rebuild at a fresh
    * path) and re-reports: the remediated index must come back
    * `healthy` with zero hot buckets and exactly the deduped posting
    * count. Every emitted number is the q53e count arithmetic, so the
    * whole before/after story — strings AND evidence — is one DuckDB
    * oracle.
    */
  val q53fDedupMaintenance: Q = Q(
    "q53f_dedup_maintenance",
    (s, dir) => {
      def mk(id: Column): Column =
        concat(lit("a"), id, lit(" b"), id, lit(" c"), id, lit(" d"), id)
      val base = t(s, dir, "documents").select("doc_id")
      val corpus = base.select(col("doc_id"), mk(col("doc_id")).as("text"))
        .unionByName(base.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mk(col("doc_id")).as("text")))
      val root = java.nio.file.Files.createTempDirectory("graft_dedup_maint").toString
      DedupIndex.build(corpus, "text", "doc_id", s"$root/idx", numPerm = 64, bands = 16)
      val before = DedupIndex.maintenanceReport(
        s, s"$root/idx", maxBucket = 1, hotFracMax = 0.1).head()
      // execute the verdict: dedup upstream, rebuild at a fresh path
      DedupIndex.build(Dedup.exactDedup(corpus, "text", "doc_id"),
        "text", "doc_id", s"$root/idx2", numPerm = 64, bands = 16)
      val after = DedupIndex.maintenanceReport(
        s, s"$root/idx2", maxBucket = 1, hotFracMax = 0.1).head()
      import s.implicits._
      Seq((
        before.getAs[String]("recommended"),
        before.getAs[Long]("postings"),
        before.getAs[Long]("hot_buckets"),
        after.getAs[String]("recommended"),
        after.getAs[Long]("postings"),
        after.getAs[Long]("hot_buckets")))
        .toDF("rec_before", "postings_before", "hot_buckets_before",
          "rec_after", "postings_after", "hot_buckets_after")
    },
    Some("""
      WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t,
               CAST(COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS BIGINT) AS c
        FROM documents)
      SELECT 'flag_irreducible_duplicates' AS rec_before,
             CAST(16*(t+c) AS BIGINT) AS postings_before,
             CAST(16*c AS BIGINT) AS hot_buckets_before,
             'healthy' AS rec_after,
             CAST(16*t AS BIGINT) AS postings_after,
             CAST(0 AS BIGINT) AS hot_buckets_after
      FROM s"""))

  /** EXACT ground truth for q53: inverted-index all-pairs Jaccard over
    * corpus ∪ batch, restricted to CROSS pairs (corpus id < 1,000,000 ≤
    * batch id) — recall = 1 by construction, no hashing, DuckDB
    * reproduces it bit-for-bit with the shared shingle CTEs.
    */
  val q53cCrossJaccardExact: Q = Q(
    "q53c_cross_jaccard_exact",
    (s, dir) =>
      Dedup.exactJaccardPairs(
        corpusWithPlantedDups(s, dir), "text", "doc_id",
        shingleK = 3, threshold = 0.5)
        .where(col("id_a") < 1000000L && col("id_b") >= 1000000L),
    Some(s"""
      WITH $plantedCorpusCte, $exactJaccardCtes
      SELECT s.id_a, s.id_b,
             CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) AS jaccard
      FROM shared s
      JOIN sz sa ON sa.doc_id = s.id_a
      JOIN sz sb ON sb.doc_id = s.id_b
      WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5
        AND s.id_a < 1000000 AND s.id_b >= 1000000"""))

  /** The STREAMING near-dup ingest's batch face ([[graft.streaming
    * .Streams.nearDupIngest]]), driver-gated (VERDICT r14 item 5 — the
    * q99d pattern stamped on the text-dedup family): the corpus plus
    * EXACT copies (doc_id + 1,000,000 for every 10th doc) arrives as TWO
    * micro-batches split by `doc_id % 7 < 4` (1,000,000 ≡ 1 mod 7, so
    * planted pairs land same-batch for some residues and STRADDLE for
    * others — both greedy paths have witnesses at any SF), against an
    * index initialized EMPTY. DuckDB replays the ingest's exact greedy
    * semantics over exact-Jaccard ≥ 0.85 pairs: batch-1 components →
    * min-id keepers; batch-2 docs with a pair to an ACCEPTED batch-1 doc
    * dropped (the committed-index probe); survivors' components → min-id
    * keepers. Threshold 0.85 keeps the engine's banded-LSH recall
    * certain (the lowest qualifying pair observed is j = 8/9; a 16-band
    * ×4-row sketch misses it with p ≈ 1.4e-7) while exact copies (j = 1,
    * identical signatures — recall 1 by construction) guarantee planted
    * witnesses whatever the testdata regen produces. The corpus collect
    * is the MemoryStream fixture (driver-side by construction); the
    * ingest under test is the production exactly-once foreachBatch.
    */
  val q53dNearDupIngest: Q = Q(
    "q53d_near_dup_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_ndingest").toString
      val base = t(s, dir, "documents").select("doc_id", "text").where(col("text").isNotNull)
      val corpus = base.unionByName(
        base.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      DedupIndex.init(s, s"$root/index",
        DedupIndex.Params(numPerm = 64, bands = 16, shingleK = 3))
      val rows = corpus.as[(Long, String)].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 7 < 4 }
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.Streams.nearDupIngest(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id",
        s"$root/index", s"$root/landed", threshold = 0.85)
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/landed")
        .select(col("doc_id"), col("batch").cast("string").as("batch"))
    },
    Some(s"""
      WITH RECURSIVE
      corpus AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL),
      $exactJaccardCtes,
      und AS MATERIALIZED (
        SELECT s.id_a AS s, s.id_b AS t
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.85
        UNION
        SELECT s.id_b, s.id_a
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.85),
      b1 AS (SELECT doc_id FROM corpus WHERE doc_id % 7 < 4),
      b2 AS (SELECT doc_id FROM corpus WHERE doc_id % 7 >= 4),
      und1 AS MATERIALIZED (SELECT s, t FROM und WHERE s % 7 < 4 AND t % 7 < 4),
      reach1 AS (
        SELECT s, t FROM und1
        UNION
        SELECT r.s, u.t FROM reach1 r JOIN und1 u ON r.t = u.s WHERE u.t <> r.s),
      cl1 AS (SELECT s AS id, LEAST(s, MIN(t)) AS cluster FROM reach1 GROUP BY s),
      acc1 AS MATERIALIZED (
        SELECT b1.doc_id FROM b1 LEFT JOIN cl1 ON cl1.id = b1.doc_id
        WHERE cl1.id IS NULL OR cl1.cluster = b1.doc_id),
      fresh2 AS MATERIALIZED (
        SELECT doc_id FROM b2 WHERE doc_id NOT IN (
          SELECT u.s FROM und u JOIN acc1 a ON a.doc_id = u.t)),
      und2 AS MATERIALIZED (
        SELECT s, t FROM und
        WHERE s IN (SELECT doc_id FROM fresh2) AND t IN (SELECT doc_id FROM fresh2)),
      reach2 AS (
        SELECT s, t FROM und2
        UNION
        SELECT r.s, u.t FROM reach2 r JOIN und2 u ON r.t = u.s WHERE u.t <> r.s),
      cl2 AS (SELECT s AS id, LEAST(s, MIN(t)) AS cluster FROM reach2 GROUP BY s),
      acc2 AS (
        SELECT f.doc_id FROM fresh2 f LEFT JOIN cl2 ON cl2.id = f.doc_id
        WHERE cl2.id IS NULL OR cl2.cluster = f.doc_id)
      SELECT doc_id, 's00000000' AS batch FROM acc1
      UNION ALL
      SELECT doc_id, 's00000001' AS batch FROM acc2"""))

  /** Benchmark decontamination profile: per-document n-gram overlap of
    * the training split against the held-out split's n-gram set (docs
    * with doc_id % 17 == 0 play the benchmark). Counts run over 64-bit
    * n-gram hashes in Spark (the scale path — one corpus scan, broadcast
    * semi-join, no corpus-side shuffle) and over the string n-grams in
    * DuckDB; values are identical modulo negligible hash collisions, so
    * the oracle hash-gates them directly.
    */
  val q54Decontaminate: Q = Q(
    "q54_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontaminate.overlap(
        docs.where(col("doc_id") % 17 =!= 0), "text", "doc_id",
        docs.where(col("doc_id") % 17 === 0), "text", n = 3)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
        FROM d),
      bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 17 = 0),
      docs AS (SELECT doc_id, sh FROM sh WHERE doc_id % 17 <> 0),
      hits AS (
        SELECT i.doc_id, COUNT(*) AS hit
        FROM (SELECT doc_id, unnest(sh) AS g FROM docs) i
        JOIN bench b ON b.g = i.g
        GROUP BY 1),
      prof AS (
        SELECT d.doc_id AS id,
               CAST(len(d.sh) AS BIGINT) AS doc_ngrams,
               CASE WHEN d.sh IS NULL THEN NULL ELSE COALESCE(h.hit, 0) END AS hit_ngrams
        FROM docs d LEFT JOIN hits h ON h.doc_id = d.doc_id)
      SELECT id, doc_ngrams, hit_ngrams,
             CAST(hit_ngrams AS DOUBLE) / doc_ngrams AS contamination
      FROM prof"""))

  /** Token-budget chunking with overlap (maxTokens 40, overlap 5): the
    * pre-training segmentation step, oracle-gated end-to-end — window
    * arithmetic, overlap tiling, short final chunks, and the one-empty-
    * chunk contract for zero-token docs all hash-match DuckDB's
    * independent list-slicing reconstruction.
    */
  val q55ChunkDocs: Q = Q(
    "q55_chunk_docs",
    (s, dir) =>
      graft.operators.Chunker.chunk(
        t(s, dir, "documents"), "text", "doc_id", maxTokens = 40, overlap = 5)
        .withColumnRenamed("id", "doc_id"),
    Some("""
      WITH d AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      c AS (
        SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
               CASE WHEN len(tk) <= 40 THEN 1
                    ELSE CAST(ceil((len(tk) - 40) / 35.0) AS BIGINT) + 1 END AS n_chunks
        FROM d WHERE tk IS NOT NULL),
      x AS (SELECT doc_id, tk, n, unnest(range(0, n_chunks)) AS chunk_id FROM c)
      SELECT doc_id, chunk_id,
             array_to_string(tk[chunk_id*35+1 : chunk_id*35+40], ' ') AS chunk_text,
             LEAST(40, n - chunk_id*35) AS n_tokens
      FROM x"""))

  /** Snapshot diff: derive the CDC event feed between two full `orders`
    * snapshots (old = keys not ≡0 mod 10; new = keys not ≡0 mod 11, with
    * status rewritten to 'X' on keys ≡0 mod 7) — inserts, deletes, and
    * updates with both images and the changed-column count. One
    * full-outer shuffle join; every comparison null-safe. The
    * deterministic snapshot derivation makes the whole feed
    * hash-comparable against the DuckDB twin.
    */
  val q56SnapshotDiff: Q = Q(
    "q56_snapshot_diff",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val oldSnap = o.where(col("o_orderkey") % 10 =!= 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val newSnap = o.where(col("o_orderkey") % 11 =!= 0)
        .select(
          col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          col("o_totalprice"))
      graft.operators.SnapshotDiff
        .diff(oldSnap, newSnap, Seq("o_orderkey"))
        .select(
          col("o_orderkey"), col("change_type"),
          size(col("changed_cols")).as("n_changed"),
          col("old_o_orderstatus"), col("new_o_orderstatus"),
          col("old_o_totalprice"), col("new_o_totalprice"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0),
      n AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type,
             CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN 0
                  ELSE CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS INT)
                     + CAST(o.o_totalprice  IS DISTINCT FROM n.o_totalprice  AS INT) END AS n_changed,
             o.o_orderstatus AS old_o_orderstatus, n.o_orderstatus AS new_o_orderstatus,
             o.o_totalprice  AS old_o_totalprice,  n.o_totalprice  AS new_o_totalprice
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
      WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
         OR o.o_totalprice  IS DISTINCT FROM n.o_totalprice"""))

  /** Blocked fuzzy entity match: customer-name pairs within a nation
    * block at edit distance ≤ 2, scored 1 − edit/maxlen. Equi-join on the
    * block key (never all-pairs), length prefilter before the DP, banded
    * threshold Levenshtein. Hash-comparable end-to-end: edit distance is
    * an integer in both engines and sim is one IEEE division.
    */
  val q57EntityMatch: Q = Q(
    "q57_entity_match",
    (s, dir) =>
      graft.operators.EntityResolution.blockedFuzzyPairs(
        t(s, dir, "customer"), "c_custkey", "c_name",
        // uncapped to match the oracle EXACTLY at any scale factor — the
        // SQL twin has no occupancy cap, and a silently-capped side
        // would diverge the moment a nation block outgrew the default
        Seq("c_nationkey"), maxEdit = 2, maxBlock = Int.MaxValue)
        .withColumnRenamed("id_a", "custkey_a")
        .withColumnRenamed("id_b", "custkey_b"),
    Some("""
      SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
             CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
             1 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
                   / GREATEST(length(a.c_name), length(b.c_name)) AS sim
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
        AND abs(length(a.c_name) - length(b.c_name)) <= 2"""))

  /** Exact k·sigma outliers: events whose value (in exact cents) lies
    * more than 3 population standard deviations from its event-type
    * mean, flagged by pure integer algebra (n·x − s)² > k²(n·ss − s²) —
    * order-free and bit-identical in DuckDB, unlike any float-sum
    * z-score. One window shuffle on the group key.
    */
  val q58Outliers: Q = Q(
    "q58_outliers",
    (s, dir) =>
      graft.operators.Anomaly.zscoreOutliers(
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value"),
        Seq("event_type"),
        floor(col("value") * 100),
        k = 3)
        .select("event_id", "user_id", "event_type", "value", "grp_n"),
    Some("""
      WITH c AS (
        SELECT event_id, user_id, event_type, value,
               CAST(FLOOR(value * 100) AS HUGEINT) AS cents
        FROM events),
      g AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(cents) AS s, SUM(cents * cents) AS ss
        FROM c GROUP BY event_type)
      SELECT c.event_id, c.user_id, c.event_type, c.value,
             CAST(g.n AS BIGINT) AS grp_n
      FROM c JOIN g USING (event_type)
      WHERE (g.n * c.cents - g.s) * (g.n * c.cents - g.s) > 9 * (g.n * g.ss - g.s * g.s)"""))

  /** Incremental aggregate maintenance, proven on real data: build
    * mergeable rollup states for two disjoint shipdate eras of lineitem
    * SEPARATELY, fold them with the state merge, and decode — the oracle
    * computes the direct one-shot aggregate over everything. Hash
    * equality IS the merge law `merge(state(a), state(b)) ≡ state(a∪b)`:
    * at 100 TB this is "refresh the rollup from the new partition alone,
    * never rescan history". Sums accumulate in decimal (exact,
    * order-free); avg is decoded as one double division.
    */
  val q59IncrementalAgg: Q = Q(
    "q59_incremental_agg",
    (s, dir) => {
      val ia = graft.operators.IncrementalAgg
      val li = t(s, dir, "lineitem")
      val cutoff = lit("1995-01-01").cast("timestamp")
      val grp = Seq("l_returnflag")
      val vals = Seq("l_quantity", "l_extendedprice")
      val eraA = ia.state(li.where(col("l_shipdate") < cutoff), grp, vals)
      val eraB = ia.state(li.where(col("l_shipdate") >= cutoff), grp, vals)
      ia.report(ia.merge(eraA, eraB, grp), grp)
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_l_quantity,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_l_quantity,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_l_extendedprice,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_l_extendedprice,
             MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity,
             MIN(l_extendedprice) AS min_l_extendedprice, MAX(l_extendedprice) AS max_l_extendedprice
      FROM lineitem GROUP BY l_returnflag"""))

  /** Mixture rebalancing: deterministic per-stratum down-sampling of the
    * corpus by source (down-weight src0 hard, src1 lightly, leave the
    * rest), reported as per-(source, lang) doc/token counts. No ANSI
    * oracle (assignment is an xxhash64 draw); PartitioningSpec pins
    * determinism, the nested-subset tuning property, proportions, and
    * the zero-shuffle plan.
    */
  val q60StratifiedSample: Q = Q(
    "q60_stratified_sample",
    (s, dir) =>
      graft.operators.Partitioning.stratifiedSample(
        t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.25, "src1" -> 0.75))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(text.tokenCount(col("text")).cast("long")).as("n_tokens")),
    None)

  /** ORACLE-GATED q60 twin via the injectable uniform (the q88c move):
    * the same per-stratum threshold decision driven by the systematic
    * `pmod(doc_id, 1000)/1000` draw, so membership — not just counts —
    * is ANSI-reproducible (the rollup keys it by stratum, and every
    * retained doc contributes to hash-compared token sums).
    */
  val q60cStratifiedSampleSystematic: Q = Q(
    "q60c_stratified_sample_systematic",
    (s, dir) =>
      graft.operators.Partitioning.stratifiedSample(
        t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.25, "src1" -> 0.75),
        uniform = Some(pmod(col("doc_id"), lit(1000L)).cast("double") / lit(1000.0)))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(text.tokenCount(col("text")).cast("long")).as("n_tokens")),
    Some("""
      WITH kept AS (
        SELECT * FROM documents
        WHERE (doc_id % 1000) / 1000.0 <
              CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.75 ELSE 1.0 END)
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0))) AS BIGINT) AS n_tokens
      FROM kept GROUP BY source, lang"""))

  /** Declarative expectations scorecard over lineitem: four row-predicate
    * rules folded into ONE scan (two pass, two with planted violations:
    * quantity ≤ 25 and discount ≤ 0.05 are deliberately tighter than the
    * data), plus the key-uniqueness aggregate (the synthetic lineitem key
    * is NOT unique — real violations) and orphan detection against
    * orders. Every count hash-gated.
    */
  val q61Expectations: Q = Q(
    "q61_expectations",
    (s, dir) => {
      val ex = graft.operators.Expectations
      val li = t(s, dir, "lineitem")
      ex.check(li, Seq(
        ex.notNull("l_orderkey"),
        ex.inRange("l_quantity", 1, 25),
        ex.inRange("l_discount", 0.0, 0.05),
        ex.notNull("l_shipdate")))
        .unionByName(ex.uniqueKey(li, Seq("l_orderkey", "l_linenumber")))
        .unionByName(ex.refIntegrity(
          li, Seq("l_orderkey"), t(s, dir, "orders"), Seq("o_orderkey")))
    },
    Some("""
      WITH counted AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
               CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v4,
               CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v5
        FROM lineitem),
      orphans AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey)
      SELECT 'not_null_l_orderkey' AS rule, total, v1 AS violations, v1 = 0 AS pass FROM counted
      UNION ALL SELECT 'range_l_quantity', total, v2, v2 = 0 FROM counted
      UNION ALL SELECT 'range_l_discount', total, v3, v3 = 0 FROM counted
      UNION ALL SELECT 'not_null_l_shipdate', total, v4, v4 = 0 FROM counted
      UNION ALL SELECT 'unique_key_l_orderkey_l_linenumber', total, v5, v5 = 0 FROM counted
      UNION ALL SELECT 'ref_l_orderkey', total, v, v = 0 FROM orphans"""))

  /** Robust (median/IQR) outlier companion to q58: Tukey fences at
    * k = 1.5 from the mergeable GK sketch, per event type — the variant
    * for real-valued/heavy-tailed data where contamination drags the
    * mean-based test. No ANSI oracle (sketch quantiles); AnomalySpec
    * pins fence behavior, contamination resistance (a point the z-test
    * provably misses), and the reported median/IQR.
    */
  val q62RobustOutliers: Q = Q(
    "q62_robust_outliers",
    (s, dir) =>
      graft.operators.Anomaly.robustOutliers(
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value"),
        Seq("event_type"), "value", k = 1.5)
        .select("event_id", "event_type", "value", "grp_median", "grp_iqr"),
    None)

  /** ORACLE-GATED exact twin of q62: Tukey fences from exact
    * interpolated quartiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont` — same `lower + frac·(upper−lower)` on the same
    * IEEE doubles), fence arithmetic mirrored expression-for-expression.
    * The flag SET is emitted (ids + the raw parquet value), not the
    * fence floats themselves — the decision is what the sketch face is
    * spec-gated against, so the decision is what the oracle pins.
    */
  val q62cRobustOutliersExact: Q = Q(
    "q62c_robust_outliers_exact",
    (s, dir) =>
      graft.operators.Anomaly.robustOutliersExact(
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value"),
        Seq("event_type"), "value", k = 1.5)
        .select("event_id", "event_type", "value"),
    Some("""
      WITH f AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.event_type, e.value
      FROM events e JOIN f USING (event_type)
      WHERE e.value < q1 - 1.5 * (q3 - q1) OR e.value > q3 + 1.5 * (q3 - q1)"""))

  /** Funnel analysis: greedy earliest-chain view→click→purchase per
    * user, exact and oracle-gated — the one-shuffle HOF fold must
    * reproduce DuckDB's chained min-over-filtered-join formulation
    * bit-for-bit (greedy is optimal for depth by the exchange argument,
    * and both engines implement the same strict-after semantics on the
    * nanosecond longs).
    */
  val q63Funnel: Q = Q(
    "q63_funnel",
    (s, dir) =>
      graft.operators.Funnel.earliestChain(
        // µs, not ns: DuckDB's TIMESTAMP truncates the parquet nanos to
        // microseconds, so the comparable clock is epoch_us on both sides
        t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000")),
        "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase")),
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
      s1 AS (SELECT user_id, MIN(ts) AS t_1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t_2 FROM e JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.ts) AS t_3 FROM e JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY e.user_id)
      SELECT s1.user_id,
             CAST(1 + CAST(s2.user_id IS NOT NULL AS INT) + CAST(s3.user_id IS NOT NULL AS INT) AS INT) AS depth,
             s1.t_1, s2.t_2, s3.t_3
      FROM s1
      LEFT JOIN s2 ON s1.user_id = s2.user_id
      LEFT JOIN s3 ON s2.user_id = s3.user_id"""))

  /** Windowed funnel: same greedy earliest chain, but each step must land
    * within 2 hours of the previous accepted step — the per-step
    * conversion window every real funnel query phrases. The chained
    * min-join oracle carries the same window predicate, reproducing the
    * greedy semantics bit-for-bit.
    */
  val q63bFunnelWindowed: Q = Q(
    "q63b_funnel_windowed",
    (s, dir) =>
      graft.operators.Funnel.earliestChain(
        t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000")),
        "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"),
        maxStepGap = Some(7200000000L)),
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
      s1 AS (SELECT user_id, MIN(ts) AS t_1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t_2 FROM e JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t_1 AND e.ts - s1.t_1 <= 7200000000 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.ts) AS t_3 FROM e JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 AND e.ts - s2.t_2 <= 7200000000 GROUP BY e.user_id)
      SELECT s1.user_id,
             CAST(1 + CAST(s2.user_id IS NOT NULL AS INT) + CAST(s3.user_id IS NOT NULL AS INT) AS INT) AS depth,
             s1.t_1, s2.t_2, s3.t_3
      FROM s1
      LEFT JOIN s2 ON s1.user_id = s2.user_id
      LEFT JOIN s3 ON s2.user_id = s3.user_id"""))

  /** Weekly cohort retention over events: users bucketed by
    * first-activity week, counted per (cohort, age) — exact long
    * arithmetic end to end (epoch seconds, floor division), hash-gated.
    * Raw events are scanned once; the wire carries distinct user-weeks.
    */
  val q64CohortRetention: Q = Q(
    "q64_cohort_retention",
    (s, dir) =>
      graft.operators.Cohorts.retention(
        t(s, dir, "events"), "user_id",
        expr("ts_ns div 1000000000"), periodSeconds = 604800L),
    Some("""
      WITH up AS (
        SELECT DISTINCT user_id, (epoch_us(ts) // 1000000) // 604800 AS period FROM events),
      c AS (
        SELECT user_id, MIN(period) AS cohort FROM up GROUP BY user_id)
      SELECT c.cohort, up.period - c.cohort AS age,
             COUNT(DISTINCT up.user_id) AS n_users
      FROM up JOIN c ON up.user_id = c.user_id
      GROUP BY c.cohort, up.period - c.cohort"""))

  /** Retention rates: the q64 matrix plus per-cohort base size and
    * n_users/cohort_size — one correctly-rounded division, hash-gated.
    */
  val q64bCohortRates: Q = Q(
    "q64b_cohort_rates",
    (s, dir) =>
      graft.operators.Cohorts.retentionRates(
        t(s, dir, "events"), "user_id",
        expr("ts_ns div 1000000000"), periodSeconds = 604800L),
    Some("""
      WITH up AS (
        SELECT DISTINCT user_id, (epoch_us(ts) // 1000000) // 604800 AS period FROM events),
      c AS (
        SELECT user_id, MIN(period) AS cohort FROM up GROUP BY user_id),
      m AS (
        SELECT c.cohort, up.period - c.cohort AS age,
               COUNT(DISTINCT up.user_id) AS n_users
        FROM up JOIN c ON up.user_id = c.user_id
        GROUP BY c.cohort, up.period - c.cohort)
      SELECT cohort, age, n_users,
             MAX(CASE WHEN age = 0 THEN n_users END) OVER (PARTITION BY cohort) AS cohort_size,
             CAST(n_users AS DOUBLE) /
               CAST(MAX(CASE WHEN age = 0 THEN n_users END) OVER (PARTITION BY cohort) AS DOUBLE) AS rate
      FROM m"""))

  /** Calendar-week cohorts: ISO Monday-truncated periods, age in whole
    * weeks — the date_trunc semantics fixed-seconds buckets deliberately
    * avoid, now first-class and hash-gated (both engines truncate weeks
    * to Monday).
    */
  val q64cCohortCalendar: Q = Q(
    "q64c_cohort_calendar",
    (s, dir) =>
      graft.operators.Cohorts.retentionCalendar(
        t(s, dir, "events"), "user_id",
        timestamp_seconds(expr("ts_ns div 1000000000")), unit = "week"),
    Some("""
      WITH up AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS period FROM events),
      c AS (
        SELECT user_id, MIN(period) AS cohort FROM up GROUP BY user_id)
      SELECT c.cohort, CAST((up.period - c.cohort) // 7 AS INT) AS age,
             COUNT(DISTINCT up.user_id) AS n_users
      FROM up JOIN c ON up.user_id = c.user_id
      GROUP BY c.cohort, CAST((up.period - c.cohort) // 7 AS INT)"""))

  /** Scaled near-copies of every 10th embedding — the planted batch the
    * persisted ANN index queries probe for (same construction as q32:
    * IEEE-754 float32 `x * 1.001f` is bit-identical across engines).
    */
  private def perturbedEmbeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select("vec_id", "embedding")
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001f)).cast("float")).as("embedding"))

  /** Persisted-index embedding dedup — the per-batch production shape of
    * similarity search: the corpus is cell-assigned into an on-disk IVF
    * index ONCE, then the planted near-copy batch probes it (broadcast
    * probed-cell semi-join + exact cosine verify on stored vectors)
    * without corpus vectors ever being re-landed. Not ANSI-expressible
    * (IVF cell routing); AnnIndexSpec asserts this result ⊆ q65c with
    * full recall on the planted pairs, and the catalog twin q65c
    * oracle-gates the values.
    */
  val q65AnnIndexDedup: Q = Q(
    "q65_ann_index_dedup",
    (s, dir) => {
      val corpus = t(s, dir, "embeddings").select("vec_id", "embedding")
      val path = java.nio.file.Files.createTempDirectory("graft_ann_index").toString
      AnnIndex.build(corpus, "vec_id", "embedding", path, nlist = 16)
      AnnIndex.crossNeighbors(
        perturbedEmbeddings(s, dir), "vec_id", "embedding", path,
        threshold = 0.99, nprobe = 8)
        .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))
    },
    None)

  /** Serving-path halves for the PQ index (same split rationale as the
    * TextIndex pair above): the catalog entry fuses build+probe for the
    * gate; the bench times each half on its own.
    */
  private[graft] def buildAnnPqIndex(s: SparkSession, dir: String): String = {
    val corpus = t(s, dir, "embeddings").select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ann_pq_index").toString
    AnnIndex.buildPq(corpus, "vec_id", "embedding", path, nlist = 16, m = 32, ksub = 256)
    path
  }

  /** q65b's index built at [[graft.operators.AnnIndex.buildPqAuto]]'s
    * corpus-scaled geometry (16-row target cells — nlist 32 at sf0.01,
    * 125 at sf0.1) instead of the pinned nlist = 16 — the bench face of
    * the round-15 auto-geometry default. The q65b entries keep nlist = 16
    * for cross-round comparability; these time what production callers
    * actually get.
    */
  private[graft] def buildAnnPqAutoIndex(s: SparkSession, dir: String): String = {
    val corpus = t(s, dir, "embeddings").select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ann_pq_auto_index").toString
    AnnIndex.buildPqAuto(corpus, "vec_id", "embedding", path,
      targetCellRows = 16L, m = 32, ksub = 256)
    path
  }

  /** Bench helper (q65k's standing-index shape): flat auto-geometry
    * index over the raw embeddings — the index the BULK probe serves
    * from. Kept PQ-less so the bulk entry isolates the shuffle shape,
    * not the screen.
    */
  private[graft] def buildAnnBulkIndex(s: SparkSession, dir: String): String = {
    val corpus = t(s, dir, "embeddings").select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ann_bulk_index").toString
    AnnIndex.buildAuto(corpus, "vec_id", "embedding", path,
      targetCellRows = 16L, fullTrainAbove = 64)
    path
  }

  /** Bench helper (VERDICT r17 item 4): the q65k-shaped BULK probe — the
    * whole corpus re-probed as ONE batch of scaled copies through
    * [[AnnIndex.crossNeighborsBulk]], whose probes side shuffles by cell
    * instead of broadcasting (the shape that removes the
    * batch × nprobe × query-vector broadcast ceiling). A standing bench
    * entry so the shuffle shape gets the same cross-round `min_cold`
    * audit as the broadcast shape next to it.
    */
  private[graft] def annBulkProbe(s: SparkSession, dir: String, path: String): DataFrame =
    AnnIndex.crossNeighborsBulk(
      t(s, dir, "embeddings").select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
          .as("embedding")),
      "vec_id", "embedding", path,
      threshold = 0.99, probe = AnnIndex.Probe.Cells(4), maxCell = Int.MaxValue)
      .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))

  /** q65b_auto's index with the coarse router forced onto the TWO-LEVEL
    * product grid (`imiAbove = 1` — at bench SFs the sized cell count
    * never crosses the production 2¹⁴ threshold organically): same
    * 16-row target cells, same PQ codebook shape, so the q65b_imi bench
    * entries isolate exactly the quantizer swap — the product-grid
    * assignment/probe constant factor gets its own round-over-round
    * guard next to the flat-auto baseline.
    */
  private[graft] def buildAnnPqImiIndex(s: SparkSession, dir: String): String = {
    val corpus = t(s, dir, "embeddings").select("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ann_pq_imi_index").toString
    AnnIndex.buildPqAuto(corpus, "vec_id", "embedding", path,
      targetCellRows = 16L, m = 32, ksub = 256, imiAbove = 1)
    path
  }

  private[graft] def annPqProbe(s: SparkSession, dir: String, path: String): DataFrame =
    AnnIndex.crossNeighborsPq(
      perturbedEmbeddings(s, dir), "vec_id", "embedding", path,
      threshold = 0.99, nprobe = 8, margin = 0.15)
      .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))

  /** [[annPqProbe]] against an AUTO-geometry index at CONSTANT recall
    * fraction: `Probe.Fraction(0.5)`, the same 8-of-16 fraction the
    * pinned face probes — a fixed nprobe = 8 against a corpus-scaled
    * nlist would silently shrink the probed fraction at every SF (the
    * exact anti-pattern the Probe type exists to prevent), making the
    * bench guard time a different, cheaper workload than the baseline
    * beside it. The fraction resolves against the quantizer the probe
    * loads ANYWAY — the r15 shape (a separate nprobeFor parquet read
    * inside the timed window) taxed the bench guard with a fixed
    * driver-side overhead the q65b_probe baseline beside it never pays
    * (ADVICE r15).
    */
  private[graft] def annPqAutoProbe(s: SparkSession, dir: String, path: String): DataFrame =
    AnnIndex.crossNeighborsPq(
      perturbedEmbeddings(s, dir), "vec_id", "embedding", path,
      threshold = 0.99,
      probe = AnnIndex.Probe.Fraction(0.5), maxCell = Int.MaxValue,
      margin = 0.15, scoreWithLut = false)
      .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))

  /** q65 through the IVF-PQ screening path ([[AnnIndex.crossNeighborsPq]]):
    * candidates screen on 32-byte PQ codes + stored norms (the raw vector
    * column never enters the coarse pass), survivors re-rank by exact
    * cosine on vectors fetched by id. Settings are sized to the corpus'
    * measured quantization floor: synthetic uniform embeddings are PQ's
    * WORST case (no cluster structure — self-ADC ≥ 0.95 at m=32/ksub=256,
    * vs ≥ 0.99 typical for real embedding corpora), and margin 0.15
    * leaves ~0.1 headroom under it. Same gating as q65: AnnIndexSpec
    * pins result ⊆ q65c with full planted recall AND equality with the
    * flat-probe q65 at these settings.
    */
  val q65bAnnIndexDedupPq: Q = Q(
    "q65b_ann_index_dedup_pq",
    (s, dir) => annPqProbe(s, dir, buildAnnPqIndex(s, dir)),
    None,
    headline = true) // serving path: bench times build and probe separately

  /** EXACT ground truth for q65: brute-force cross cosine over corpus ∪
    * batch restricted to CROSS pairs (corpus id < 1,000,000 ≤ batch id).
    * Pair ids only — a threshold-set decision with a wide margin (the
    * q32c argument), so DuckDB reproduces the set without bit-matching
    * float summation order.
    */
  val q65cAnnCrossExact: Q = Q(
    "q65c_ann_cross_exact",
    (s, dir) =>
      Similarity.cosineNearDupPairsExact(
        t(s, dir, "embeddings").select("vec_id", "embedding")
          .unionByName(perturbedEmbeddings(s, dir)),
        "vec_id", "embedding", threshold = 0.99)
        .where(col("id_a") < 1000000L && col("id_b") >= 1000000L),
    Some("""
      WITH base AS (SELECT vec_id, embedding FROM embeddings),
      pert AS (SELECT vec_id + 1000000 AS vec_id,
                      list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
               FROM base WHERE vec_id % 10 = 0),
      allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 1000000 AND b.vec_id >= 1000000
        AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
            (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
             sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.99"""))

  /** The three synthetic ingest families q65d and q65h share — scaled
    * copies (+1M, must drop), negations (+2M, must land), scaled
    * negation copies (+3M, duplicate of the +2M member) — built ONCE so
    * the two gates cannot drift apart: q65h's whole claim is that its
    * landed set equals q65d's oracle VERBATIM, which is only enforceable
    * while both faces construct the identical stream.
    */
  private def annIngestFamilies(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select("vec_id", "embedding")
    val copyVec = transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
    val negVec = transform(col("embedding"), x => (-x).cast("float"))
    val negCopyVec = transform(col("embedding"), x => (x * lit(-1.001f)).cast("float"))
    base.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), copyVec.as("embedding"))
      .unionByName(base.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"), negVec.as("embedding")))
      .unionByName(base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 3000000L).as("vec_id"), negCopyVec.as("embedding")))
  }

  /** The greedy cross-batch collapse both ingest gates replay in pure id
    * arithmetic (same batch -> min id keeps; straddling -> the earlier
    * batch's member keeps) — shared so q65d and q65h are gated by ONE
    * oracle by construction, not by two copies staying in sync.
    */
  private val annIngestGreedyOracle: String = """
      WITH n1 AS (
        SELECT vec_id + 2000000 AS id, vec_id AS k FROM embeddings WHERE vec_id % 5 = 0),
      n2 AS (
        SELECT vec_id + 3000000 AS id, vec_id AS k FROM embeddings WHERE vec_id % 10 = 0),
      paired AS (
        SELECT n1.k, n1.id AS id1, n2.id AS id2,
               (n1.id % 7 < 4) AS b11, (n2.id % 7 < 4) AS b21
        FROM n1 JOIN n2 ON n1.k = n2.k),
      keepers AS (
        SELECT CASE WHEN b11 = b21 THEN LEAST(id1, id2)
                    WHEN b11 THEN id1
                    ELSE id2 END AS id
        FROM paired),
      solo AS (SELECT id FROM n1 WHERE k % 10 <> 0),
      acc AS (SELECT id FROM solo UNION ALL SELECT id FROM keepers)
      SELECT id AS vec_id,
             CASE WHEN id % 7 < 4 THEN 's00000000' ELSE 's00000001' END AS batch
      FROM acc"""

  /** The STREAMING embedding ingest's batch face ([[graft.streaming
    * .Streams.annIngest]]), driver-gated (VERDICT r14 item 5, the ANN
    * half of the q53d/q99d pattern). Index built on the BASE embeddings;
    * the stream carries three synthetic families — scaled copies
    * (+1,000,000, x·1.001f: duplicate a corpus vector, must always
    * drop), negations (+2,000,000, −x: cosine −1 to their source and
    * |cos| ≤ ~0.6 to everything else — novel, must land), and scaled
    * negation copies (+3,000,000, duplicate of the +2M member) — split
    * into two micro-batches by `vec_id % 7 < 4` (the +2M/+3M offsets
    * differ mod 7, so duplicate pairs land same-batch for some residues
    * and straddle for others, in both orders). With `nprobe = nlist`
    * every cell is probed, so acceptance is EXACT threshold semantics —
    * no routing approximation in the gate — and since the corpus has no
    * organic pair outside cosine [−0.56, 0.61] (measured both SFs), the
    * duplicate graph is known BY CONSTRUCTION: the oracle is pure id
    * arithmetic replaying the greedy cross-batch collapse (same batch →
    * min id keeps; straddling → the earlier batch's member keeps,
    * whichever family it is). Corpus collect = MemoryStream fixture;
    * the ingest under test is the production exactly-once foreachBatch.
    */
  val q65dAnnIngest: Q = Q(
    "q65d_ann_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_annigst").toString
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      AnnIndex.build(base, "vec_id", "embedding", s"$root/index", nlist = 16)
      val rows = annIngestFamilies(s, dir).as[(Long, Seq[Float])].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 7 < 4 }
      val input = MemoryStream[(Long, Seq[Float])]
      val query = graft.streaming.Streams.annIngest(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        s"$root/index", s"$root/landed",
        threshold = 0.99, nprobe = 16, dim = 64)
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/landed")
        .select(col("vec_id"), col("batch").cast("string").as("batch"))
    },
    Some(annIngestGreedyOracle))

  /** q65d with the LIVE-INGEST REBUILD HANDOVER executed between the two
    * micro-batches — the protocol [[graft.operators.AnnIndex
    * .rebuildAuto]]'s scaladoc documents, now under the driver gate:
    * stop the stream after batch 1, rebuild the index at corpus-scaled
    * geometry into a fresh path (the rebuild consumes base + batch-1
    * postings), restart [[graft.streaming.Streams.annIngest]] pointed at
    * the NEW path with the SAME checkpoint, feed batch 2. The ingest
    * holds `Probe.Fraction(1.0)` across the restart, so the probe
    * re-resolves against whatever geometry the rebuild produced (16
    * cells before, corpus-sized after) and acceptance stays EXACT
    * threshold semantics on both sides of the handover — the landed set
    * must therefore equal q65d's ORACLE VERBATIM: a rebuild plus restart
    * is invisible to what gets accepted. Gates, in one hash: checkpoint
    * continuity (batch ids continue, labels never collide), the rebuild
    * reading only committed batches, exactly-once across the restart,
    * and the fraction-probe's geometry re-resolution in a live pipeline.
    */
  val q65hAnnRebuildIngest: Q = Q(
    "q65h_ann_rebuild_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_annrbing").toString
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      AnnIndex.build(base, "vec_id", "embedding", s"$root/idx1", nlist = 16)
      val rows = annIngestFamilies(s, dir).as[(Long, Seq[Float])].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 7 < 4 }
      val input = MemoryStream[(Long, Seq[Float])]
      def start(indexPath: String) = graft.streaming.Streams.annIngest(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        indexPath, s"$root/landed", threshold = 0.99,
        probe = AnnIndex.Probe.Fraction(1.0), maxCell = Int.MaxValue,
        dim = 64, checkpoint = Some(s"$root/ckpt"), pqMargin = 0.1)
      val q1 = start(s"$root/idx1")
      try { input.addData(b1.toSeq: _*); q1.processAllAvailable() } finally q1.stop()
      AnnIndex.rebuildAuto(s, s"$root/idx1", s"$root/idx2", targetCellRows = 16L)
      val q2 = start(s"$root/idx2")
      try { input.addData(b2.toSeq: _*); q2.processAllAvailable() } finally q2.stop()
      s.read.parquet(s"$root/landed")
        .select(col("vec_id"), col("batch").cast("string").as("batch"))
    },
    Some(annIngestGreedyOracle))

  /** q65h with the rebuild forced ACROSS the quantizer-type boundary
    * (VERDICT r16 item 3): the live-ingest handover restarts against an
    * index whose rebuild re-landed under the TWO-LEVEL product quantizer
    * (`imiAbove = 1`, the q65g parameterization — `hasImi` asserted
    * loudly, so the gate cannot silently run flat). This is exactly the
    * migration a growing production index performs once — flat postings
    * outgrow the flat payload ceiling, [[graft.operators.AnnIndex
    * .rebuildAuto]] crosses to IMI — executed between two micro-batches
    * of a LIVE exactly-once ingest holding `Probe.Fraction(1.0)` across
    * the restart. The probe re-resolves against the product geometry,
    * acceptance stays exact threshold semantics, and the landed set must
    * equal the same shared greedy oracle VERBATIM: the type crossing is
    * invisible to what gets accepted. Adds to q65h's gate, in the same
    * single hash: product-grid cell re-assignment of every rebuilt
    * posting, IMI artifact dispatch under a live checkpoint restart, and
    * fraction-probe resolution against a grid whose nlist the rebuild
    * just changed.
    */
  val q65iAnnImiRebuildIngest: Q = Q(
    "q65i_ann_imi_rebuild_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_annimirb").toString
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      AnnIndex.build(base, "vec_id", "embedding", s"$root/idx1", nlist = 16)
      val rows = annIngestFamilies(s, dir).as[(Long, Seq[Float])].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 7 < 4 }
      val input = MemoryStream[(Long, Seq[Float])]
      def start(indexPath: String) = graft.streaming.Streams.annIngest(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        indexPath, s"$root/landed", threshold = 0.99,
        probe = AnnIndex.Probe.Fraction(1.0), maxCell = Int.MaxValue,
        dim = 64, checkpoint = Some(s"$root/ckpt"), pqMargin = 0.1)
      val q1 = start(s"$root/idx1")
      try { input.addData(b1.toSeq: _*); q1.processAllAvailable() } finally q1.stop()
      // the q65g parameterization: imiAbove = 1 forces the product grid,
      // fullTrainAbove = 8 splits the per-half training branch across the
      // gate SFs (sampled k-means at sf0.01, distributed Lloyd at sf0.1)
      AnnIndex.rebuildAuto(s, s"$root/idx1", s"$root/idx2",
        targetCellRows = 16L, fullTrainAbove = 8, imiAbove = 1)
      require(AnnIndex.hasImi(s, s"$root/idx2"),
        "q65i must rebuild across the quantizer-type boundary (imiAbove = 1)")
      val q2 = start(s"$root/idx2")
      try { input.addData(b2.toSeq: _*); q2.processAllAvailable() } finally q2.stop()
      s.read.parquet(s"$root/landed")
        .select(col("vec_id"), col("batch").cast("string").as("batch"))
    },
    Some(annIngestGreedyOracle))

  /** [[graft.operators.AnnIndex.occupancyReport]] — the vector index's
    * cell-skew maintenance report (VERDICT r16 item 2; ORACLE-GATED
    * since r18, VERDICT r17 item 2, via the q33c injectable-INTEGER-
    * quantizer pattern): the index is [[AnnIndex.initImi]]'d with the
    * [[Similarity.linearCentroid]] family split into two 32-dim halves
    * (k₁ = k₂ = 8, the product-grid geometry whose skew the report
    * exists to watch) over integer-quantized embeddings, so every
    * half-distance is an exact long and DuckDB rebuilds the CELL
    * ASSIGNMENT bit-for-bit (ties break on the lower combined cell id,
    * [[graft.expressions.NearestImiCellsExpr]]'s pinned rule) — the
    * whole report, not just its arithmetic, is ANSI-replayable. Exact
    * copies of every 10th vector land in their source's cell; at
    * `maxCell = 16` both gate SFs hold hot AND cold cells (measured:
    * occ 1–32 at sf0.01, 7–111 at sf0.1), so both aggregation branches
    * run under the gate. AnnIndexSpec keeps the hand-built-quantizer
    * pins and the compact-window invariance.
    */
  val q65jAnnIndexOccupancy: Q = Q(
    "q65j_ann_index_occupancy",
    (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000 + lit(0.5)).cast("float"))
          .as("embedding"))
      val corpus = base.unionByName(
        base.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val path = java.nio.file.Files.createTempDirectory("graft_ann_occ").toString
      val imi = graft.operators.Imi.ImiIndex(
        Array.tabulate(8)(c => Similarity.linearCentroid(c, 64).map(_.toDouble).take(32)),
        Array.tabulate(8)(c => Similarity.linearCentroid(c, 64).map(_.toDouble).drop(32)))
      AnnIndex.initImi(s, path, imi)
      AnnIndex.append(corpus, "vec_id", "embedding", path, "00000001")
      require(AnnIndex.hasImi(s, path),
        "q65j must report over the product-grid geometry")
      AnnIndex.occupancyReport(s, path, maxCell = 16)
    },
    Some("""
      WITH iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings),
      corpus AS (
        SELECT vec_id AS id, iv FROM iv
        UNION ALL
        SELECT vec_id + 1000000 AS id, iv FROM iv WHERE vec_id % 10 = 0),
      cents AS (
        SELECT c, list_transform(range(0, 64), i -> (48271 * (c*64 + i) + 11) % 1024 - 512) AS cent
        FROM range(0, 8) tc(c)),
      h1 AS (
        SELECT corpus.id, c.c,
               CAST(list_dot_product(CAST(corpus.iv[1:32] AS DOUBLE[]), CAST(corpus.iv[1:32] AS DOUBLE[]))
                  - 2 * list_dot_product(CAST(corpus.iv[1:32] AS DOUBLE[]), CAST(c.cent[1:32] AS DOUBLE[]))
                  + list_dot_product(CAST(c.cent[1:32] AS DOUBLE[]), CAST(c.cent[1:32] AS DOUBLE[])) AS BIGINT) AS d2
        FROM corpus CROSS JOIN cents c),
      h2 AS (
        SELECT corpus.id, c.c,
               CAST(list_dot_product(CAST(corpus.iv[33:64] AS DOUBLE[]), CAST(corpus.iv[33:64] AS DOUBLE[]))
                  - 2 * list_dot_product(CAST(corpus.iv[33:64] AS DOUBLE[]), CAST(c.cent[33:64] AS DOUBLE[]))
                  + list_dot_product(CAST(c.cent[33:64] AS DOUBLE[]), CAST(c.cent[33:64] AS DOUBLE[])) AS BIGINT) AS d2
        FROM corpus CROSS JOIN cents c),
      combo AS (
        SELECT h1.id, h1.c AS c1, h2.c AS c2, h1.d2 + h2.d2 AS d
        FROM h1 JOIN h2 ON h1.id = h2.id),
      asg AS (
        SELECT id, c1*8 + c2 AS cell
        FROM (SELECT id, c1, c2, d,
                     row_number() OVER (PARTITION BY id ORDER BY d, c1*8 + c2) AS rn
              FROM combo)
        WHERE rn = 1),
      occ AS (SELECT cell, CAST(COUNT(DISTINCT id) AS BIGINT) AS occ FROM asg GROUP BY cell)
      SELECT CAST(COUNT(*) AS BIGINT) AS cells,
             CAST(SUM(occ) AS BIGINT) AS postings,
             CAST(SUM(occ) AS DOUBLE) / COUNT(*) AS mean_occupancy,
             CAST(MAX(occ) AS BIGINT) AS max_occupancy,
             CAST(COUNT(CASE WHEN occ > 16 THEN 1 END) AS BIGINT) AS hot_cells,
             CAST(COALESCE(SUM(CASE WHEN occ > 16 THEN occ END), 0) AS BIGINT) AS hot_postings,
             CAST(COALESCE(SUM(CASE WHEN occ > 16 THEN occ END), 0) AS DOUBLE)
               / CAST(SUM(occ) AS DOUBLE) AS hot_postings_frac
      FROM occ"""))

  /** [[graft.operators.AnnIndex.buildAuto]] under the driver gate — the
    * corpus-SCALED index geometry the round-15 100× run measured 2.6×
    * faster than pinned nlist (BENCH_NOTES). `autoNlist` at 16-row target
    * cells picks ceil(N/16) centroids (32 at sf0.01, 125 at sf0.1 — the
    * natural ceil-division region, a real multi-cell quantizer at every
    * SF, never the fixed nlist = 16), and the probe runs at the returned
    * `nprobe = nlist`, where IVF is EXACT: scaled copies (cosine ≈ 1) of
    * every 10th corpus vector must pair with exactly their source, and
    * negated vectors (cosine −1, same planting as q65d) must match
    * nothing at threshold 0.99 — so the oracle is pure id arithmetic.
    * Gates the whole auto path end-to-end: the corpus count, the sizing
    * arithmetic, the widened 32×nlist training sample, build/probe cell
    * assignment consistency, and the contract that lets a production
    * caller scale nlist with the corpus and keep the SAME answers when
    * nprobe scales with it. No organic cross pair can intrude: a scaled
    * copy's cosine against any OTHER corpus vector equals that organic
    * pair's cosine, bounded far below 0.99 on this corpus (the q65/q65d
    * threshold rationale).
    */
  val q65eAnnAutoSized: Q = Q(
    "q65e_ann_auto_sized",
    (s, dir) => {
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      val path = java.nio.file.Files.createTempDirectory("graft_ann_auto").toString
      // fullTrainAbove = 64 splits the training branch across the gate
      // SFs: sf0.01 (nlist 32) exercises the widened-sample kmeans path,
      // sf0.1 (nlist 125) the distributed Lloyd with k-means|| seeding —
      // both exact at nprobe = nlist, so one oracle gates both branches
      val nlist = AnnIndex.buildAuto(
        base, "vec_id", "embedding", path, targetCellRows = 16L,
        fullTrainAbove = 64)
      val copyVec = transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
      val negVec = transform(col("embedding"), x => (-x).cast("float"))
      val batch = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), copyVec.as("embedding"))
        .unionByName(base.where(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"), negVec.as("embedding")))
      AnnIndex.crossNeighbors(
        batch, "vec_id", "embedding", path, threshold = 0.99, nprobe = nlist)
        .select(col("corpus_id"), col("batch_id"))
    },
    Some("""
      SELECT vec_id AS corpus_id, vec_id + 1000000 AS batch_id
      FROM embeddings WHERE vec_id % 10 = 0"""))

  /** The BULK-batch probe shape under the driver gate ([[graft.operators
    * .AnnIndex.crossNeighborsBulk]], round 17): [[q65eAnnAutoSized]]'s
    * corpus-scaled index and planted families probed through the
    * shuffle-join variant — the physical shape for batches too large to
    * broadcast (the per-micro-batch path ships batch × nprobe query
    * vectors to every task; bulk broadcasts only the ≤ nlist-int probed-
    * cell set and shuffles the candidate join by cell). Semantics must
    * be IDENTICAL: at nprobe = nlist the probe is exact, so the q65e
    * pure-arithmetic oracle carries over verbatim — one hash gates that
    * the join-strategy swap changes nothing about what matches.
    * AnnIndexSpec additionally pins bulk ≡ broadcast equality at partial
    * nprobe and asserts the probes side actually left the broadcast.
    */
  val q65kAnnCrossBulk: Q = Q(
    "q65k_ann_cross_bulk",
    (s, dir) => {
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      val path = java.nio.file.Files.createTempDirectory("graft_ann_bulk").toString
      val nlist = AnnIndex.buildAuto(
        base, "vec_id", "embedding", path, targetCellRows = 16L,
        fullTrainAbove = 64)
      val copyVec = transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
      val negVec = transform(col("embedding"), x => (-x).cast("float"))
      val batch = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), copyVec.as("embedding"))
        .unionByName(base.where(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"), negVec.as("embedding")))
      AnnIndex.crossNeighborsBulk(
        batch, "vec_id", "embedding", path, threshold = 0.99,
        probe = AnnIndex.Probe.Cells(nlist), maxCell = Int.MaxValue)
        .select(col("corpus_id"), col("batch_id"))
    },
    Some("""
      SELECT vec_id AS corpus_id, vec_id + 1000000 AS batch_id
      FROM embeddings WHERE vec_id % 10 = 0"""))

  /** The geometry-maintenance pair ([[graft.operators.AnnIndex
    * .resizeReport]] → [[graft.operators.AnnIndex.rebuildAuto]]) under
    * the driver gate: an index built at the PINNED nlist = 16 — exactly
    * the outgrown geometry the round-15 100× run caught probing 2.6×
    * slow — must (a) be flagged by resizeReport at 16-row target cells
    * (mean cell far over slack × target, sized ≠ current; asserted
    * loudly inside the face), and (b) rebuild through one rebuildAuto
    * call into corpus-sized cells that serve EXACT answers at the
    * returned nprobe = nlist: scaled copies of every 10th corpus vector
    * pair with exactly their source — the same pure-arithmetic oracle as
    * q65e, now proving the retrain+re-land path loses and invents
    * nothing. Covers the id-dedup read, PQ-less init branch, fresh-path
    * guards, and the append's re-assignment under NEW centroids.
    */
  val q65fAnnRebuild: Q = Q(
    "q65f_ann_rebuild",
    (s, dir) => {
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = java.nio.file.Files.createTempDirectory("graft_ann_rebuild").toString
      AnnIndex.build(base, "vec_id", "embedding", s"$root/old", nlist = 16)
      val advice = AnnIndex.resizeReport(
        s, s"$root/old", targetCellRows = 16L, slack = 1.5).head()
      require(advice.getAs[Boolean]("resize_recommended"),
        s"resizeReport must flag the outgrown nlist=16 geometry, got $advice")
      val nlist = AnnIndex.rebuildAuto(
        s, s"$root/old", s"$root/new", targetCellRows = 16L)
      val copyVec = transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
      val batch = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), copyVec.as("embedding"))
      AnnIndex.crossNeighbors(
        batch, "vec_id", "embedding", s"$root/new", threshold = 0.99, nprobe = nlist)
        .select(col("corpus_id"), col("batch_id"))
    },
    Some("""
      SELECT vec_id AS corpus_id, vec_id + 1000000 AS batch_id
      FROM embeddings WHERE vec_id % 10 = 0"""))

  /** The TWO-LEVEL quantizer under the driver gate ([[graft.operators
    * .Imi]], VERDICT r15 item 3): the same corpus-sized geometry as q65e
    * forced onto the IMI branch (`imiAbove = 1`), so the coarse router
    * is the product of two half-space quantizers — the design that
    * removes the flat quantizer's task-payload/clamp ceiling (the
    * centroid table shrinks from nlist × dim to 2·√nlist × dim/2
    * doubles). At `Probe.Fraction(1.0)` every product cell is probed, so
    * acceptance is EXACT threshold semantics whatever grid training
    * produced, and the q65e pure-arithmetic oracle carries over
    * unchanged: scaled copies pair with exactly their source, negations
    * match nothing. `fullTrainAbove = 8` splits the per-half training
    * branch across the gate SFs (sf0.01: kPerHalf 6, sampled k-means;
    * sf0.1: kPerHalf 12, distributed Lloyd + k-means|| per half). Gates
    * the product-cell assignment expression, build/probe grid
    * consistency, the auto-switch, and the fraction-probe resolution
    * against a product geometry in one hash.
    */
  val q65gAnnImiExact: Q = Q(
    "q65g_ann_imi_exact",
    (s, dir) => {
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      val path = java.nio.file.Files.createTempDirectory("graft_ann_imi").toString
      AnnIndex.buildAuto(
        base, "vec_id", "embedding", path, targetCellRows = 16L,
        fullTrainAbove = 8, imiAbove = 1)
      require(AnnIndex.hasImi(s, path),
        "q65g must exercise the two-level quantizer (imiAbove = 1)")
      val copyVec = transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
      val negVec = transform(col("embedding"), x => (-x).cast("float"))
      val batch = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), copyVec.as("embedding"))
        .unionByName(base.where(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"), negVec.as("embedding")))
      AnnIndex.crossNeighbors(
        batch, "vec_id", "embedding", path, 0.99,
        AnnIndex.Probe.Fraction(1.0), Int.MaxValue)
        .select(col("corpus_id"), col("batch_id"))
    },
    Some("""
      SELECT vec_id AS corpus_id, vec_id + 1000000 AS batch_id
      FROM embeddings WHERE vec_id % 10 = 0"""))

  /** [[graft.operators.AnnIndex.maintenanceReport]] ACTED ON, end-to-end
    * (VERDICT r17 item 1, the q139c pattern: the recommendation string
    * itself is oracle-pinned): the q65j injectable integer IMI quantizer
    * (64 cells) over the quantized embeddings is NATURALLY skewed —
    * measured hot(>16)-postings fractions 0.28/0.93 at sf0.01/sf0.1
    * against a healthy mean (7.8/31.3 ≪ slack × 32) — and every vector
    * is distinct, so the skew is REDUCIBLE and the deterministic verdict
    * at these knobs is `rebuild_skew_larger_nlist` at BOTH SFs (a drift
    * to any other branch hash-fails on the emitted string). The face
    * then EXECUTES the recommendation — [[AnnIndex.rebuildAuto]] at
    * `targetCellRows / skewShrink` — and probes the remediated index at
    * the returned `nprobe = nlist`, where IVF is exact whatever the new
    * trained geometry: scaled copies of every 10th corpus vector must
    * pair with exactly their source and negated vectors with nothing
    * (max organic quantized cosine measured 0.60, far under the 0.99
    * threshold), so the oracle is pure id arithmetic — the remediation
    * loses and invents nothing.
    */
  val q65lAnnMaintenance: Q = Q(
    "q65l_ann_maintenance",
    (s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000 + lit(0.5)).cast("float"))
          .as("embedding"))
      val root = java.nio.file.Files.createTempDirectory("graft_ann_maint").toString
      val imi = graft.operators.Imi.ImiIndex(
        Array.tabulate(8)(c => Similarity.linearCentroid(c, 64).map(_.toDouble).take(32)),
        Array.tabulate(8)(c => Similarity.linearCentroid(c, 64).map(_.toDouble).drop(32)))
      AnnIndex.initImi(s, s"$root/idx", imi)
      AnnIndex.append(base, "vec_id", "embedding", s"$root/idx", "00000001")
      val targetCellRows = 32L
      val skewShrink = 4L
      val rep = AnnIndex.maintenanceReport(
        s, s"$root/idx", targetCellRows = targetCellRows, slack = 2.0,
        maxCell = 16, hotFracMax = 0.2, skewShrink = skewShrink).head()
      val rec = rep.getAs[String]("recommended")
      // execute what the verdict says: the skew rebuild at the finer
      // geometry the report itself sized
      val nlist = AnnIndex.rebuildAuto(
        s, s"$root/idx", s"$root/idx2",
        targetCellRows = targetCellRows / skewShrink)
      val copyVec = transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
      val negVec = transform(col("embedding"), x => (-x).cast("float"))
      val batch = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), copyVec.as("embedding"))
        .unionByName(base.where(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"), negVec.as("embedding")))
      AnnIndex.crossNeighbors(
        batch, "vec_id", "embedding", s"$root/idx2", threshold = 0.99, nprobe = nlist)
        .select(col("corpus_id"), col("batch_id"))
        .withColumn("recommended", lit(rec))
    },
    Some("""
      SELECT vec_id AS corpus_id, vec_id + 1000000 AS batch_id,
             'rebuild_skew_larger_nlist' AS recommended
      FROM embeddings WHERE vec_id % 10 = 0"""))

  /** Row-level expectation routing: q61's scorecard says how many rows
    * break each rule; this emits WHICH rows and WHY — the quarantine
    * feed (`Expectations.annotate`, the scan side of `route`). The
    * violated-rule list is emitted comma-joined: `concat_ws`/`array_join`
    * both skip the non-violated (null) arms, and ruleset order fixes the
    * string, so the hash comparison is exact.
    */
  val q66ExpectationsRoute: Q = Q(
    "q66_expectations_route",
    (s, dir) => {
      val ex = graft.operators.Expectations
      ex.annotate(t(s, dir, "lineitem"), Seq(
        ex.notNull("l_orderkey"),
        ex.inRange("l_quantity", 1, 25),
        ex.inRange("l_discount", 0.0, 0.05),
        ex.notNull("l_shipdate")))
        .where(size(col("violated")) > 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          array_join(col("violated"), ",").as("violated"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
             concat_ws(',',
               CASE WHEN l_orderkey IS NULL THEN 'not_null_l_orderkey' END,
               CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 25 THEN 'range_l_quantity' END,
               CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05 THEN 'range_l_discount' END,
               CASE WHEN l_shipdate IS NULL THEN 'not_null_l_shipdate' END) AS violated
      FROM lineitem
      WHERE l_orderkey IS NULL
         OR l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 25
         OR l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05
         OR l_shipdate IS NULL"""))

  /** The q63 funnel through the PURE SQL surface: `graft_funnel` (the
    * mergeable TypedImperativeAggregate, [[graft.expressions.FunnelAgg]])
    * registered on the session and invoked from SQL text — no DataFrame
    * code in the query path. Same oracle as q63: the aggregate must
    * reproduce the chained min-join formulation bit-for-bit, which also
    * pins agg-path ≡ fold-path equivalence through the driver's hash.
    */
  val q67FunnelSqlAgg: Q = Q(
    "q67_funnel_sql_agg",
    (s, dir) => {
      graft.expressions.GraftFunctions.register(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT user_id,
               CAST(size(times) AS INT) AS depth,
               try_element_at(times, 1) AS t_1,
               try_element_at(times, 2) AS t_2,
               try_element_at(times, 3) AS t_3
        FROM (SELECT user_id,
                     graft_funnel(ts_ns div 1000, event_type,
                                  array('view', 'click', 'purchase')) AS times
              FROM events
              GROUP BY user_id)
        WHERE size(times) > 0""")
    },
    q63Funnel.oracle)

  /** Sequence-packing manifest, concat-then-split convention: documents
    * laid head-to-tail per shard (doc_id % 8 — modulo, not hash, so the
    * oracle can shard identically) and cut every 512 tokens. Pure window
    * arithmetic over non-negative longs — truncating (Spark div) and
    * flooring (DuckDB //) division agree — so the whole placement
    * manifest is hash-gated.
    */
  val q68PackConcat: Q = Q(
    "q68_pack_concat",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.concatSplit(
        d, "doc_id", "n_tokens", col("doc_id") % 8, budget = 512L)
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens,
               doc_id % 8 AS shard
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens, shard,
               CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        FROM d)
      SELECT doc_id, n_tokens, shard, start_off,
             start_off // 512 AS first_seq,
             greatest(start_off + n_tokens - 1, start_off) // 512 AS last_seq,
             greatest(start_off + n_tokens - 1, start_off) // 512 - start_off // 512 + 1 AS n_seqs,
             start_off % 512 AS off_in_first
      FROM c"""))

  /** Document-preserving packing twin: first-fit-decreasing bins inside
    * hash shards ([[graft.operators.Packing.greedyBins]]). Inherently
    * sequential per shard (bin packing), so no ANSI oracle — PackingSpec
    * pins capacity, the FFD half-full law, exactly-once packing, and
    * exact parity with a single-threaded reference pack.
    */
  val q68bPackBins: Q = Q(
    "q68b_pack_bins",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.greedyBins(
        d, "doc_id", "n_tokens", budget = 512L, numShards = 8)
    },
    None)

  /** Gap-filled per-user daily series: events resampled to (user, day,
    * day-sum), then every missing day forward-filled and flagged — the
    * lead+sequence+explode single-exchange shape (no spine join). The
    * oracle mirrors it with LEAD + generate_series/unnest; day buckets
    * and money sums are exact integers/decimals, so the fill is
    * hash-gated end to end.
    */
  val q69GapFill: Q = Q(
    "q69_gap_fill",
    (s, dir) => {
      val ops = graft.operators.Timeseries
      val daily = ops.resample(
        t(s, dir, "events"), Seq("user_id"),
        expr("ts_ns div 86400000000000"),
        Seq(sumMoney(col("value")).as("day_value")))
      ops.gapFill(daily, Seq("user_id"), "period", step = 1L)
    },
    Some("""
      WITH d AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS period,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2),
      nx AS (
        SELECT user_id, period, day_value,
               LEAD(period) OVER (PARTITION BY user_id ORDER BY period) AS nxt
        FROM d),
      f AS (
        SELECT user_id, day_value, period AS orig_period,
               unnest(generate_series(period, COALESCE(nxt - 1, period), 1)) AS period
        FROM nx)
      SELECT user_id, period, day_value, period > orig_period AS is_gap FROM f"""))

  /** Corpus bigram novelty per document ([[graft.operators.Ranking
    * .ngramNovelty]]): distinct-bigram counts, corpus-df sums, and the
    * novel fraction — integers plus ONE correctly-rounded division, so
    * the whole scorecard hash-gates. The oracle reuses q34's shingle SQL
    * (the same boundary convention for short docs).
    */
  val q70NgramNovelty: Q = Q(
    "q70_ngram_novelty",
    (s, dir) =>
      graft.operators.Ranking.ngramNovelty(
        t(s, dir, "documents"), "doc_id", "text", n = 2),
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) END AS shl
        FROM d),
      g AS (SELECT DISTINCT doc_id, unnest(shl) AS gram FROM sh),
      f AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS gram_df FROM g GROUP BY gram)
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST(SUM(f.gram_df) AS BIGINT) AS sum_df,
             CAST(SUM(CASE WHEN f.gram_df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
      FROM g JOIN f USING (gram)
      GROUP BY g.doc_id"""))

  /** Zone-map file skipping, end to end: lineitem is range-clustered by
    * ship date into multiple files (the z-order writing shape), a
    * per-file min/max manifest is persisted, and a date-range query is
    * answered through [[graft.sources.ZoneMaps.prunedRead]] — which
    * consults the manifest, skips non-intersecting files, and re-applies
    * the predicate. The oracle is the plain full-scan filter: file
    * skipping must be invisible in the result, visible only in the scan.
    */
  val q71ZoneMapSkip: Q = Q(
    "q71_zone_map_skip",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_zonemap").toString
      val data = base + "/lineitem"
      val mf = base + "/manifest"
      t(s, dir, "lineitem")
        .repartitionByRange(8, col("l_shipdate"))
        .write.mode("overwrite").parquet(data)
      graft.sources.ZoneMaps.save(s, data, mf, Seq("l_shipdate"))
      graft.sources.ZoneMaps.prunedRead(
        s, data, mf, "l_shipdate",
        java.time.Instant.parse("1999-06-01T00:00:00Z"),
        java.time.Instant.parse("1999-08-31T00:00:00Z"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_shipdate").cast("date").as("ship_date"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-06-01' AND l_shipdate <= TIMESTAMP '1999-08-31'"""))

  /** Token-budget mixture plan over the documents corpus: per-source
    * token mass vs targets and the keep fraction `min(1, target/actual)`
    * ([[graft.operators.Packing.mixturePlan]]) — integers plus one
    * correctly-rounded division, hash-gated. src0 is under-targeted
    * (fractional keep), src1 barely targeted, src2 over-targeted (cap at
    * 1.0), everything else untargeted (fraction 0 — a mixture is a
    * whitelist).
    */
  val q72MixturePlan: Q = Q(
    "q72_mixture_plan",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.mixturePlan(
        d, "source", "n_tokens",
        Map("src0" -> 1000L, "src1" -> 100L, "src2" -> 1000000000L))
    },
    Some("""
      WITH d AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      a AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS actual_tokens
        FROM d GROUP BY source)
      SELECT source, n_docs, actual_tokens,
             CAST(CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 100 WHEN 'src2' THEN 1000000000 ELSE 0 END AS BIGINT) AS target_tokens,
             CASE WHEN actual_tokens > 0
                  THEN least(CAST(1.0 AS DOUBLE),
                             CAST(CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 100 WHEN 'src2' THEN 1000000000 ELSE 0 END AS DOUBLE) /
                             CAST(actual_tokens AS DOUBLE))
                  ELSE CAST(0.0 AS DOUBLE) END AS fraction
      FROM a"""))

  /** Gopher-style quality rule report ([[graft.operators.Filtering]]):
    * per-doc signals, per-rule verdicts, and the conjunction — one scan,
    * no shuffle. Thresholds tuned so the corpus splits both ways on the
    * token-count and stopword rules (line-based rules are exercised by
    * FilteringSpec's multi-line fixtures; on this single-line corpus they
    * verify the 0.0 denominatorless path).
    */
  val q73GopherRules: Q = Q(
    "q73_gopher_rules",
    (s, dir) =>
      graft.operators.Filtering.gopherReport(
        t(s, dir, "documents"), "doc_id", "text",
        graft.operators.Filtering.GopherThresholds(
          minTokens = 30L, maxTokens = 80L, minStopwordHits = 1L)),
    Some("""
      WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tkl,
               list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lns
        FROM documents),
      s AS (
        SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) END AS mean_token_len,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) END AS alpha_word_ratio,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                     + (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) END AS symbol_ratio,
          CASE WHEN len(lns) = 0 THEN 0.0
               ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lns) END AS bullet_line_ratio,
          CASE WHEN len(lns) = 0 THEN 0.0
               ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) / len(lns) END AS ellipsis_line_ratio,
          CAST(len(list_distinct(list_filter(tkl, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this')))) AS BIGINT) AS stopword_hits
        FROM toks)
      SELECT *,
        (n_tokens >= 30 AND n_tokens <= 80) AS ok_tokens,
        (mean_token_len >= 3.0 AND mean_token_len <= 10.0) AS ok_mean_len,
        (symbol_ratio <= 0.1) AS ok_symbols,
        (bullet_line_ratio <= 0.9) AS ok_bullets,
        (ellipsis_line_ratio <= 0.3) AS ok_ellipsis,
        (alpha_word_ratio >= 0.8) AS ok_alpha,
        (stopword_hits >= 1) AS ok_stopwords,
        (n_tokens >= 30 AND n_tokens <= 80
         AND mean_token_len >= 3.0 AND mean_token_len <= 10.0
         AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
         AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
         AND stopword_hits >= 1) AS passes
      FROM s"""))

  /** CCNet-style boilerplate strip ([[graft.operators.Boilerplate]]): drop
    * lines whose corpus-wide frequency ≥ 1.8×n_docs — a RATE threshold,
    * so the vocabulary splits the same way at every scale factor (17/14
    * at sf0.01, where 1.8×500 = 900). The corpus is single-line, so
    * spaces become newlines first — every token is a "line", and the
    * high-frequency vocabulary plays the boilerplate role. A fully
    * stripped doc is `''` on both engines (the oracle coalesces
    * `array_to_string`, whose string_agg core is NULL over zero
    * elements). Multi-line semantics (blank lines, padded repeats,
    * order) are pinned by BoilerplateSpec.
    */
  val q74BoilerplateStrip: Q = Q(
    "q74_boilerplate_strip",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), translate(col("text"), " ", "\n").as("text"))
      val minDf = math.ceil(1.8 * d.count()).toLong
      graft.operators.Boilerplate.stripCommonLines(d, "text", minDf = minDf)
        .select("doc_id", "text_clean", "n_lines_dropped")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents),
      lns AS (
        SELECT trim(ln) AS key
        FROM (SELECT unnest(string_split(text, chr(10))) AS ln FROM d)
        WHERE length(trim(ln)) > 0),
      df AS (SELECT key, COUNT(*) AS df FROM lns GROUP BY key),
      commons AS (
        SELECT coalesce(list(key), CAST([] AS VARCHAR[])) AS ks
        FROM df WHERE df >= CAST(ceil(1.8 * (SELECT COUNT(*) FROM d)) AS BIGINT))
      SELECT doc_id,
             coalesce(array_to_string(list_filter(string_split(text, chr(10)),
               x -> NOT (length(trim(x)) > 0 AND list_contains(ks, trim(x)))), chr(10)), '') AS text_clean,
             CAST(len(list_filter(string_split(text, chr(10)),
               x -> length(trim(x)) > 0 AND list_contains(ks, trim(x)))) AS BIGINT) AS n_lines_dropped
      FROM d, commons"""))

  /** Epoch-style mixture oversampling
    * ([[graft.operators.Packing.mixtureSampleRepeats]]): sources whose
    * target exceeds their token mass are REPEATED — floor(f) full epochs
    * plus a fractional residue pass. The residue draw here is the
    * injectable systematic form `(doc_id % 1000)/1000` so the whole
    * output is oracle-comparable; the production default (key-hash
    * uniform) is pinned by PackingSpec instead.
    */
  val q75MixtureEpochs: Q = Q(
    "q75_mixture_epochs",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.mixtureSampleRepeats(
        d, "doc_id", "source", "n_tokens",
        Map("src3" -> 3500L, "src4" -> 600L, "src5" -> 4000L),
        uniform = Some(pmod(col("doc_id"), lit(1000L)).cast("double") / lit(1000.0)))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      a AS (SELECT source, SUM(n_tokens) AS actual FROM d GROUP BY source),
      f AS (
        SELECT source,
               CASE WHEN actual > 0
                    THEN CAST(CASE source WHEN 'src3' THEN 3500 WHEN 'src4' THEN 600 WHEN 'src5' THEN 4000 ELSE 0 END AS DOUBLE) / actual
                    ELSE 0.0 END AS f
        FROM a),
      c AS (
        SELECT d.doc_id, d.source, d.n_tokens,
               CAST(floor(f.f) AS BIGINT)
                 + CASE WHEN (d.doc_id % 1000) / 1000.0 < f.f - floor(f.f) THEN 1 ELSE 0 END AS n_copies
        FROM d JOIN f USING (source))
      SELECT doc_id, source, n_tokens,
             unnest(generate_series(CAST(0 AS BIGINT), n_copies - 1)) AS epoch
      FROM c WHERE n_copies > 0"""))

  /** α-temperature mixture plan
    * ([[graft.operators.Packing.temperatureMixturePlan]]) at α = 0.5 with
    * the budget set to the corpus's own token mass: sqrt-compressed
    * weights re-split the SAME total, so heavy sources plan fractional
    * keeps and light sources cap at 1.0 — live witnesses on both sides at
    * every scale. Exactness rides the integerized basis: floor of an
    * IEEE-exact sqrt, integer sums, exact decimal floor-division — every
    * output column is hash-comparable.
    */
  val q76TemperaturePlan: Q = Q(
    "q76_temperature_plan",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("source"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      val budget = d.agg(sum(col("n_tokens"))).first().getLong(0)
      graft.operators.Packing.temperatureMixturePlan(
        d, "source", "n_tokens", budget, alpha = 0.5)
    },
    Some("""
      WITH d AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      a AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS actual_tokens
        FROM d GROUP BY source),
      b AS (
        SELECT *, CAST(CASE WHEN actual_tokens > 0
                            THEN floor(sqrt(CAST(actual_tokens AS DOUBLE)))
                            ELSE 0 END AS HUGEINT) AS basis
        FROM a),
      tt AS (
        SELECT *, SUM(basis) OVER () AS total,
               (SELECT CAST(SUM(n_tokens) AS HUGEINT) FROM d) AS budget
        FROM b)
      SELECT source, n_docs, actual_tokens,
             CAST((basis * budget) // total AS BIGINT) AS target_tokens,
             CAST(basis AS DOUBLE) / CAST(total AS DOUBLE) AS weight,
             CASE WHEN actual_tokens > 0
                  THEN least(CAST(1.0 AS DOUBLE),
                             CAST((basis * budget) // total AS DOUBLE) /
                             CAST(actual_tokens AS DOUBLE))
                  ELSE CAST(0.0 AS DOUBLE) END AS fraction
      FROM tt"""))

  /** EXACT per-source top cut
    * ([[graft.operators.Filtering.topFractionBySource]]): keep each
    * source's floor(0.3·n) highest-token documents, score ties broken by
    * doc_id — the per-domain classifier-score cut, here scored by token
    * count so the oracle is integer-exact.
    */
  val q77TopFraction: Q = Q(
    "q77_top_fraction",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Filtering.topFractionBySource(
        d, "source", "doc_id", "n_tokens", 0.3)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT doc_id, source, n_tokens FROM d
      QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id ASC)
              <= CAST(floor(0.3 * CAST(COUNT(*) OVER (PARTITION BY source) AS DOUBLE)) AS BIGINT)"""))

  /** SCALE form of q77 ([[graft.operators.Filtering.aboveQuantileBySource]]):
    * GK-sketch per-source threshold, no per-source sort. No oracle (the
    * sketch's rank-error tolerance is not SQL-expressible); gated against
    * the exact q77 cut by FilteringSpec's count-tolerance and
    * threshold-consistency cases.
    */
  val q77bTopQuantileSketch: Q = Q(
    "q77b_top_quantile_sketch",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Filtering.aboveQuantileBySource(d, "source", "n_tokens", 0.3)
    },
    None)

  /** Per-source vocabulary statistics
    * ([[graft.operators.Ranking.vocabStats]]): types, tokens, hapaxes,
    * type/token and hapax ratios — all counts integer-exact, each ratio
    * one IEEE division. The oracle mirrors the null-group contract with
    * IS NOT DISTINCT FROM.
    */
  val q78VocabStats: Q = Q(
    "q78_vocab_stats",
    (s, dir) =>
      graft.operators.Ranking.vocabStats(t(s, dir, "documents"), "source", "text"),
    Some("""
      WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS term
        FROM documents),
      ts AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2),
      v AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM ts GROUP BY 1),
      d AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
      SELECT d.source, d.n_docs,
             COALESCE(v.n_tokens, 0) AS n_tokens,
             COALESCE(v.n_types, 0) AS n_types,
             COALESCE(v.n_hapax, 0) AS n_hapax,
             CASE WHEN COALESCE(v.n_tokens, 0) > 0
                  THEN CAST(v.n_types AS DOUBLE) / CAST(v.n_tokens AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS type_token_ratio,
             CASE WHEN COALESCE(v.n_types, 0) > 0
                  THEN CAST(v.n_hapax AS DOUBLE) / CAST(v.n_types AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS hapax_ratio
      FROM d LEFT JOIN v ON d.source IS NOT DISTINCT FROM v.source"""))

  /** Skew report ([[graft.operators.Salt.skewReport]]) over a
    * deliberately skewed derived key (half the rows collapse onto
    * 'heavy', the rest spread over per-quantity keys): only the hot key
    * crosses minShare = 0.1, its salt factor exact integer
    * ceil-division. The quantity values are integral, so the int cast
    * agrees between engines.
    */
  val q79SkewReport: Q = Q(
    "q79_skew_report",
    (s, dir) => {
      val l = t(s, dir, "lineitem").withColumn(
        "qty_key",
        when(col("l_quantity") <= 25, lit("heavy"))
          .otherwise(col("l_quantity").cast("int").cast("string")))
      graft.operators.Salt.skewReport(l, Seq("qty_key"), minShare = 0.1, numPartitions = 32)
    },
    Some("""
      WITH k AS (
        SELECT CASE WHEN l_quantity <= 25 THEN 'heavy'
                    ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END AS qty_key
        FROM lineitem),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM k),
      g AS (SELECT qty_key, CAST(COUNT(*) AS BIGINT) AS n_rows FROM k GROUP BY 1)
      SELECT qty_key, n_rows,
             CAST(n_rows AS DOUBLE) / CAST(n AS DOUBLE) AS share,
             CAST((n_rows * 32 + n - 1) // n AS BIGINT) AS salt_factor
      FROM g, tot
      WHERE n_rows >= CAST(ceil(0.1 * n) AS BIGINT)"""))

  /** Quality-classifier training
    * ([[graft.operators.Classifier.trainTermStats]]): per-term class
    * counts with `lang = 'en'` as the reference label and minCount = 2
    * pruning — the trained model table itself, integer-exact.
    */
  val q80NbModel: Q = Q(
    "q80_nb_model",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("is_ref", col("lang") === "en")
      graft.operators.Classifier.trainTermStats(d, "is_ref", "text", minCount = 2L)
    },
    Some("""
      WITH toks AS (
        SELECT (lang = 'en') AS pos,
               unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS term
        FROM documents WHERE lang IS NOT NULL)
      SELECT term,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_tf,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_tf
      FROM toks GROUP BY 1
      HAVING COUNT(*) >= 2"""))

  /** NB log-odds scoring ([[graft.operators.Classifier.scoreNB]]). No
    * oracle (`ln` weights); determinism is structural — ×10¹²-quantized
    * integer sums — and the semantics are gated by ClassifierSpec
    * (driver-side recompute, partitioning invariance) plus the exact
    * q80c twin sharing the whole dataflow shape.
    */
  val q80bNbScore: Q = Q(
    "q80b_nb_score",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("is_ref", col("lang") === "en")
      val model = graft.operators.Classifier.trainTermStats(d, "is_ref", "text", minCount = 2L)
      graft.operators.Classifier.scoreNB(d, model, "doc_id", "text")
    },
    None)

  /** Log-free classifier twin ([[graft.operators.Classifier.oddsMass]]):
    * exact integer likelihood masses and the cross-multiplied decision,
    * end-to-end hash-gated — train AND score in one oracle.
    */
  val q80cOddsMass: Q = Q(
    "q80c_odds_mass",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("is_ref", col("lang") === "en")
      val model = graft.operators.Classifier.trainTermStats(d, "is_ref", "text", minCount = 2L)
      graft.operators.Classifier.oddsMass(d, model, "doc_id", "text")
    },
    Some("""
      WITH toks0 AS (
        SELECT (lang = 'en') AS pos,
               unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS term
        FROM documents WHERE lang IS NOT NULL),
      m AS (
        SELECT term,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_tf,
               CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_tf
        FROM toks0 GROUP BY 1
        HAVING COUNT(*) >= 2),
      tot AS (
        SELECT CAST(COALESCE(SUM(pos_tf), 0) AS HUGEINT) AS np,
               CAST(COALESCE(SUM(neg_tf), 0) AS HUGEINT) AS nn,
               CAST(COUNT(*) AS HUGEINT) AS v
        FROM m),
      toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2)
      SELECT tf.doc_id,
             CAST(SUM(tf.tf * COALESCE(m.pos_tf + 1, 1)) AS BIGINT) AS pos_mass,
             CAST(SUM(tf.tf * COALESCE(m.neg_tf + 1, 1)) AS BIGINT) AS neg_mass,
             (CAST(SUM(tf.tf * COALESCE(m.pos_tf + 1, 1)) AS HUGEINT) * (tot.nn + tot.v)) >
             (CAST(SUM(tf.tf * COALESCE(m.neg_tf + 1, 1)) AS HUGEINT) * (tot.np + tot.v)) AS reference_like
      FROM tf LEFT JOIN m ON tf.term = m.term CROSS JOIN tot
      GROUP BY tf.doc_id, tot.np, tot.nn, tot.v"""))

  /** End-to-end curation pipeline ([[graft.operators.Curation.run]]):
    * Gopher quality filter (q73 thresholds) → exact dedup →
    * decontamination vs the doc_id%17 eval split (q54 shape, n = 3,
    * max ratio 0.05 ≈ the sf0.01 median — live witnesses both sides) →
    * per-source top-half token cut. The entire four-stage chain is one
    * oracle: DuckDB rebuilds every stage and the survivor sets must
    * hash-match, text included.
    */
  val q81CurationPipeline: Q = Q(
    "q81_curation_pipeline",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Curation.run(
        docs.where(col("doc_id") % 17 =!= 0),
        graft.operators.CurationConfig(
          gopher = Some(graft.operators.Filtering.GopherThresholds(
            minTokens = 30L, maxTokens = 80L, minStopwordHits = 1L)),
          benchmark = Some(docs.where(col("doc_id") % 17 === 0).select(col("text"))),
          contaminationN = 3,
          maxContamination = 0.05,
          keepTopFraction = Some(0.5)))
    },
    Some("""
      WITH base AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
      tkx AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tkl,
               list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lns,
               text
        FROM base),
      g AS (
        SELECT doc_id FROM tkx
        WHERE CAST(len(tk) AS BIGINT) BETWEEN 30 AND 80
          AND (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) END)
              BETWEEN 3.0 AND 10.0
          AND (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                          + (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) END) <= 0.1
          AND (CASE WHEN len(lns) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lns) END) <= 0.9
          AND (CASE WHEN len(lns) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) / len(lns) END) <= 0.3
          AND (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) END) >= 0.8
          AND CAST(len(list_distinct(list_filter(tkl, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this')))) AS BIGINT) >= 1),
      gf AS (SELECT b.* FROM base b JOIN g USING (doc_id)),
      dd AS (
        SELECT * FROM gf
        QUALIFY row_number() OVER (
          PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
          ORDER BY doc_id) = 1),
      bsh AS (
        SELECT DISTINCT unnest(list_distinct(
          CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
               ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END)) AS gr
        FROM (SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
              FROM documents WHERE doc_id % 17 = 0)),
      dsh AS (
        SELECT doc_id, list_distinct(
          CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
               ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
        FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
              FROM dd)),
      hits AS (
        SELECT i.doc_id, COUNT(*) AS hit
        FROM (SELECT doc_id, unnest(sh) AS gr FROM dsh) i
        JOIN bsh b ON b.gr = i.gr
        GROUP BY 1),
      keep AS (
        SELECT d.doc_id
        FROM dsh d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.sh IS NOT NULL
          AND CAST(COALESCE(h.hit, 0) AS DOUBLE) / len(d.sh) <= 0.05),
      dc AS (SELECT dd.* FROM dd JOIN keep USING (doc_id)),
      sc AS (
        SELECT dc.*,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS nt
        FROM dc)
      SELECT doc_id, text, lang, source, n_chars FROM sc
      QUALIFY row_number() OVER (PARTITION BY source ORDER BY nt DESC, doc_id ASC)
              <= CAST(floor(0.5 * CAST(COUNT(*) OVER (PARTITION BY source) AS DOUBLE)) AS BIGINT)"""),
    headline = true) // serving path: the 4-stage curation chain timed per round

  /** Bigram LM training ([[graft.operators.NgramLm.trainBigramStats]]):
    * the CCNet-style perplexity-filter model, trained on the English
    * slice as the reference corpus — pair counts hash-gated end to end.
    */
  val q82LmBigrams: Q = Q(
    "q82_lm_bigrams",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.NgramLm.trainBigramStats(
        d.where(col("lang") === "en"), "text", minCount = 2L)
    },
    Some("""
      WITH tkx AS (
        SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE lang = 'en'),
      prs AS (
        SELECT unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i+1]])) AS pr
        FROM tkx WHERE len(tk) >= 2)
      SELECT pr[1] AS w1, pr[2] AS w2, CAST(COUNT(*) AS BIGINT) AS bigram_tf
      FROM prs GROUP BY 1, 2 HAVING COUNT(*) >= 2"""))

  /** LM mean-surprisal scoring ([[graft.operators.NgramLm.surprisal]]).
    * No oracle (`ln` weights); determinism is structural — ×10¹²-quantized
    * integer sums — and the semantics are gated by NgramLmSpec
    * (driver-side recompute, partitioning invariance, exact OOV law)
    * plus the exact q82c twin sharing the whole dataflow shape.
    */
  val q82bLmSurprisal: Q = Q(
    "q82b_lm_surprisal",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val model = graft.operators.NgramLm.trainBigramStats(
        d.where(col("lang") === "en"), "text", minCount = 2L)
      graft.operators.NgramLm.surprisal(d, model, "doc_id", "text")
    },
    None)

  /** Log-free LM twin ([[graft.operators.NgramLm.pooledLikelihood]]):
    * exact integer likelihood masses and the cross-multiplied fluency
    * decision at threshold 1/29 (≈ the sf0.01 median pooled ratio — live
    * witnesses both sides), train AND score in one hash-gated oracle.
    */
  val q82cLmPooled: Q = Q(
    "q82c_lm_pooled",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val model = graft.operators.NgramLm.trainBigramStats(
        d.where(col("lang") === "en"), "text", minCount = 2L)
      graft.operators.NgramLm.pooledLikelihood(d, model, "doc_id", "text", 1L, 29L)
    },
    Some("""
      WITH ref AS (
        SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE lang = 'en'),
      rp AS (
        SELECT unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i+1]])) AS pr
        FROM ref WHERE len(tk) >= 2),
      m AS (
        SELECT pr[1] AS w1, pr[2] AS w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM rp GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      ctx AS (SELECT w1, SUM(c) AS ctf FROM m GROUP BY 1),
      vv AS (SELECT CAST(COUNT(DISTINCT w2) + 1 AS BIGINT) AS v FROM m),
      d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      dp AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i+1]])) AS pr
        FROM d WHERE len(tk) >= 2),
      tf AS (
        SELECT doc_id, pr[1] AS w1, pr[2] AS w2, CAST(COUNT(*) AS BIGINT) AS tf
        FROM dp GROUP BY 1, 2, 3)
      SELECT tf.doc_id,
             CAST(SUM(tf.tf * COALESCE(m.c + 1, 1)) AS BIGINT) AS num_mass,
             CAST(SUM(tf.tf * (COALESCE(ctx.ctf, 0) + vv.v)) AS BIGINT) AS den_mass,
             (CAST(SUM(tf.tf * COALESCE(m.c + 1, 1)) AS HUGEINT) * 29) >=
             (CAST(SUM(tf.tf * (COALESCE(ctx.ctf, 0) + vv.v)) AS HUGEINT) * 1) AS fluent
      FROM tf LEFT JOIN m ON tf.w1 = m.w1 AND tf.w2 = m.w2
              LEFT JOIN ctx ON tf.w1 = ctx.w1
              CROSS JOIN vv
      GROUP BY tf.doc_id, vv.v"""))

  /** BPE round-0 statistics ([[graft.operators.Bpe.pairCounts]] over
    * [[graft.operators.Bpe.wordFrequencies]]): weighted adjacent
    * character-pair counts — the aggregation every training round
    * re-runs, hash-gated end to end.
    */
  val q83BpePairs: Q = Q(
    "q83_bpe_pairs",
    (s, dir) => {
      val wf = graft.operators.Bpe.wordFrequencies(t(s, dir, "documents"), "text")
      graft.operators.Bpe.pairCounts(graft.operators.Bpe.initialSymbolTable(wf))
    },
    Some("""
      WITH wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
        FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS word
              FROM documents)
        GROUP BY 1),
      sy AS (SELECT regexp_extract_all(word, '(?s).') AS syms, wf FROM wf),
      pr AS (
        SELECT unnest(list_transform(range(1, len(syms)), i -> [syms[i], syms[i+1]])) AS pr, wf
        FROM sy WHERE len(syms) >= 2)
      SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(wf) AS BIGINT) AS pair_wf
      FROM pr GROUP BY 1, 2"""))

  /** BPE merge training ([[graft.operators.Bpe.trainMerges]]): the fitted
    * merge list as (rank, a, b). No oracle (inherently iterative — one
    * argmax per round); gated by BpeSpec's merge-for-merge equality with
    * an independent in-memory reference plus the oracle-gated q83 round
    * statistics it iterates.
    */
  val q83bBpeMerges: Q = Q(
    "q83b_bpe_merges",
    (s, dir) => {
      import s.implicits._
      graft.operators.Bpe
        .trainMerges(t(s, dir, "documents"), "text", numMerges = 12, minPairCount = 2L)
        .zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "a", "b")
    },
    None)

  /** BPE encoding ([[graft.operators.Bpe.encode]]) with the q83b merges:
    * per-document subword counts. No oracle (merge list is data-trained);
    * gated by BpeSpec's round-trip and training-consistency laws.
    */
  val q83cBpeEncode: Q = Q(
    "q83c_bpe_encode",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMerges(d, "text", numMerges = 12, minPairCount = 2L)
      graft.operators.Bpe.encode(d, "text", merges)
        .select(col("doc_id"), size(col("subwords")).cast("long").as("n_subwords"))
    },
    None)

  /** Production BPE encoding face ([[graft.operators.Bpe.encodeFast]]):
    * the mapPartitions merge-replay encoder over the q83b merges — same
    * per-document subword counts as q83c (BpeSpec pins row-for-row
    * equality of the full subword arrays), flat plan at any merge count.
    */
  val q83dBpeEncodeFast: Q = Q(
    "q83d_bpe_encode_fast",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMerges(d, "text", numMerges = 12, minPairCount = 2L)
      graft.operators.Bpe.encodeFast(d, "text", merges)
        .select(col("doc_id"), size(col("subwords")).cast("long").as("n_subwords"))
    },
    None)

  /** Exact phrase search through the POSITIONAL postings
    * ([[graft.operators.TextIndex.phraseTopK]]), ORACLE-GATED: the index
    * is built in two batches (phrase evidence spans the batch boundary),
    * and DuckDB recomputes consecutive-occurrence counts from the raw
    * corpus — they agree only if tokenization, the stored offsets, and
    * the positional intersection are all faithful. Occurrence counts are
    * integers; the (matches desc, doc_id) order is unique, so the top-k
    * set is engine-stable.
    */
  val q93PhraseSearch: Q = Q(
    "q93_phrase_search",
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val path = java.nio.file.Files.createTempDirectory("graft_phrase_index").toString
      graft.operators.TextIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
      graft.operators.TextIndex.append(
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text", path, "00000002")
      graft.operators.TextIndex.phraseTopK(s, path, Seq("query", "value"), 20)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
               CAST(len(list_filter(range(1, len(toks)), i -> toks[i] = 'query' AND toks[i+1] = 'value')) AS BIGINT) AS matches
        FROM tok WHERE len(toks) >= 2)
      SELECT doc_id, matches FROM m WHERE matches > 0
      ORDER BY matches DESC, doc_id LIMIT 20"""))

  /** Deterministic JL random projection, oracle face
    * ([[graft.operators.Projection.project]] with the linear-form sign
    * family): every projected component is an exact integer sum over
    * ×10⁶ floor-quantized inputs, so the whole 64→8 projection of the
    * embeddings table hash-matches DuckDB rebuilding the same modular
    * sign matrix. Output: (vec_id, out_dim, component).
    */
  val q85RandomProjection: Q = Q(
    "q85_random_projection",
    (s, dir) => {
      val proj = graft.operators.Projection.project(
        t(s, dir, "embeddings").select("vec_id", "embedding"),
        "embedding", k = 8,
        graft.operators.Projection.linearSign(seed = 7L))
      proj.select(col("vec_id"), posexplode(col("proj")).as(Seq("out_dim", "component")))
        .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"), col("component"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id, u.j AS j, u.qv AS qv FROM (
          SELECT vec_id,
                 unnest(list_transform(range(1, len(embedding) + 1),
                   j -> {'j': j - 1,
                         'qv': CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)})) AS u
          FROM embeddings))
      SELECT q.vec_id, d.i AS out_dim,
             CAST(SUM(CASE WHEN ((1103515245 * d.i + 12345 * q.j + 7) % 2147483647) * 2 < 2147483647
                      THEN q.qv ELSE -q.qv END) AS BIGINT) AS component
      FROM q CROSS JOIN range(0, 8) AS d(i)
      GROUP BY q.vec_id, d.i"""))

  /** Production face of q85: the xxhash64-parity sign family (better
    * mixing; not ANSI-reproducible). Spec-gated — ProjectionSpec pins
    * determinism, partitioning-invariance, and the JL distance-
    * preservation property; the linear twin q85 hash-gates the shared
    * quantize/sum machinery.
    */
  val q85bProjectionXxhash: Q = Q(
    "q85b_projection_xxhash",
    (s, dir) => {
      val proj = graft.operators.Projection.project(
        t(s, dir, "embeddings").select("vec_id", "embedding"),
        "embedding", k = 8,
        graft.operators.Projection.xxhashSign(seed = 7L))
      proj.select(col("vec_id"), posexplode(col("proj")).as(Seq("out_dim", "component")))
        .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"), col("component"))
    },
    None)

  /** CCNet head/middle/tail perplexity bucketing, end to end: the q82c
    * bigram model scores every document (pooled likelihood num/den — ONE
    * correctly-rounded division per doc), then
    * [[graft.operators.Filtering.scoreBucketsBySource]] cuts each source
    * at exact ⌊h·n⌋/⌊m·n⌋ quotas. The oracle rebuilds model, scores AND
    * buckets — the whole curation stage hash-gated. Docs with < 2 tokens
    * have no transitions and are absent (not scorable), as in CCNet.
    */
  val q86PerplexityBuckets: Q = Q(
    "q86_perplexity_buckets",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val model = graft.operators.NgramLm.trainBigramStats(
        d.where(col("lang") === "en"), "text", minCount = 2L)
      val scored = graft.operators.NgramLm
        .pooledLikelihood(d, model, "doc_id", "text", 1L, 29L)
        .select(col("doc_id"),
          (col("num_mass").cast("double") / col("den_mass").cast("double")).as("score"))
        .join(d.select("doc_id", "source"), "doc_id")
      graft.operators.Filtering.scoreBucketsBySource(
        scored, "source", "doc_id", "score", headFraction = 0.3, middleFraction = 0.4)
        .select("doc_id", "source", "score", "bucket")
    },
    Some("""
      WITH ref AS (
        SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE lang = 'en'),
      rp AS (
        SELECT unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i+1]])) AS pr
        FROM ref WHERE len(tk) >= 2),
      m AS (
        SELECT pr[1] AS w1, pr[2] AS w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM rp GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      ctx AS (SELECT w1, SUM(c) AS ctf FROM m GROUP BY 1),
      vv AS (SELECT CAST(COUNT(DISTINCT w2) + 1 AS BIGINT) AS v FROM m),
      d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      dp AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i+1]])) AS pr
        FROM d WHERE len(tk) >= 2),
      tf AS (
        SELECT doc_id, pr[1] AS w1, pr[2] AS w2, CAST(COUNT(*) AS BIGINT) AS tf
        FROM dp GROUP BY 1, 2, 3),
      pooled AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf * COALESCE(m.c + 1, 1)) AS BIGINT) AS num_mass,
               CAST(SUM(tf.tf * (COALESCE(ctx.ctf, 0) + vv.v)) AS BIGINT) AS den_mass
        FROM tf LEFT JOIN m ON tf.w1 = m.w1 AND tf.w2 = m.w2
                LEFT JOIN ctx ON tf.w1 = ctx.w1
                CROSS JOIN vv
        GROUP BY tf.doc_id, vv.v),
      scored AS (
        SELECT p.doc_id, doc.source,
               CAST(p.num_mass AS DOUBLE) / CAST(p.den_mass AS DOUBLE) AS score
        FROM pooled p JOIN documents doc ON doc.doc_id = p.doc_id),
      ranked AS (
        SELECT doc_id, source, score,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM scored)
      SELECT doc_id, source, score,
             CASE WHEN rn <= FLOOR(0.3 * n) THEN 'head'
                  WHEN rn <= FLOOR(0.3 * n) + FLOOR(0.4 * n) THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked"""))

  /** SCALE face of q86 ([[graft.operators.Filtering
    * .scoreBucketsBySourceSketch]]): GK-sketch thresholds instead of the
    * per-source sort. No oracle (sketch rank tolerance); FilteringSpec
    * pins agreement with the exact form away from quota boundaries.
    */
  val q86bPerplexityBucketsSketch: Q = Q(
    "q86b_perplexity_buckets_sketch",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val model = graft.operators.NgramLm.trainBigramStats(
        d.where(col("lang") === "en"), "text", minCount = 2L)
      val scored = graft.operators.NgramLm
        .pooledLikelihood(d, model, "doc_id", "text", 1L, 29L)
        .select(col("doc_id"),
          (col("num_mass").cast("double") / col("den_mass").cast("double")).as("score"))
        .join(d.select("doc_id", "source"), "doc_id")
      graft.operators.Filtering.scoreBucketsBySourceSketch(
        scored, "source", "score", headFraction = 0.3, middleFraction = 0.4)
        .select("doc_id", "source", "score", "bucket")
    },
    None)

  /** Span-level exact substring dedup
    * ([[graft.operators.SpanDedup.stripRepeatedSpans]], the Lee et al.
    * 2022 stage): every 3-token window occurring in ≥ 2 distinct docs is
    * stripped wherever it appears; the oracle reconstructs cleaned text,
    * token counts AND flagged-window counts — the whole strip hash-gated.
    */
  val q87SpanDedup: Q = Q(
    "q87_span_dedup",
    (s, dir) =>
      graft.operators.SpanDedup.stripRepeatedSpans(
        t(s, dir, "documents"), "doc_id", "text", l = 3, minDf = 2L),
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      g AS (
        SELECT doc_id, u - 1 AS i, array_to_string(tk[u:u+2], ' ') AS gram
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS u FROM d WHERE len(tk) >= 3) w),
      rep AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
      fp AS (SELECT g.doc_id, g.i FROM g JOIN rep USING (gram)),
      cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 3)) AS j FROM fp),
      tp AS (
        SELECT doc_id, u - 1 AS j, tk[u] AS tok
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS u FROM d) w),
      kept AS (
        SELECT t.doc_id, t.j, t.tok FROM tp t
        LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.j = t.j
        WHERE c.doc_id IS NULL),
      agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id),
      wins AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM fp GROUP BY doc_id)
      SELECT d.doc_id,
             CASE WHEN d.tk IS NULL THEN NULL ELSE COALESCE(a.clean_text, '') END AS clean_text,
             CAST(COALESCE(len(d.tk), 0) AS BIGINT) AS n_tokens,
             COALESCE(a.n_kept, 0) AS n_kept,
             CAST(COALESCE(len(d.tk), 0) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
             COALESCE(w.n_windows, 0) AS n_windows
      FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN wins w USING (doc_id)"""))

  /** Tokenizer vocabulary face ([[graft.operators.Bpe.vocabulary]]): the
    * (subword, corpus weight) table under the q83b merges — computed
    * from the word-frequency table, never the corpus. No oracle (merges
    * are data-trained); BpeSpec pins equality with the in-memory
    * reference.
    */
  val q83eBpeVocabulary: Q = Q(
    "q83e_bpe_vocabulary",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMerges(d, "text", numMerges = 12, minPairCount = 2L)
      graft.operators.Bpe.vocabulary(d, "text", merges)
    },
    None)

  /** Byte-level BPE round-0 pair counts, ORACLE-GATED as integers:
    * adjacent UTF-8 byte pairs weighted by word frequency. Bytes are
    * ints on both sides (Spark: `ascii` of the Latin-1 byte char;
    * DuckDB: hex-pair extraction of `encode(word)`), so the byte
    * alphabet itself — not just the downstream merge mechanics — is
    * engine-reproducible.
    */
  val q83fBpeBytePairs: Q = Q(
    "q83f_bpe_byte_pairs",
    (s, dir) => {
      val wf = graft.operators.Bpe.wordFrequenciesBytes(t(s, dir, "documents"), "text")
      graft.operators.Bpe.pairCounts(graft.operators.Bpe.initialSymbolTable(wf))
        .select(
          ascii(col("a")).as("a_byte"),
          ascii(col("b")).as("b_byte"),
          col("pair_wf"))
    },
    Some("""
      WITH wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
        FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS word
              FROM documents)
        GROUP BY 1),
      by AS (
        SELECT wf, list_transform(range(1, octet_length(encode(word)) + 1),
                 i -> CAST('0x' || substr(hex(encode(word)), 2*i-1, 2) AS INT)) AS bs
        FROM wf),
      pr AS (
        SELECT unnest(list_transform(range(1, len(bs)), i -> [bs[i], bs[i+1]])) AS pr, wf
        FROM by WHERE len(bs) >= 2)
      SELECT pr[1] AS a_byte, pr[2] AS b_byte, CAST(SUM(wf) AS BIGINT) AS pair_wf
      FROM pr GROUP BY 1, 2"""))

  /** Byte-level merge training: (rank, a, b) with a/b emitted as
    * comma-joined byte-int strings (the Latin-1 symbol strings are not
    * ANSI-portable; their byte decomposition is — rendered as scalar
    * strings so the verify harness can canonical-sort the dump, which it
    * cannot do for array columns). No oracle (iterative argmax per round,
    * the q83b argument); gated by BpeSpec byte-face laws: round-trip
    * through [[graft.operators.Bpe.fromByteAlphabet]], encode/encodeFast
    * equality, and no-OOV on unseen Unicode.
    */
  val q83gBpeByteMerges: Q = Q(
    "q83g_bpe_byte_merges",
    (s, dir) => {
      import s.implicits._
      graft.operators.Bpe
        .trainMergesBytes(t(s, dir, "documents"), "text", numMerges = 12, minPairCount = 2L)
        .zipWithIndex
        .map { case ((a, b), i) =>
          (i.toLong, a.map(_.toInt).mkString(","), b.map(_.toInt).mkString(","))
        }
        .toDF("rank", "a_bytes", "b_bytes")
    },
    None)

  /** Byte-level production encoding, ORACLE-GATED on the byte-mass
    * invariant: merges only regroup bytes, never create or drop them, so
    * the per-document sum of subword lengths under ANY merge list equals
    * the document's total token byte mass (octet_length per word). A
    * wrong remap, a lost merge symbol, or a dropped word all break it —
    * the whole byte-alphabet encode pipeline is checked end to end
    * without putting the model-dependent segmentation itself (not
    * ANSI-expressible) in the oracle.
    */
  val q83hBpeByteEncode: Q = Q(
    "q83h_bpe_byte_encode",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMergesBytes(d, "text", numMerges = 12, minPairCount = 2L)
      graft.operators.Bpe.encodeFastBytes(d.select("doc_id", "text"), "text", merges)
        .select(
          col("doc_id"),
          aggregate(col("subwords"), lit(0L), (acc, sw) => acc + length(sw)).as("n_bytes"))
    },
    Some("""
      SELECT doc_id,
             COALESCE(CAST(list_sum(list_transform(
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0),
               w -> octet_length(encode(w)))) AS BIGINT), 0) AS n_bytes
      FROM documents"""))

  /** Conjunctive (AND) index search ([[graft.operators.TextIndex
    * .searchTopK]] with `requireAll`): only documents containing EVERY
    * query term score; the filter runs on the candidate-sized pivot.
    * Oracle = the q84 SQL with the all-terms-present condition.
    */
  val q84cTextIndexSearchAll: Q = Q(
    "q84c_text_index_search_all",
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val path = java.nio.file.Files.createTempDirectory("graft_text_index").toString
      graft.operators.TextIndex.build(docs, "doc_id", "text", path)
      graft.operators.TextIndex.searchTopK(
        s, path, Seq("spark", "merge", "window"), 20, requireAll = true)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS toks
        FROM documents),
      stats AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS d FROM tok),
      tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
          SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok) u
        WHERE term IN ('spark', 'merge', 'window')
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      w AS (
        SELECT tf.doc_id, tf.term,
               CAST((2*s.n - 2*df.df + 1) * 22 * tf.tf * s.d AS DOUBLE) /
               CAST((2*df.df + 1) * (10*tf.tf*s.d + 3*s.d + 9*tf.dl*s.n) AS DOUBLE) AS w
        FROM tf JOIN df USING (term) CROSS JOIN stats s),
      piv AS (
        SELECT doc_id,
               MAX(CASE WHEN term = 'spark' THEN w END) AS w0,
               MAX(CASE WHEN term = 'merge' THEN w END) AS w1,
               MAX(CASE WHEN term = 'window' THEN w END) AS w2
        FROM w GROUP BY doc_id)
      SELECT doc_id, w0 + w1 + w2 AS score
      FROM piv
      WHERE w0 IS NOT NULL AND w1 IS NOT NULL AND w2 IS NOT NULL
      ORDER BY score DESC, doc_id
      LIMIT 20"""))

  /** Deterministic weighted sampling face ([[graft.operators.Partitioning
    * .weightedSample]], Efraimidis–Spirakis A-ES on the key-hash
    * uniform): per-source quality-weighted draws with token count as the
    * weight. No oracle (xxhash64 ranks); PartitioningSpec pins
    * determinism, weight-monotone inclusion, and the invalid-weight
    * exclusion contract.
    */
  val q88WeightedSample: Q = Q(
    "q88_weighted_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__w", graft.functions.text.tokenCount(col("text")).cast("double"))
      graft.operators.Partitioning
        .weightedSample(d, "doc_id", "__w", n = 10, seed = 7, perKey = Seq("source"))
        .select("source", "doc_id")
    },
    None)

  /** ORACLE-GATED q88 twin via the injectable uniform: the same
    * exponential-rank selection (rank = u^(1/w), top-10 per source,
    * id tie-break) driven by the systematic `pmod(doc_id,1000)/1000`
    * uniform — the q75 trick — so the draw is ANSI-reproducible. Both
    * engines compute `pow` on bit-identical (u, w) doubles; selection
    * could only drift if two ranks collided within pow's cross-engine
    * ulp error, and distinct doc_ids give distinct u's with ~1e-3 gaps.
    */
  val q88cWeightedSampleSystematic: Q = Q(
    "q88c_weighted_sample_systematic",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__w", graft.functions.text.tokenCount(col("text")).cast("double"))
      graft.operators.Partitioning
        .weightedSample(d, "doc_id", "__w", n = 10, seed = 7, perKey = Seq("source"),
          uniform = Some(pmod(col("doc_id"), lit(1000L)).cast("double") / lit(1000.0)))
        .select("source", "doc_id")
    },
    Some("""
      WITH d AS (
        SELECT source, doc_id,
               CAST(length(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS DOUBLE) AS w
        FROM documents),
      r AS (
        SELECT source, doc_id,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY pow(CAST(doc_id % 1000 AS DOUBLE) / 1000.0, 1.0 / w) DESC, doc_id ASC) AS rn
        FROM d WHERE w IS NOT NULL AND w > 0)
      SELECT source, doc_id FROM r WHERE rn <= 10"""))

  // ===========================================================
  // SemDeDup: semantic dedup over the embedding column
  // ===========================================================

  /** Embedding corpus with planted near-copies — the q32/q32c corpus,
    * shared so the semantic-dedup faces and the near-dup-pair faces can
    * never drift: each vec_id % 10 == 0 row gets a scaled (× 1.001f)
    * copy at vec_id + 1000000, cosine ≈ 1.0 to its source.
    */
  private def embWithPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val perturbed = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001f)).cast("float")).as("embedding"))
    emb.unionByName(perturbed)
  }

  /** SemDeDup (cluster-blocked semantic dedup): train the coarse
    * quantizer over the full corpus, pair within cells, keep one
    * representative per near-dup component. No oracle (k-means cell
    * boundaries are float- and engine-specific); SemDedupSpec gates it
    * against the exact twin — dropped ⊆ q89c's dropped (precision 1) and
    * every planted copy is dropped (recall 1 on the planted set).
    */
  val q89SemanticDedup: Q = Q(
    "q89_semantic_dedup",
    (s, dir) =>
      graft.operators.SemDedup.semanticDedupTrained(
        embWithPlantedDups(s, dir), "vec_id", "embedding",
        nlist = 8, iters = 3, threshold = 0.99)
        .select("vec_id"),
    None)

  /** EXACT semantic-dedup ground truth, ORACLE-GATED end to end:
    * all-pairs cosine ≥ 0.99 (the q32c threshold-margin argument) →
    * recursive transitive closure (the q25d argument) → keep component
    * minima plus all unpaired vectors.
    */
  val q89cSemanticDedupExact: Q = Q(
    "q89c_semantic_dedup_exact",
    (s, dir) =>
      graft.operators.SemDedup.exactKeptIds(
        embWithPlantedDups(s, dir), "vec_id", "embedding", threshold = 0.99),
    Some("""
      WITH RECURSIVE base AS (SELECT vec_id, embedding FROM embeddings),
      pert AS (SELECT vec_id + 1000000 AS vec_id,
                      list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
               FROM base WHERE vec_id % 10 = 0),
      allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
              (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
               sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.99),
      und AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT s, t FROM und
        UNION
        SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s WHERE u.t <> r.s),
      dropped AS (SELECT s AS vec_id FROM reach GROUP BY s HAVING LEAST(s, MIN(t)) <> s)
      SELECT v.vec_id FROM allv v LEFT JOIN dropped d ON v.vec_id = d.vec_id
      WHERE d.vec_id IS NULL"""))

  // ===========================================================
  // End-to-end pretraining composition
  // ===========================================================

  /** THE composed artifact a training job consumes, ORACLE-GATED end to
    * end: curation (Gopher rules + exact dedup) → α=0.5 temperature
    * mixture plan over the curated mass → epoch repeats via the
    * systematic uniform → 512-token concat-split packing keyed by
    * (doc, epoch) → byte-level BPE encode. One manifest row per packed
    * document-epoch: its shard, token offsets, sequence span, and
    * encoded byte mass.
    *
    * Every stage is individually gated today (q73/q81 curation, q76
    * plan, q75 repeats, q68 packing, q83h byte mass); this entry gates
    * the COMPOSITION — stage wiring, column handoffs, and the repeat
    * keying through the pack window — on a single hash. The only
    * non-ANSI-expressible piece, BPE segmentation, contributes through
    * its merge-INVARIANT byte mass (the q83h argument), so the trained
    * tokenizer rides the composed pipeline without weakening the gate.
    */
  val q90PretrainingManifest: Q = Q(
    "q90_pretraining_manifest",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val curated = graft.operators.Caches.pin(
        graft.operators.Curation.run(docs, graft.operators.CurationConfig(
          gopher = Some(graft.operators.Filtering.GopherThresholds(
            minTokens = 30L, maxTokens = 80L, minStopwordHits = 1L)),
          exactDedup = true)))
      val weighted = curated.select(
        col("doc_id"), col("source"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"))
      val budget = weighted.agg(sum("n_tokens")).first().getLong(0)
      val targets = graft.operators.Packing
        .temperatureMixturePlan(weighted, "source", "n_tokens", budget, alpha = 0.5)
        .select("source", "target_tokens").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // (doc, epoch) → a single orderable pack key; epoch < maxEpochs=100 < 128
      val repeated = graft.operators.Packing.mixtureSampleRepeats(
        weighted, "doc_id", "source", "n_tokens", targets,
        uniform = Some(pmod(col("doc_id"), lit(1000L)).cast("double") / lit(1000.0)))
        .select((col("doc_id") * 128L + col("epoch")).as("pack_key"), col("n_tokens"))
      val packed = graft.operators.Packing.concatSplit(
        repeated, "pack_key", "n_tokens", pmod(col("pack_key"), lit(8L)), budget = 512L)
      val merges = graft.operators.Bpe.trainMergesBytes(
        curated, "text", numMerges = 12, minPairCount = 2L)
      val nBytes = graft.operators.Bpe
        .encodeFastBytes(curated.select("doc_id", "text"), "text", merges)
        .select(col("doc_id"),
          aggregate(col("subwords"), lit(0L), (acc, sw) => acc + length(sw)).as("n_bytes"))
      packed
        .select(
          expr("pack_key div 128").as("doc_id"),
          (col("pack_key") % 128L).as("epoch"),
          col("shard"), col("n_tokens"), col("start_off"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .join(nBytes, Seq("doc_id"))
    },
    Some("""
      WITH tkx AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tkl,
               list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lns,
               text
        FROM documents),
      g AS (
        SELECT doc_id FROM tkx
        WHERE CAST(len(tk) AS BIGINT) BETWEEN 30 AND 80
          AND (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) END)
              BETWEEN 3.0 AND 10.0
          AND (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                          + (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) END) <= 0.1
          AND (CASE WHEN len(lns) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lns) END) <= 0.9
          AND (CASE WHEN len(lns) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) / len(lns) END) <= 0.3
          AND (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) END) >= 0.8
          AND CAST(len(list_distinct(list_filter(tkl, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this')))) AS BIGINT) >= 1),
      gf AS (SELECT b.* FROM documents b JOIN g USING (doc_id)),
      dd AS (
        SELECT * FROM gf
        QUALIFY row_number() OVER (
          PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
          ORDER BY doc_id) = 1),
      d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens,
               text
        FROM dd),
      a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS actual FROM d GROUP BY source),
      b2 AS (
        SELECT source, actual,
               CAST(CASE WHEN actual > 0 THEN floor(sqrt(CAST(actual AS DOUBLE))) ELSE 0 END AS HUGEINT) AS basis
        FROM a),
      tt AS (
        SELECT source, actual, basis, SUM(basis) OVER () AS total,
               (SELECT CAST(SUM(n_tokens) AS HUGEINT) FROM d) AS budget
        FROM b2),
      f AS (
        SELECT source,
               CASE WHEN actual > 0
                    THEN CAST(CAST((basis * budget) // total AS BIGINT) AS DOUBLE) / actual
                    ELSE 0.0 END AS f
        FROM tt),
      c AS (
        SELECT d.doc_id, d.n_tokens,
               CAST(floor(f.f) AS BIGINT)
                 + CASE WHEN (d.doc_id % 1000) / 1000.0 < f.f - floor(f.f) THEN 1 ELSE 0 END AS n_copies
        FROM d JOIN f USING (source)),
      rep0 AS (
        SELECT doc_id, n_tokens,
               unnest(generate_series(CAST(0 AS BIGINT), n_copies - 1)) AS epoch
        FROM c WHERE n_copies > 0),
      rep AS (
        SELECT doc_id, epoch, doc_id * 128 + epoch AS pack_key, n_tokens,
               (doc_id * 128 + epoch) % 8 AS shard
        FROM rep0),
      co AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY shard ORDER BY pack_key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        FROM rep),
      nb AS (
        SELECT doc_id,
               COALESCE(CAST(list_sum(list_transform(
                 list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0),
                 w -> octet_length(encode(w)))) AS BIGINT), 0) AS n_bytes
        FROM dd)
      SELECT co.doc_id, co.epoch, co.shard, co.n_tokens, co.start_off,
             start_off // 512 AS first_seq,
             greatest(start_off + co.n_tokens - 1, start_off) // 512 AS last_seq,
             greatest(start_off + co.n_tokens - 1, start_off) // 512 - start_off // 512 + 1 AS n_seqs,
             nb.n_bytes
      FROM co JOIN nb USING (doc_id)"""))

  /** The q52c exact-rational BM25 oracle for query (spark, merge, window),
    * top 20 — shared by the index-serving faces q84/q84b, whose results
    * must equal recomputing from the raw corpus.
    */
  private val bm25RationalOracle: String = """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS toks
        FROM documents),
      stats AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS d FROM tok),
      tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
          SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok) u
        WHERE term IN ('spark', 'merge', 'window')
        GROUP BY doc_id, dl, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      w AS (
        SELECT tf.doc_id, tf.term,
               CAST((2*s.n - 2*df.df + 1) * 22 * tf.tf * s.d AS DOUBLE) /
               CAST((2*df.df + 1) * (10*tf.tf*s.d + 3*s.d + 9*tf.dl*s.n) AS DOUBLE) AS w
        FROM tf JOIN df USING (term) CROSS JOIN stats s),
      piv AS (
        SELECT doc_id,
               MAX(CASE WHEN term = 'spark' THEN w END) AS w0,
               MAX(CASE WHEN term = 'merge' THEN w END) AS w1,
               MAX(CASE WHEN term = 'window' THEN w END) AS w2
        FROM w GROUP BY doc_id)
      SELECT doc_id,
             COALESCE(w0, CAST(0 AS DOUBLE)) + COALESCE(w1, CAST(0 AS DOUBLE)) + COALESCE(w2, CAST(0 AS DOUBLE)) AS score
      FROM piv
      ORDER BY score DESC, doc_id
      LIMIT 20"""

  /** Serving-path halves, shared by the catalog entry (which fuses them —
    * the correctness gate wants build+probe end-to-end) and the bench
    * (which times them SEPARATELY: a standing index's probe latency is
    * the production metric, and inside a fused number it can't regress
    * observably).
    */
  private[graft] def buildTextIndexBatches(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_text_index").toString
    graft.operators.TextIndex.build(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
    graft.operators.TextIndex.append(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text", path, "00000002")
    path
  }

  private[graft] def textIndexProbe(s: SparkSession, path: String): DataFrame =
    graft.operators.TextIndex.searchTopK(s, path, Seq("spark", "merge", "window"), 20)

  /** Persisted inverted-index BM25 search ([[graft.operators.TextIndex]]):
    * the corpus lands as TWO index batches (odd/even doc ids — N, Σdl and
    * per-term df must aggregate across batch partitions), then the query
    * runs purely against the on-disk postings. The oracle recomputes BM25
    * from the raw corpus with the q52c exact-rational formulation — the
    * index path and the from-scratch path must hash-match.
    */
  val q84TextIndexSearch: Q = Q(
    "q84_text_index_search",
    (s, dir) => textIndexProbe(s, buildTextIndexBatches(s, dir)),
    Some(bm25RationalOracle),
    headline = true) // serving path: bench times build and probe separately

  /** q84 after [[graft.operators.TextIndex.compact]]: the two batches fold
    * into one re-clustered partition and the SAME query must return the
    * SAME hash-gated answer — compaction is invisible to search.
    */
  val q84bTextIndexCompacted: Q = Q(
    "q84b_text_index_compacted",
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val path = java.nio.file.Files.createTempDirectory("graft_text_index").toString
      graft.operators.TextIndex.build(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
      graft.operators.TextIndex.append(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text", path, "00000002")
      graft.operators.TextIndex.compact(s, path)
      graft.operators.TextIndex.searchTopK(
        s, path, Seq("spark", "merge", "window"), 20)
    },
    Some(bm25RationalOracle))

  /** The STREAMING keyword-index ingest's batch face ([[graft.streaming
    * .Streams.textIngest]], VERDICT r14 item 5): the corpus arrives as
    * TWO micro-batches into an [[graft.operators.TextIndex.init]]'d-empty
    * index, and the SAME q52c exact-rational BM25 oracle that gates
    * q84/q84b must gate the search over the accrued `s`-labeled batches —
    * textIngest applies no dedup, so the landed union IS the corpus, and
    * agreement pins exactly the streaming-specific machinery: per-batch
    * postings appends, N/Σdl/df aggregation ACROSS streamed partitions,
    * and the exactly-once land. Corpus collect = MemoryStream fixture;
    * the ingest under test is the production foreachBatch.
    */
  val q84dTextIngest: Q = Q(
    "q84d_text_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_textingest").toString
      graft.operators.TextIndex.init(s, s"$root/index")
      val rows = t(s, dir, "documents").select("doc_id", "text")
        .as[(Long, String)].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 2 == 0 }
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.Streams.textIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$root/index", s"$root/landed")
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      graft.operators.TextIndex.searchTopK(
        s, s"$root/index", Seq("spark", "merge", "window"), 20)
    },
    Some(bm25RationalOracle))

  /** [[graft.operators.TextIndex.dfReport]] — the inverted index's
    * postings-skew maintenance report (VERDICT r15 item 4: the
    * resizeReport symmetry for the text index), oracle-gated: the top-20
    * terms by document frequency, computed purely from the on-disk
    * postings of the two-batch q84 index, must equal DuckDB re-tokenizing
    * the raw corpus and aggregating df/Σtf from scratch. Pins the
    * cross-batch df aggregation, the compact-window distinct, and the
    * df-desc/term-asc total order in one hash.
    */
  val q84eTextIndexDf: Q = Q(
    "q84e_text_index_df",
    (s, dir) => graft.operators.TextIndex.dfReport(
      s, buildTextIndexBatches(s, dir), k = 20),
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS toks
        FROM documents),
      u AS (SELECT doc_id, unnest(toks) AS term FROM tok),
      agg AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
                     CAST(COUNT(*) AS BIGINT) AS tokens
              FROM u GROUP BY term)
      SELECT term, df, tokens FROM agg ORDER BY df DESC, term LIMIT 20"""))

  /** [[graft.operators.TextIndex.maintenanceReport]] ACTED ON (r18 —
    * completing the maintenance-verdict triad with q65l/q53f in the
    * q139c pattern): texts are synthesized so every even doc carries the
    * token `common` (df = half the corpus, far over `hotDfFrac`) and
    * every other token is doc-unique, and the corpus lands as THREE
    * micro-batches. With `maxBatches = 2` the first verdict is
    * `compact_microbatches` — the face EXECUTES it ([[TextIndex
    * .compact]]) and re-reports: batch accretion fixed, the verdict
    * falls through to the df-skew signal `review_stopword_policy`, whose
    * evidence (top term, df, df/N) is pure count arithmetic DuckDB
    * replays. Strings and counts, before and after, in one oracle.
    */
  val q84fTextMaintenance: Q = Q(
    "q84f_text_maintenance",
    (s, dir) => {
      def mk(id: Column): Column =
        when(id % 2 === 0,
          concat(lit("common a"), id, lit(" b"), id, lit(" c"), id))
          .otherwise(concat(lit("a"), id, lit(" b"), id, lit(" c"), id, lit(" d"), id))
      val corpus = t(s, dir, "documents").select(col("doc_id"), mk(col("doc_id")).as("text"))
      val path = java.nio.file.Files.createTempDirectory("graft_text_maint").toString
      graft.operators.TextIndex.build(corpus.where(col("doc_id") % 3 === 0),
        "doc_id", "text", path)
      graft.operators.TextIndex.append(corpus.where(col("doc_id") % 3 === 1),
        "doc_id", "text", path, "00000002")
      graft.operators.TextIndex.append(corpus.where(col("doc_id") % 3 === 2),
        "doc_id", "text", path, "00000003")
      val before = graft.operators.TextIndex.maintenanceReport(
        s, path, maxBatches = 2, hotDfFrac = 0.25).head()
      graft.operators.TextIndex.compact(s, path)
      val after = graft.operators.TextIndex.maintenanceReport(
        s, path, maxBatches = 2, hotDfFrac = 0.25).head()
      import s.implicits._
      Seq((
        before.getAs[String]("recommended"), before.getAs[Long]("batches"),
        after.getAs[String]("recommended"), after.getAs[Long]("batches"),
        after.getAs[String]("top_term"), after.getAs[Long]("top_df"),
        after.getAs[Double]("top_df_frac")))
        .toDF("rec_before", "batches_before", "rec_after", "batches_after",
          "top_term", "top_df", "top_df_frac")
    },
    Some("""
      WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS e
        FROM documents)
      SELECT 'compact_microbatches' AS rec_before,
             CAST(3 AS BIGINT) AS batches_before,
             'review_stopword_policy' AS rec_after,
             CAST(1 AS BIGINT) AS batches_after,
             'common' AS top_term, e AS top_df,
             CAST(e AS DOUBLE) / CAST(n AS DOUBLE) AS top_df_frac
      FROM s"""))

  /** [[graft.operators.TextIndex.backfillManifest]] under the gate
    * (round 19): a pre-manifest index (simulated by dropping `versions/`
    * wholesale after two appends) would serve re-appended docs' stale
    * versions through the frame-scoped fallback; the backfill derives
    * each batch's missing doc manifest from its OWN postings — one
    * narrow pass per batch, no postings rewrite — and serving flips to
    * the exact version anchor. The witness is the stale-only query: the
    * `stale` term lives only in re-appended docs' SUPERSEDED versions,
    * so its hit count must drop to exactly the never-re-appended docs —
    * pure count arithmetic DuckDB replays from `documents`. The face
    * also pins the backfilled-batch count (crashed-backfill idempotence
    * is spec-pinned in TextIndexSpec).
    */
  val q84gManifestBackfill: Q = Q(
    "q84g_manifest_backfill",
    (s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val path = java.nio.file.Files.createTempDirectory("graft_text_backfill").toString
      graft.operators.TextIndex.build(
        ids.select(col("doc_id"), lit("common stale").as("text")),
        "doc_id", "text", path)
      graft.operators.TextIndex.append(
        ids.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), lit("common fresh").as("text")),
        "doc_id", "text", path, "00000002")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/versions"), true)
      val backfilled = graft.operators.TextIndex.backfillManifest(s, path).size.toLong
      def hits(term: String): Long =
        graft.operators.TextIndex.searchTopK(s, path, Seq(term), 1000000).count()
      Seq((backfilled, hits("stale"), hits("fresh"), hits("common")))
        .toDF("backfilled_batches", "stale_hits", "fresh_hits", "common_hits")
    },
    Some("""
      WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS BIGINT) AS r
        FROM documents)
      SELECT CAST(2 AS BIGINT) AS backfilled_batches,
             n - r AS stale_hits,
             r AS fresh_hits,
             n AS common_hits
      FROM s"""))

  /** [[graft.operators.TextIndex.compact]]'s stats recompute under the
    * gate (round 19, the r18 ADVICE medium): pre-compact, stats are
    * append-derived sums — a re-appended doc counts once per version and
    * a tombstoned doc forever (`n_before`/`d_before` pin that documented
    * contract); compact recomputes `(N, Σdl)` from the canonical frame
    * it rewrites, so `n_after`/`d_after` must equal a fresh build of the
    * surviving content — re-appends count their latest version once,
    * tombstoned docs not at all. The serving witnesses ride along:
    * version-1-only and version-2-only term hits through the compacted
    * index. Everything is count arithmetic over `documents`.
    */
  val q84hCompactStats: Q = Q(
    "q84h_compact_stats",
    (s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val path = java.nio.file.Files.createTempDirectory("graft_text_cstats").toString
      graft.operators.TextIndex.build(
        ids.select(col("doc_id"), lit("alpha beta gamma").as("text")),
        "doc_id", "text", path)
      graft.operators.TextIndex.append(
        ids.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), lit("delta epsilon").as("text")),
        "doc_id", "text", path, "00000002")
      graft.operators.TextIndex.append(
        ids.where(col("doc_id") % 5 === 1)
          .select(col("doc_id"), lit("").as("text")),
        "doc_id", "text", path, "00000003")
      val (nBefore, dBefore) = graft.operators.TextIndex.corpusStats(s, path)
      graft.operators.TextIndex.compact(s, path)
      val (nAfter, dAfter) = graft.operators.TextIndex.corpusStats(s, path)
      def hits(term: String): Long =
        graft.operators.TextIndex.searchTopK(s, path, Seq(term), 1000000).count()
      Seq((nBefore, dBefore, nAfter, dAfter, hits("alpha"), hits("delta")))
        .toDF("n_before", "d_before", "n_after", "d_after",
          "alpha_hits", "delta_hits")
    },
    Some("""
      WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS BIGINT) AS r,
               CAST(COUNT(CASE WHEN doc_id % 5 = 1 THEN 1 END) AS BIGINT) AS tomb,
               CAST(COUNT(CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 1 THEN 1 END) AS BIGINT) AS v1,
               CAST(COUNT(CASE WHEN doc_id % 3 = 0 AND doc_id % 5 <> 1 THEN 1 END) AS BIGINT) AS v2
        FROM documents)
      SELECT n + r + tomb AS n_before,
             3 * n + 2 * r AS d_before,
             v1 + v2 AS n_after,
             3 * v1 + 2 * v2 AS d_after,
             v1 AS alpha_hits,
             v2 AS delta_hits
      FROM s"""))

  /** Hybrid retrieval: keyword (BM25 over the persisted inverted index)
    * and vector (exact-int cosine top-k) runs fused by reciprocal-rank
    * fusion ([[graft.operators.Ranking.rrfFuse]]) — the production shape
    * of "semantic + lexical" serving, where only RANKS cross the fusion
    * boundary so the two scoring scales never need calibration. ORACLE-
    * GATED end to end: DuckDB rebuilds BM25 from the raw corpus (the q84
    * exact-rational formulation), the quantized cosine run (the q30c
    * integer twin), both rank assignments, and the fixed-order RRF sum —
    * agreement pins index search, vector search, ranking, the full-outer
    * fusion join, and the fused ordering in ONE hash.
    */
  val q97HybridRrf: Q = Q(
    "q97_hybrid_rrf",
    (s, dir) => {
      val textRun = textIndexProbe(s, buildTextIndexBatches(s, dir))
      val vecRun = Similarity.bruteForceTopKExactInt(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 20,
        keepScore = true)
        .select(col("vec_id").as("doc_id"), col("score"))
      graft.operators.Ranking.rrfFuse(
        Seq("text" -> textRun, "vec" -> vecRun), "doc_id", "score", k = 10)
    },
    Some(s"""
      WITH bm_run AS ($bm25RationalOracle),
      bm AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_text
        FROM bm_run),
      iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings),
      qv AS (SELECT iv AS qv FROM iv WHERE vec_id = 0),
      dd AS (
        SELECT i.vec_id,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(i.iv AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM iv i CROSS JOIN qv q
        WHERE i.vec_id <> 0),
      vec_run AS (
        SELECT vec_id AS doc_id,
               CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END AS score
        FROM dd
        ORDER BY score DESC, doc_id
        LIMIT 20),
      vec AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_vec
        FROM vec_run)
      SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
             bm.rank_text, vec.rank_vec,
             COALESCE(CAST(1 AS DOUBLE) / (60 + bm.rank_text), CAST(0 AS DOUBLE)) +
             COALESCE(CAST(1 AS DOUBLE) / (60 + vec.rank_vec), CAST(0 AS DOUBLE)) AS rrf
      FROM bm FULL JOIN vec ON bm.doc_id = vec.doc_id
      ORDER BY rrf DESC, COALESCE(bm.doc_id, vec.doc_id)
      LIMIT 10"""))

  /** Cluster-balanced subsampling under EXPLICIT centroids (the first
    * four corpus embeddings, collected bounded and baked as plan
    * literals): nearest-centroid assignment through the custom codegen'd
    * argmin expression, then a 25-per-cluster systematic cap riding the
    * bounded-heap TopKPerKey plan — and because the centroids are
    * explicit, DuckDB reproduces BOTH stages (sequential-order squared-L2
    * distances, argmin with cell tie-break, row_number cap under the
    * linear draw), putting [[graft.expressions.NearestCentroidsExpr]]
    * itself under an external oracle for the first time. The learned-
    * centroid production face is the same operator fed by
    * [[Similarity.trainIvf]].
    */
  val q98ClusterBalanced: Q = Q(
    "q98_cluster_balanced",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 4).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      graft.operators.Partitioning.clusterBalancedSample(
        emb, "vec_id", "embedding", cents, n = 25,
        uniform = Some(pmod(col("vec_id") * 37L, lit(1000L)).cast("double") / lit(1000.0)))
        .select("vec_id", "cluster")
    },
    Some("""
      WITH c AS (
        SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings WHERE vec_id < 4),
      d AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))),
                 (a, b) -> a + b) AS dist
        FROM embeddings e CROSS JOIN c),
      a AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d),
      asg AS (SELECT vec_id, CAST(cid AS INT) AS cluster FROM a WHERE rn = 1),
      r AS (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY (vec_id * 37 % 1000) / 1000.0, vec_id) AS rn
        FROM asg)
      SELECT vec_id, cluster FROM r WHERE rn <= 25"""))

  /** Deterministic MESSY URL per doc_id (uppercase scheme/host, default
    * and non-default ports, empty paths, a tracking param, params out of
    * order, fragments) — the q95 synthetic-fixture move for the URL
    * canonicalizer: the Spark face runs the REAL
    * [[graft.operators.Urls.canonicalize]] over these, while the oracle
    * PREDICTS the canonical string arithmetically from doc_id, so the two
    * agree only if every normalization rule (case, port-per-scheme,
    * path default, tracking strip, bytewise param sort, fragment drop)
    * fires faithfully.
    */
  private def syntheticUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 3 === 0, lit("Example.COM:80"))
          .when(col("doc_id") % 3 === 1, lit("Sub.Example.ORG:443"))
          .otherwise(lit("example.net:8080")),
        when(col("doc_id") % 5 === 0, lit(""))
          .otherwise(concat(lit("/p/"), (col("doc_id") % 7).cast("string"))),
        lit("?utm_source=x&zz="), (col("doc_id") % 4).cast("string"),
        lit("&a="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
        .as("url"))

  /** Shared DuckDB prediction of the canonical URL for [[syntheticUrls]]
    * (used by q99 and q99b): mirrors the rules, not the parser.
    */
  private val canonicalUrlSql: String = """
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
               (CASE
                  WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 'example.com'
                  WHEN doc_id % 3 = 0 THEN 'example.com:80'
                  WHEN doc_id % 3 = 1 AND doc_id % 2 = 0 THEN 'sub.example.org:443'
                  WHEN doc_id % 3 = 1 THEN 'sub.example.org'
                  ELSE 'example.net:8080' END) ||
               (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END) ||
               '?a=' || CAST(doc_id % 3 AS VARCHAR) || '&zz=' || CAST(doc_id % 4 AS VARCHAR)
               AS canonical_url
        FROM documents"""

  /** REAL URL canonicalization, oracle-gated by arithmetic prediction. */
  val q99UrlCanonical: Q = Q(
    "q99_url_canonical",
    (s, dir) => syntheticUrls(s, dir).select(
      col("doc_id"),
      graft.operators.Urls.canonicalize(col("url")).as("canonical_url")),
    Some(canonicalUrlSql))

  /** Canonical-URL dedup over the same synthetic corpus: permuted params,
    * case, ports and fragments merge into one canonical identity; keeper
    * = min doc_id, exactly one hash exchange (the A2 exact-dedup shape).
    */
  val q99bUrlDedup: Q = Q(
    "q99b_url_dedup",
    (s, dir) => graft.operators.Urls.dedupByCanonical(syntheticUrls(s, dir), "url", "doc_id"),
    Some(s"""
      WITH c AS ($canonicalUrlSql)
      SELECT canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
      FROM c GROUP BY canonical_url"""))

  /** The STREAMING url-dedup ingest's batch face ([[graft.streaming
    * .Streams.urlDedupIngest]]), driver-gated (r11 advice #6 / r13
    * "What's missing" #2): the synthetic URL corpus arrives as TWO
    * micro-batches, and the landed output's union must equal the
    * whole-corpus [[graft.operators.Urls.dedupByCanonical]] — the q99b
    * oracle, keeper projection. The split is a function of
    * `doc_id % 420` (420 = lcm of every modulus in [[syntheticUrls]]):
    * two docs share a canonical identity only if they agree on every
    * generator modulus, i.e. agree mod 420 — so ANY function of
    * `doc_id % 420` (here its parity, which equals `doc_id % 2` since
    * 420 is even) keeps each canonical group WHOLE in one batch, and
    * first-batch-wins composes to the global min-id keeper; if the
    * corpus arithmetic ever drifts, the gate fails loudly rather than
    * silently weakening. The corpus collect is the MemoryStream
    * fixture (driver-side by construction — production ingest reads a
    * real stream); the ingest itself stays the exactly-once
    * foreachBatch under test.
    */
  val q99dUrlDedupIngest: Q = Q(
    "q99d_url_dedup_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_urlingest").toString
      val rows = syntheticUrls(s, dir).select(col("doc_id"), col("url"))
        .as[(Long, String)].collect()
      val (b1, b2) = rows.partition { case (id, _) => (id % 420) % 2 == 0 }
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.Streams.urlDedupIngest(
        input.toDF().toDF("doc_id", "url"), "url", "doc_id",
        s"$root/seen", s"$root/landed")
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/landed")
        .select(col("canonical_url"), col("doc_id").as("keeper_id"))
    },
    Some(s"""
      WITH c AS ($canonicalUrlSql)
      SELECT canonical_url, MIN(doc_id) AS keeper_id
      FROM c GROUP BY canonical_url"""))

  /** LEAKAGE-SAFE train/test split: near-duplicate documents must never
    * straddle the boundary (a test doc with a train near-copy inflates
    * eval — the contamination [[graft.operators.Decontaminate]] hunts,
    * manufactured at split time). Composition: exact-Jaccard pairs →
    * connected components → each doc keyed by its duplicate-cluster
    * label (its own id when unique) → [[graft.operators.Partitioning
    * .hashSplit]] on the CLUSTER key, so the whole component moves as
    * one. Fully oracle-gated: DuckDB rebuilds pairs, components
    * (recursive CTE), the coalesce, and the split-cut arithmetic under
    * the systematic draw.
    */
  val q100LeakageSafeSplit: Q = Q(
    "q100_leakage_safe_split",
    (s, dir) => {
      val corpus = corpusWithPlantedDups(s, dir)
      val clusters = Dedup.duplicateClusters(
        Dedup.exactJaccardPairs(corpus, "text", "doc_id", shingleK = 3, threshold = 0.5))
      val keyed = corpus
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("grp"))
      graft.operators.Partitioning.hashSplit(
        keyed, "grp", Seq("train" -> 0.8, "test" -> 0.2),
        uniform = Some(pmod(col("grp") * 37L, lit(1000L)).cast("double") / lit(1000.0)))
        .select(col("doc_id"), col("grp"), col("split"))
    },
    Some(s"""
      WITH RECURSIVE $plantedCorpusCte, $exactJaccardCtes,
      pairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5),
      und AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT s, t FROM und
        UNION
        SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s WHERE u.t <> r.s),
      cl AS (SELECT s AS id, LEAST(s, MIN(t)) AS cluster FROM reach GROUP BY s),
      keyed AS (
        SELECT c.doc_id, COALESCE(cl.cluster, c.doc_id) AS grp
        FROM corpus c LEFT JOIN cl ON cl.id = c.doc_id)
      SELECT doc_id, grp,
             CASE WHEN (grp * 37 % 1000) / 1000.0 < 0.8 THEN 'train' ELSE 'test' END AS split
      FROM keyed"""))

  /** HARD-NEGATIVE MINING for retriever training: documents that score
    * high lexically (BM25 over the persisted index) but are semantically
    * FAR from the anchor (exact-int cosine below a cut) — the classic
    * "BM25 negatives" recipe for contrastive training, where lexically-
    * confusable-but-unrelated docs make the most informative negatives.
    * The anchor doc for the cosine leg is vec_id 0 (the standing probe
    * of the ANN family). Fully oracle-gated: DuckDB rebuilds the BM25
    * run, the quantized cosine, and the cut — the anti-semantic filter
    * is a left join against the integer-exact cosine so "no embedding"
    * (outside the cosine run's corpus) counts as far, mirroring both
    * engines' NULL semantics explicitly with a coalesce.
    */
  val q101HardNegatives: Q = Q(
    "q101_hard_negatives",
    (s, dir) => {
      val bm = textIndexProbe(s, buildTextIndexBatches(s, dir))
      // exact-int cosine PROJECTION (no global sort), reduced to the
      // run's ids by a broadcast SEMI join FIRST: a right-outer join
      // cannot broadcast its preserved side (Spark's canBuildBroadcastRight
      // excludes RightOuter — the hint silently drops and the corpus-sized
      // projection would sort-merge; caught by review in round 11), so the
      // bounded step must come before the outer join, not be hinted onto it
      val cos = Similarity.cosineToQueryExactInt(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L)
        .select(col("vec_id").as("doc_id"), col("score").as("anchor_cos"))
        .join(broadcast(bm.select("doc_id")), Seq("doc_id"), "left_semi")
      bm.join(broadcast(cos), Seq("doc_id"), "left")
        .where(coalesce(col("anchor_cos"), lit(-1.0)) < 0.05)
        .select(col("doc_id"), col("score"), col("anchor_cos"))
    },
    Some(s"""
      WITH bm_run AS ($bm25RationalOracle),
      iv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings),
      qv AS (SELECT iv AS qv FROM iv WHERE vec_id = 0),
      dd AS (
        SELECT i.vec_id,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(i.iv AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM iv i CROSS JOIN qv q
        WHERE i.vec_id <> 0),
      cosr AS (
        SELECT vec_id AS doc_id,
               CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END AS anchor_cos
        FROM dd)
      SELECT b.doc_id, b.score, c.anchor_cos
      FROM bm_run b LEFT JOIN cosr c ON c.doc_id = b.doc_id
      WHERE COALESCE(c.anchor_cos, -1.0) < 0.05"""))

  /** Unrolled-iteration DuckDB twin of [[graft.operators.Graphs
    * .pageRankInt]] over the synthesized 2-out-regular link graph: each
    * round is one join + one aggregate CTE, generated by the same loop
    * count the Spark face runs — fixed-point integer arithmetic means
    * the two engines agree bit-for-bit after ANY number of rounds.
    */
  private def pagerankOracleSql(iters: Int): String = {
    val base = """
      WITH e AS (
        SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT COUNT(*) FROM documents) AS dst FROM documents
        UNION ALL
        SELECT doc_id, doc_id % 50 FROM documents),
      it0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS rank FROM documents)"""
    val rounds = (1 to iters).map { i =>
      s""",
      agg$i AS (
        SELECT e.dst, CAST(SUM(r.rank // 2) AS BIGINT) AS agg
        FROM e JOIN it${i - 1} r ON r.id = e.src
        GROUP BY e.dst),
      it$i AS (
        SELECT d.doc_id AS id,
               CAST(150000 + (85 * COALESCE(a.agg, 0)) // 100 AS BIGINT) AS rank
        FROM documents d LEFT JOIN agg$i a ON a.dst = d.doc_id)"""
    }.mkString
    s"$base$rounds SELECT id AS doc_id, rank FROM it$iters"
  }

  /** Link-graph authority scoring (the web-curation domain-rank quality
    * signal) through [[graft.operators.Graphs.pageRankInt]]: 5 damped
    * rounds of FIXED-POINT INTEGER PageRank over a deterministic
    * 2-out-regular graph on the documents. Integer sums make every round
    * order-independent, so this is the rare iterative-graph operator an
    * external engine can reproduce exactly — the oracle unrolls the same
    * 5 rounds as chained CTEs.
    */
  val q102PagerankAuthority: Q = Q(
    "q102_pagerank_authority",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(
        col("doc_id").as("src"),
        // one bijective edge (uniform background) + one hub edge (ids
        // 0..49 collect ~n/50 in-links) — hubs make rank variance real,
        // so the oracle is a discriminating witness, not a fixed point
        explode(array(
          pmod(col("doc_id") * 7L + 1L, lit(n)),
          col("doc_id") % 50L)).as("dst"))
      graft.operators.Graphs.pageRankInt(edges, "src", "dst", docs, "doc_id", iters = 5)
    },
    Some(pagerankOracleSql(5)),
    headline = true) // iterative-graph layer: 5 join+agg rounds timed per round

  /** Per-DOMAIN document cap over the synthetic URL corpus: host
    * extraction ([[graft.operators.Urls.host]] — ports stripped, case
    * folded) keys the bounded-heap systematic cap, composing the web
    * identity stack with the q96 domain-balancing machinery. Oracle
    * predicts the host arithmetically (the q99 move) and reproduces the
    * cap with row_number under the linear draw.
    */
  val q99cHostCap: Q = Q(
    "q99c_host_cap",
    (s, dir) =>
      graft.operators.Partitioning.sampleNPerKey(
        syntheticUrls(s, dir).select(
          col("doc_id"), graft.operators.Urls.host(col("url")).as("host")),
        "host", "doc_id", n = 40,
        uniform = Some(pmod(col("doc_id") * 37L, lit(1000L)).cast("double") / lit(1000.0)))
        .select("doc_id", "host"),
    Some("""
      WITH h AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 3 = 0 THEN 'example.com'
                 WHEN doc_id % 3 = 1 THEN 'sub.example.org'
                 ELSE 'example.net' END AS host
        FROM documents),
      r AS (
        SELECT doc_id, host,
               row_number() OVER (PARTITION BY host
                 ORDER BY (doc_id * 37 % 1000) / 1000.0, doc_id) AS rn
        FROM h)
      SELECT doc_id, host FROM r WHERE rn <= 40"""))

  /** Deterministic epoch-2 shuffle + 100-doc shards over the corpus:
    * the injective prime-modulus permutation makes the global order
    * ANSI-reproducible (row_number over the same draw — no ties can
    * exist), which puts [[graft.operators.Partitioning.runningSum]]'s
    * two-phase prefix sum under a permuted-order oracle (q43 gates it
    * in natural id order).
    */
  val q104EpochShuffle: Q = Q(
    "q104_epoch_shuffle",
    (s, dir) =>
      graft.operators.Packing.epochShuffleShards(
        t(s, dir, "documents").select("doc_id"), "doc_id", epoch = 2, shardSize = 100L),
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY (doc_id * (654321979 + 2 * 2718281)) % 1000000007) AS BIGINT) AS pos
        FROM documents)
      SELECT doc_id, pos, (pos - 1) // 100 AS shard FROM d"""))

  /** Unicode NFC normalization through the native codegen'd
    * [[graft.expressions.NormalizeUnicodeExpr]], oracle-gated against
    * DuckDB's `nfc_normalize` over byte-identical denormalized inputs
    * (combining-mark compose, singleton replacement ANGSTROM→Å,
    * canonical reordering under stacked marks, ASCII identity). Both
    * engines implement the same public Unicode tables, so agreement is
    * byte-exact — the q95 external-standard gate, for text instead of
    * codecs.
    */
  val q103NfcNormalize: Q = Q(
    "q103_nfc_normalize",
    (s, dir) => {
      // escaped DENORMALIZED literals (never paste composed glyphs here —
      // the witness must require real normalization work): e+COMBINING
      // ACUTE, ANGSTROM SIGN, stacked DIAERESIS+ACUTE needing reorder
      val raw = when(col("doc_id") % 4 === 0, lit("cafe\u0301"))
        .when(col("doc_id") % 4 === 1, lit("\u212B-unit"))
        .when(col("doc_id") % 4 === 2, lit("o\u0308\u0301mega"))
        .otherwise(concat(lit("plain ascii "), col("doc_id").cast("string")))
      t(s, dir, "documents").select(
        col("doc_id"),
        text.normalizeUnicode(raw, "NFC").as("normalized"))
    },
    Some("""
      SELECT doc_id,
             nfc_normalize(CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'caf' || 'e' || chr(769)
               WHEN 1 THEN chr(8491) || '-unit'
               WHEN 2 THEN 'o' || chr(776) || chr(769) || 'mega'
               ELSE 'plain ascii ' || CAST(doc_id AS VARCHAR) END) AS normalized
      FROM documents"""))

  /** ORC interchange ROUND-TRIP under the external oracle: documents
    * land as ORC (a real write), read back through the explicit-schema
    * [[graft.sources.OrcSource]], and the oracle recomputes a CONTENT-
    * SENSITIVE profile (per-source counts, char totals, min/max md5 of
    * the text bytes) from the parquet originals — agreement means the
    * format hop was byte-faithful, not just row-count-preserving.
    * Complements q45 (numeric/aggregate ORC round-trip): this face
    * witnesses STRING byte fidelity and NULL-text survival through the
    * format hop via per-group content hashes.
    */
  val q105OrcRoundtrip: Q = Q(
    "q105_orc_roundtrip",
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
      val path = java.nio.file.Files.createTempDirectory("graft_orc_rt").toString + "/docs"
      docs.write.mode("overwrite").orc(path)
      graft.sources.OrcSource.read(s, path, docs.schema)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"),
          min(md5(col("text"))).as("md5_lo"),
          max(md5(col("text"))).as("md5_hi"))
    },
    Some("""
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
             MIN(md5(text)) AS md5_lo, MAX(md5(text)) AS md5_hi
      FROM documents GROUP BY source"""))

  /** Persist the q106 bucket models as parquet artifacts (atomic-ish:
    * tiny files, fresh temp dir per call) — the train-once face the
    * bench's q106_build/q106_probe split times separately, and the
    * artifact shape [[graft.streaming.Streams.importanceRoutedIngest]]
    * loads its fixed models from.
    */
  private[graft] def buildDsirModels(s: SparkSession, dir: String): String = {
    val d = t(s, dir, "documents")
    val buckets = 1024
    val shortTokenText = d.select(
      array_join(
        filter(graft.functions.text.tokens(col("text")), w => length(w) <= 4),
        " ").as("text"))
    val path = java.nio.file.Files.createTempDirectory("graft_dsir_models").toString
    graft.operators.Importance.hashedBucketCounts(shortTokenText, "text", buckets)
      .coalesce(1).write.mode("overwrite").parquet(path + "/target")
    graft.operators.Importance.hashedBucketCounts(d, "text", buckets)
      .coalesce(1).write.mode("overwrite").parquet(path + "/source")
    path
  }

  private[graft] def dsirScore(s: SparkSession, dir: String, modelPath: String): DataFrame =
    graft.operators.Importance.pooledImportance(
      t(s, dir, "documents"), "doc_id", "text",
      s.read.parquet(modelPath + "/target"),
      s.read.parquet(modelPath + "/source"),
      buckets = 1024)

  /** Shared DuckDB replay of DSIR pooled importance over `documents`
    * (the q106 oracle; also the base of q106b's routed-ingest face).
    */
  private val dsirImportanceSql: String = """
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS w
        FROM documents),
      bk AS (
        SELECT doc_id, w,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 31 + b) % 2147483647) % 1024 AS bucket
        FROM tok),
      tm AS (SELECT bucket, COUNT(*) AS c FROM bk WHERE length(w) <= 4 GROUP BY 1),
      sm AS (SELECT bucket, COUNT(*) AS c FROM bk GROUP BY 1),
      tt AS (SELECT COALESCE(SUM(c), 0) AS ct_tot FROM tm),
      st AS (SELECT COALESCE(SUM(c), 0) AS cs_tot FROM sm),
      mass AS (
        SELECT bk.doc_id,
               CAST(SUM(COALESCE(tm.c, 0) + 1) AS BIGINT) AS num_mass,
               CAST(SUM(COALESCE(sm.c, 0) + 1) AS BIGINT) AS den_mass
        FROM bk LEFT JOIN tm USING (bucket) LEFT JOIN sm USING (bucket)
        GROUP BY bk.doc_id)
      SELECT d.doc_id,
             COALESCE(m.num_mass, 0) AS num_mass,
             COALESCE(m.den_mass, 0) AS den_mass,
             CASE WHEN COALESCE(m.den_mass, 0) = 0 THEN 0.0
                  ELSE (CAST(m.num_mass AS DOUBLE) * CAST(st.cs_tot + 1024 AS DOUBLE)) /
                       (CAST(m.den_mass AS DOUBLE) * CAST(tt.ct_tot + 1024 AS DOUBLE)) END AS importance,
             CASE WHEN COALESCE(m.den_mass, 0) = 0 THEN FALSE
                  ELSE (CAST(m.num_mass AS DOUBLE) * CAST(st.cs_tot + 1024 AS DOUBLE)) /
                       (CAST(m.den_mass AS DOUBLE) * CAST(tt.ct_tot + 1024 AS DOUBLE)) >= 1.0 END AS selected
      FROM documents d
      LEFT JOIN mass m ON d.doc_id = m.doc_id
      CROSS JOIN tt CROSS JOIN st"""

  /** DSIR-style importance selection ([[graft.operators.Importance]]):
    * hashed-unigram bucket models (1024 buckets, injectable linear
    * hash), target = the corpus's SHORT-TOKEN dialect (tokens ≤ 4
    * chars — a stand-in for any reference corpus whose lexical
    * distribution differs from the crawl; the driver corpus is lexically
    * homogeneous across lang/source, so a subset target would carry no
    * signal), source = the whole corpus. Every doc scores by the
    * log-free pooled importance ratio and selection straddles the 1.0
    * threshold on both sides at every SF (sf0.01: 200 of 500 selected,
    * range 0.29–1.54). Hash-gated end to end: DuckDB rebuilds the
    * byte-polynomial bucket hash, both smoothed models, the per-doc
    * integer masses, and the fixed-shape double ratio.
    */
  val q106DsirImportance: Q = Q(
    "q106_dsir_importance",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val buckets = 1024
      val shortTokenText = d.select(
        array_join(
          filter(graft.functions.text.tokens(col("text")), w => length(w) <= 4),
          " ").as("text"))
      val target = graft.operators.Importance.hashedBucketCounts(shortTokenText, "text", buckets)
      val source = graft.operators.Importance.hashedBucketCounts(d, "text", buckets)
      graft.operators.Importance.pooledImportance(
        d, "doc_id", "text", target, source, buckets)
    },
    Some(dsirImportanceSql),
    headline = true) // broadcast-model scoring: the round-12 operator class's timing guard

  /** The STREAMING importance-routed ingest's batch face ([[graft
    * .streaming.Streams.importanceRoutedIngest]], r13 "What's missing"
    * #2): documents arrive as two micro-batches (doc_id parity — the
    * split is arbitrary because scoring against FIXED models is
    * per-document), and the union of the `selected/` and `rejected/`
    * landings must equal whole-corpus DSIR scoring — the q106 oracle
    * projected to (doc_id, importance, selected). Pins batch-split
    * invariance, both-routes-kept, and the exactly-once landing.
    */
  val q106bImportanceIngest: Q = Q(
    "q106b_importance_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = t(s, dir, "documents")
      val buckets = 1024
      val shortTokenText = d.select(
        array_join(
          filter(graft.functions.text.tokens(col("text")), w => length(w) <= 4),
          " ").as("text"))
      val target = graft.operators.Importance.hashedBucketCounts(shortTokenText, "text", buckets)
      val source = graft.operators.Importance.hashedBucketCounts(d, "text", buckets)
      val root = java.nio.file.Files.createTempDirectory("graft_imp_ingest").toString
      val rows = d.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val (b1, b2) = rows.partition(_._1 % 2 == 0)
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.Streams.importanceRoutedIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        target, source, buckets, s"$root/out")
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/out/selected")
        .unionByName(s.read.parquet(s"$root/out/rejected"))
        .select(col("doc_id"), col("importance"), col("selected"))
    },
    Some(s"""
      SELECT doc_id, importance, selected FROM ($dsirImportanceSql)"""))

  /** SQ8 scalar-quantized ANN ([[graft.operators.Quantize]]): the corpus
    * embedding column compressed 4× (one byte per component + one
    * scale), probed WITHOUT reconstruction — per-vector scales cancel in
    * cosine, so the probe is exact integer arithmetic over the codes and
    * DuckDB reproduces encode + search end to end (codes, top-k set,
    * values, order). The storage-side complement to the PQ serving index
    * (q65b, 32×): SQ8 is the standard first compression step whose
    * fidelity keeps brute-force ranking usable.
    */
  val q107Sq8TopK: Q = Q(
    "q107_sq8_topk",
    (s, dir) => {
      val enc = graft.operators.Quantize.sq8Encode(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      graft.operators.Quantize.sq8TopKExactInt(enc, "vec_id", queryId = 0L, k = 20)
    },
    Some("""
      WITH cd AS (
        SELECT vec_id,
               list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      codes AS (
        SELECT vec_id,
               list_transform(v, x -> CASE WHEN amax = 0 THEN 0
                                           ELSE CAST(floor(x * 127.0 / amax + 0.5) AS BIGINT) END) AS c
        FROM cd),
      q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
      d AS (
        SELECT codes.vec_id,
               CAST(list_dot_product(CAST(codes.c AS DOUBLE[]), CAST(q.qc AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(codes.c AS DOUBLE[]), CAST(codes.c AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(q.qc AS DOUBLE[]), CAST(q.qc AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM codes CROSS JOIN q WHERE codes.vec_id <> 0)
      SELECT vec_id, dot, norm2 FROM d
      ORDER BY CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END DESC,
               vec_id
      LIMIT 20"""))

  /** Corpus-level n-gram overlap audit
    * ([[graft.operators.Decontaminate.corpusOverlap]]): pairwise
    * trigram containment between the 20 sources — the report that
    * answers "how much of source A's content already lives in B" at
    * corpus granularity (the doc-granularity q54 complement). Exact
    * string grams, exact counts, one correctly-rounded division:
    * hash-gated end to end including the zero-overlap grid rows.
    */
  val q108CorpusOverlap: Q = Q(
    "q108_corpus_overlap",
    (s, dir) =>
      graft.operators.Decontaminate.corpusOverlap(
        t(s, dir, "documents"), "text", "source", n = 3),
    Some("""
      WITH d AS (
        SELECT source,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE text IS NOT NULL),
      sh AS (
        SELECT source,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS shl
        FROM d),
      g AS (SELECT DISTINCT source, gram
            FROM (SELECT source, unnest(shl) AS gram FROM sh)
            WHERE gram <> ''),
      t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
      p AS (
        SELECT a.source AS group_a, b.source AS group_b, CAST(COUNT(*) AS BIGINT) AS shared
        FROM g a JOIN g b USING (gram)
        WHERE a.source <> b.source
        GROUP BY 1, 2)
      SELECT ta.source AS group_a, tb.source AS group_b,
             ta.n_grams AS grams_a, tb.n_grams AS grams_b,
             COALESCE(p.shared, 0) AS shared,
             CAST(COALESCE(p.shared, 0) AS DOUBLE) / CAST(ta.n_grams AS DOUBLE) AS containment
      FROM t ta CROSS JOIN t tb
      LEFT JOIN p ON p.group_a = ta.source AND p.group_b = tb.source
      WHERE ta.source <> tb.source"""))

  /** Memorization audit ([[graft.operators.SpanDedup.memorizationAudit]]):
    * the 30 most-repeated 5-token windows with their document frequency
    * and occurrence counts — the verbatim-regurgitation risk report for
    * a pretraining corpus. Exact strings, exact counts, deterministic
    * (df, occurrences, gram) ranking: hash-gated end to end.
    */
  val q109MemorizationAudit: Q = Q(
    "q109_memorization_audit",
    (s, dir) =>
      graft.operators.SpanDedup.memorizationAudit(
        t(s, dir, "documents"), "doc_id", "text", l = 5, k = 30),
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' '))) AS gram
        FROM d WHERE len(tk) >= 5)
      SELECT gram,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
             CAST(COUNT(*) AS BIGINT) AS occurrences
      FROM w
      GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY df DESC, occurrences DESC, gram
      LIMIT 30"""))

  /** Sketch-vs-truth scorecard ([[graft.operators.Quality
    * .pairAgreementReport]]): the linear-hash SimHash pair set (q26c's
    * hamming ≤ 3) measured against the exact Jaccard ≥ 0.5 ground truth
    * (q25c) on the planted corpus — precision/recall of one approximate
    * family against another's exact semantics, as ONE oracle-gated row.
    * Both inputs are individually oracle-gated queries, so DuckDB
    * rebuilds both pair sets AND the confusion arithmetic: the
    * "approximations are measured, not assumed" discipline, itself under
    * the gate.
    */
  val q110SketchAgreement: Q = Q(
    "q110_sketch_agreement",
    (s, dir) => {
      val corpus = corpusWithPlantedDups(s, dir)
      val exact = Dedup.exactJaccardPairs(corpus, "text", "doc_id", shingleK = 3, threshold = 0.5)
      val approx = Dedup.simHashPairsExact(corpus, "text", "doc_id",
        tokenHash = Dedup.linearTokenHash(_, seed = 11L))
      graft.operators.Quality.pairAgreementReport(approx, exact, "id_a", "id_b")
    },
    Some(s"""
      WITH $plantedCorpusCte, $exactJaccardCtes, $simhashSigCtes,
      jp AS (
        SELECT s.id_a AS a, s.id_b AS b
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5),
      sp AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM sig x JOIN sig y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 3),
      m AS (
        SELECT COALESCE(jp.a, sp.a) AS a, COALESCE(jp.b, sp.b) AS b,
               (jp.a IS NOT NULL)::BIGINT AS in_exact,
               (sp.a IS NOT NULL)::BIGINT AS in_approx
        FROM jp FULL OUTER JOIN sp ON jp.a = sp.a AND jp.b = sp.b)
      SELECT CAST(SUM(in_exact) AS BIGINT) AS n_exact,
             CAST(SUM(in_approx) AS BIGINT) AS n_approx,
             CAST(SUM(in_exact * in_approx) AS BIGINT) AS true_pos,
             CAST(SUM(in_approx) - SUM(in_exact * in_approx) AS BIGINT) AS false_pos,
             CAST(SUM(in_exact) - SUM(in_exact * in_approx) AS BIGINT) AS false_neg,
             CASE WHEN SUM(in_approx) = 0 THEN 0.0
                  ELSE CAST(SUM(in_exact * in_approx) AS DOUBLE) / CAST(SUM(in_approx) AS DOUBLE) END AS precision,
             CASE WHEN SUM(in_exact) = 0 THEN 0.0
                  ELSE CAST(SUM(in_exact * in_approx) AS DOUBLE) / CAST(SUM(in_exact) AS DOUBLE) END AS recall
      FROM m"""))

  /** Classifier calibration
    * ([[graft.operators.Classifier.calibrationReport]]): the q80c
    * log-free scorer binned into 10 reliability intervals against the
    * true `lang = 'en'` label — per bin, how often "looks reference"
    * is actually reference. Bin membership is exact integer
    * cross-multiplication (no float boundary can flip a bin between
    * engines); empty bins are reported with zeros.
    */
  val q111CalibrationReport: Q = Q(
    "q111_calibration_report",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("is_ref", col("lang") === "en")
      val model = graft.operators.Classifier.trainTermStats(d, "is_ref", "text", minCount = 2L)
      graft.operators.Classifier.calibrationReport(d, model, "doc_id", "text", "is_ref", bins = 10)
    },
    Some("""
      WITH toks0 AS (
        SELECT (lang = 'en') AS pos,
               unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS term
        FROM documents WHERE lang IS NOT NULL),
      m AS (
        SELECT term,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_tf,
               CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_tf
        FROM toks0 GROUP BY 1
        HAVING COUNT(*) >= 2),
      tot AS (
        SELECT CAST(COALESCE(SUM(pos_tf), 0) AS HUGEINT) AS np,
               CAST(COALESCE(SUM(neg_tf), 0) AS HUGEINT) AS nn,
               CAST(COUNT(*) AS HUGEINT) AS v
        FROM m),
      toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2),
      mass AS (
        SELECT tf.doc_id,
               CAST(SUM(tf.tf * COALESCE(m.pos_tf + 1, 1)) AS HUGEINT) * (tot.nn + tot.v) AS pmn,
               CAST(SUM(tf.tf * COALESCE(m.neg_tf + 1, 1)) AS HUGEINT) * (tot.np + tot.v) AS nmn
        FROM tf LEFT JOIN m ON tf.term = m.term CROSS JOIN tot
        GROUP BY tf.doc_id, tot.np, tot.nn, tot.v),
      bn AS (
        SELECT mass.doc_id,
               CAST(SUM(CASE WHEN pmn * 10 > (pmn + nmn) * j.j THEN 1 ELSE 0 END) AS INT) AS bin
        FROM mass CROSS JOIN range(1, 10) j(j)
        GROUP BY mass.doc_id),
      lab AS (SELECT doc_id, (lang = 'en') AS pos FROM documents WHERE (lang = 'en') IS NOT NULL),
      agg AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN lab.pos THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
        FROM bn JOIN lab USING (doc_id) GROUP BY bin)
      SELECT CAST(g.bin AS INT) AS bin,
             COALESCE(agg.n_docs, 0) AS n_docs,
             COALESCE(agg.n_positive, 0) AS n_positive,
             CASE WHEN COALESCE(agg.n_docs, 0) = 0 THEN 0.0
                  ELSE CAST(agg.n_positive AS DOUBLE) / CAST(agg.n_docs AS DOUBLE) END AS positive_rate,
             CAST(g.bin AS DOUBLE) / 10 AS bin_lo,
             CAST(g.bin + 1 AS DOUBLE) / 10 AS bin_hi
      FROM range(0, 10) g(bin) LEFT JOIN agg ON agg.bin = g.bin"""))

  /** Corpus drift monitor ([[graft.operators.Importance.driftReport]]):
    * the 25 hashed token buckets whose mass share moved most between the
    * even-id and odd-id document halves (two pseudo-snapshots of one
    * crawl). Exact counts, fixed-shape share arithmetic, |delta| ranking
    * with bucket tie-break — hash-gated end to end, including buckets
    * present on only one side.
    */
  val q112DriftReport: Q = Q(
    "q112_drift_report",
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Importance.driftReport(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1),
        "text", buckets = 1024, k = 25)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS w
        FROM documents),
      bk AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 31 + b) % 2147483647) % 1024 AS bucket
        FROM tok),
      o AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS old_cnt FROM bk WHERE doc_id % 2 = 0 GROUP BY 1),
      n AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_cnt FROM bk WHERE doc_id % 2 = 1 GROUP BY 1),
      ot AS (SELECT COALESCE(SUM(old_cnt), 0) AS t FROM o),
      nt AS (SELECT COALESCE(SUM(new_cnt), 0) AS t FROM n),
      j AS (
        SELECT COALESCE(o.bucket, n.bucket) AS bucket,
               COALESCE(o.old_cnt, 0) AS old_cnt,
               COALESCE(n.new_cnt, 0) AS new_cnt
        FROM o FULL OUTER JOIN n ON o.bucket = n.bucket)
      SELECT bucket, old_cnt, new_cnt,
             CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(old_cnt AS DOUBLE) / CAST(ot.t AS DOUBLE) END AS old_share,
             CASE WHEN nt.t = 0 THEN 0.0 ELSE CAST(new_cnt AS DOUBLE) / CAST(nt.t AS DOUBLE) END AS new_share,
             (CASE WHEN nt.t = 0 THEN 0.0 ELSE CAST(new_cnt AS DOUBLE) / CAST(nt.t AS DOUBLE) END) -
             (CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(old_cnt AS DOUBLE) / CAST(ot.t AS DOUBLE) END) AS delta
      FROM j CROSS JOIN ot CROSS JOIN nt
      ORDER BY abs((CASE WHEN nt.t = 0 THEN 0.0 ELSE CAST(new_cnt AS DOUBLE) / CAST(nt.t AS DOUBLE) END) -
                   (CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(old_cnt AS DOUBLE) / CAST(ot.t AS DOUBLE) END)) DESC,
               bucket
      LIMIT 25"""))

  /** The STREAMING drift-monitor ingest's batch face ([[graft.streaming
    * .Streams.driftMonitorIngest]], VERDICT r14 item 5 — the last
    * StreamsSpec-only ingest driver-gated): the baseline model is the
    * even-id half's bucket counts (q112's "old" snapshot), the odd-id
    * half streams in as TWO micro-batches (`doc_id % 4` = 1 then 3), and
    * each batch's landed report must equal the q112 drift arithmetic
    * computed against THAT batch alone — per-batch counts, fixed-shape
    * share divisions, |delta| top-25 with bucket tie-break, the batch
    * label a pure function of the split. DuckDB replays both reports
    * from the byte-polynomial bucket hash and unions them.
    */
  val q112bDriftMonitorIngest: Q = Q(
    "q112b_drift_monitor_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_driftingest").toString
      val d = t(s, dir, "documents")
      val baseline = graft.operators.Importance.hashedBucketCounts(
        d.where(col("doc_id") % 2 === 0), "text", 1024)
      val rows = d.where(col("doc_id") % 2 === 1).select("doc_id", "text")
        .as[(Long, Option[String])].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 4 == 1 }
      val input = MemoryStream[(Long, Option[String])]
      val query = graft.streaming.Streams.driftMonitorIngest(
        input.toDF().toDF("doc_id", "text"), "text", baseline,
        buckets = 1024, k = 25, s"$root/landed")
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/landed").select(
        col("batch").cast("string").as("batch"), col("bucket"),
        col("old_cnt"), col("new_cnt"),
        col("old_share"), col("new_share"), col("delta"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS w
        FROM documents),
      bk AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, octet_length(encode(w)) + 1),
                   i -> CAST(CAST('0x' || substr(hex(encode(w)), 2*i-1, 2) AS INT) AS BIGINT))),
                 (acc, b) -> (acc * 31 + b) % 2147483647) % 1024 AS bucket
        FROM tok),
      o AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS old_cnt FROM bk WHERE doc_id % 2 = 0 GROUP BY 1),
      ot AS (SELECT COALESCE(SUM(old_cnt), 0) AS t FROM o),
      n1 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_cnt FROM bk WHERE doc_id % 4 = 1 GROUP BY 1),
      n1t AS (SELECT COALESCE(SUM(new_cnt), 0) AS t FROM n1),
      n2 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_cnt FROM bk WHERE doc_id % 4 = 3 GROUP BY 1),
      n2t AS (SELECT COALESCE(SUM(new_cnt), 0) AS t FROM n2),
      r1 AS (
        SELECT 's00000000' AS batch, COALESCE(o.bucket, n1.bucket) AS bucket,
               COALESCE(o.old_cnt, 0) AS old_cnt, COALESCE(n1.new_cnt, 0) AS new_cnt,
               CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(COALESCE(o.old_cnt, 0) AS DOUBLE) / CAST(ot.t AS DOUBLE) END AS old_share,
               CASE WHEN n1t.t = 0 THEN 0.0 ELSE CAST(COALESCE(n1.new_cnt, 0) AS DOUBLE) / CAST(n1t.t AS DOUBLE) END AS new_share
        FROM o FULL OUTER JOIN n1 ON o.bucket = n1.bucket CROSS JOIN ot CROSS JOIN n1t
        ORDER BY abs((CASE WHEN n1t.t = 0 THEN 0.0 ELSE CAST(COALESCE(n1.new_cnt, 0) AS DOUBLE) / CAST(n1t.t AS DOUBLE) END) -
                     (CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(COALESCE(o.old_cnt, 0) AS DOUBLE) / CAST(ot.t AS DOUBLE) END)) DESC,
                 COALESCE(o.bucket, n1.bucket)
        LIMIT 25),
      r2 AS (
        SELECT 's00000001' AS batch, COALESCE(o.bucket, n2.bucket) AS bucket,
               COALESCE(o.old_cnt, 0) AS old_cnt, COALESCE(n2.new_cnt, 0) AS new_cnt,
               CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(COALESCE(o.old_cnt, 0) AS DOUBLE) / CAST(ot.t AS DOUBLE) END AS old_share,
               CASE WHEN n2t.t = 0 THEN 0.0 ELSE CAST(COALESCE(n2.new_cnt, 0) AS DOUBLE) / CAST(n2t.t AS DOUBLE) END AS new_share
        FROM o FULL OUTER JOIN n2 ON o.bucket = n2.bucket CROSS JOIN ot CROSS JOIN n2t
        ORDER BY abs((CASE WHEN n2t.t = 0 THEN 0.0 ELSE CAST(COALESCE(n2.new_cnt, 0) AS DOUBLE) / CAST(n2t.t AS DOUBLE) END) -
                     (CASE WHEN ot.t = 0 THEN 0.0 ELSE CAST(COALESCE(o.old_cnt, 0) AS DOUBLE) / CAST(ot.t AS DOUBLE) END)) DESC,
                 COALESCE(o.bucket, n2.bucket)
        LIMIT 25)
      SELECT batch, bucket, old_cnt, new_cnt, old_share, new_share,
             new_share - old_share AS delta
      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)"""))

  /** Length-bucketed dynamic batching
    * ([[graft.operators.Packing.lengthBucketedBatches]]): documents into
    * power-of-two char-length buckets, batch-of-32 assignment in exact
    * (len, id) order inside each bucket — the padded-batch layout whose
    * per-batch pad waste the bucket bounds at 2×. DuckDB reproduces the
    * exact-integer bucket (`length(bin(len)) − 1`), the per-bucket
    * ordering, and the batch arithmetic row-for-row.
    */
  val q113LengthBatches: Q = Q(
    "q113_length_batches",
    (s, dir) =>
      graft.operators.Packing.lengthBucketedBatches(
        t(s, dir, "documents"), "doc_id", "n_chars", batchSize = 32),
    Some("""
      WITH r AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
               CAST(length(bin(n_chars)) - 1 AS INT) AS bucket
        FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 1),
      p AS (
        SELECT doc_id, len, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY len, doc_id) - 1 AS pos
        FROM r)
      SELECT doc_id, len, bucket,
             CAST(pos // 32 AS BIGINT) AS batch_in_bucket,
             CAST(pos % 32 AS INT) AS pos_in_batch
      FROM p"""))

  /** DataFrame-native connected components
    * ([[graft.operators.Graphs.connectedComponents]], alternating
    * large-star/small-star) over an arithmetic document graph: decade
    * chains (i → i−1 unless i ends a decade) plus a cross-decade bridge
    * (i → i−15 when i ≡ 23 mod 40), so components are 20-node unions of
    * two chains, 10-node chains, and the convergence loop needs real
    * multi-round work at every SF. The oracle is CONVERGED, not
    * unrolled: DuckDB's recursive CTE computes the exact transitive
    * closure and takes the min reachable id per node — so the gate
    * certifies the fixpoint itself (labels after however many rounds the
    * engine needed), the complement of q102's fixed-round face.
    */
  val q114ConnectedComponents: Q = Q(
    "q114_connected_components",
    (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      val cand = d.where(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("u"), (col("doc_id") - 1).as("v"))
        .unionAll(d.where(col("doc_id") % 40 === 23)
          .select(col("doc_id").as("u"), (col("doc_id") - 15).as("v")))
      // keep only edges whose far endpoint is a real document — the graph
      // must not invent nodes at the id-space boundary
      val edges = cand.join(
        d.select(col("doc_id").as("__x")), col("v") === col("__x"), "left_semi")
      graft.operators.Graphs.connectedComponents(edges, "u", "v")
    },
    Some("""
      WITH RECURSIVE
      cand AS (
        SELECT doc_id AS u, doc_id - 1 AS v FROM documents WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id AS u, doc_id - 15 AS v FROM documents WHERE doc_id % 40 = 23),
      edges AS (SELECT u, v FROM cand WHERE v IN (SELECT doc_id FROM documents)),
      sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      reach(id, r) AS (
        SELECT u, u FROM sym
        UNION
        SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u)
      SELECT id, MIN(r) AS component FROM reach GROUP BY id"""),
    headline = true) // iterate-to-convergence layer: round latency + probe jobs timed

  /** DuckDB replay of the FULL integer Lloyd training run
    * ([[graft.operators.Clustering]]): quantize → seed from the k
    * smallest ids → `iters` unrolled rounds of (exact integer argmin
    * assignment with ties to the lower index, truncating-division
    * means, frozen empty clusters) → final assignment with exact
    * integer squared distances. DuckDB's `//` truncates toward zero
    * exactly like Scala's Long division, so every round is bit-exact.
    */
  private def kmeansCtesSql(k: Int, iters: Int, dim: Int, scale: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"c${r - 1}"
      s"""
      d$r AS (
        SELECT q.vec_id, q.v, c.c,
               list_sum(list_transform(range(1, ${dim + 1}),
                 i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS d
        FROM q, $prev c),
      a$r AS (
        SELECT vec_id, v, c FROM (
          SELECT vec_id, v, c,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
          FROM d$r) WHERE rn = 1),
      s$r AS (
        SELECT c, t.j, CAST(SUM(v[t.j]) AS BIGINT) AS s, COUNT(*) AS n
        FROM a$r CROSS JOIN range(1, ${dim + 1}) t(j) GROUP BY c, t.j),
      n$r AS (SELECT c, list(s // n ORDER BY j) AS v FROM s$r GROUP BY c),
      c$r AS (
        SELECT p.c, COALESCE(nn.v, p.v) AS v
        FROM $prev p LEFT JOIN n$r nn ON p.c = nn.c)"""
    }.mkString(",")
    s"""
      q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * $scale + 0.5) AS BIGINT)) AS v
        FROM embeddings),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, v
        FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT $k)),$rounds"""
  }

  private def kmeansOracleSql(k: Int, iters: Int, dim: Int, scale: Int): String =
    s"""
      WITH ${kmeansCtesSql(k, iters, dim, scale)},
      df AS (
        SELECT q.vec_id, c.c,
               list_sum(list_transform(range(1, ${dim + 1}),
                 i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS d
        FROM q, c$iters c)
      SELECT vec_id, CAST(c AS INT) AS cluster, CAST(d AS BIGINT) AS dist2 FROM (
        SELECT vec_id, c, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM df) WHERE rn = 1"""

  /** Distributed integer k-means, trained then assigned
    * ([[graft.operators.Clustering.kmeansInt]]): 3 Lloyd rounds from the
    * 8 smallest-id seeds over the 64-dim embeddings, every step exact
    * integer arithmetic — so the oracle replays the ENTIRE training run
    * (seeding, per-round assignment, truncated means, empty-cluster
    * freeze) plus the final labels and exact squared distances, the
    * strongest gate any trained model in the catalog carries. Spark
    * shape: per round one scan + one k-group vector-sum aggregate
    * (no corpus shuffle); assignment is a pure projection against
    * centroid constants (no join, no broadcast — plan-asserted in
    * ClusteringSpec).
    */
  val q115KmeansTrain: Q = Q(
    "q115_kmeans_train",
    (s, dir) => graft.operators.Clustering.kmeansInt(
      t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 3),
    Some(kmeansOracleSql(k = 8, iters = 3, dim = 64, scale = 1000)))

  /** TRAINED-pipeline composition: the q115 trainer's centroids (k=4,
    * 2 rounds, de-quantized to the double grid both engines compute
    * identically) feed [[graft.operators.Partitioning
    * .clusterBalancedSample]] — q98's operator, but with LEARNED
    * centroids instead of hand-picked rows. The oracle chains the
    * full training replay into the sampling arithmetic, so a drift
    * anywhere in train OR sample breaks the hash: this is the
    * "curation consumes its own trained model" gate, the composition
    * every production pipeline actually runs.
    */
  val q115bKmeansBalanced: Q = Q(
    "q115b_kmeans_balanced",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.operators.Clustering
        .trainKmeansInt(emb, "vec_id", "embedding", k = 4, iters = 2)
        .map(_.map(_.toDouble / 1000.0))
        .toArray
      graft.operators.Partitioning.clusterBalancedSample(
        emb, "vec_id", "embedding", cents, n = 25,
        uniform = Some(pmod(col("vec_id") * 37L, lit(1000L)).cast("double") / lit(1000.0)))
        .select("vec_id", "cluster")
    },
    Some(s"""
      WITH ${kmeansCtesSql(k = 4, iters = 2, dim = 64, scale = 1000)},
      cents AS (
        SELECT c AS cid, list_transform(v, x -> CAST(x AS DOUBLE) / 1000) AS cv
        FROM c2),
      d AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))),
                 (a, b) -> a + b) AS dist
        FROM embeddings e CROSS JOIN cents c),
      a AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d),
      asg AS (SELECT vec_id, CAST(cid AS INT) AS cluster FROM a WHERE rn = 1),
      r AS (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY (vec_id * 37 % 1000) / 1000.0, vec_id) AS rn
        FROM asg)
      SELECT vec_id, cluster FROM r WHERE rn <= 25"""))

  /** Deterministic vocabulary-controlled corpus from doc_id arithmetic
    * (the q99 synthetic-fixture move, needed because the driver corpus
    * holds only ~31 distinct terms each in ~430 docs — term-level
    * similarity there is both degenerate and quadratic): docs live in
    * groups of 20 sharing a 40-term group vocabulary; each doc carries a
    * 12-term window of it at planted frequencies 1/2/3 (so min/max of tf
    * genuinely differ per side), plus a group STOPWORD in every doc (df
    * 20) that exists to trip the df cap. Per-term df ≤ 20 — the pair
    * join is bounded by construction at any corpus size.
    */
  private[graft] def syntheticVocabDocs(s: SparkSession, dir: String): DataFrame = {
    val g = expr("doc_id div 20").cast("string")
    val stop = concat(lit("g"), g, lit("stop"))
    t(s, dir, "documents").select(
      col("doc_id"),
      concat_ws(" ",
        concat(
          flatten(transform(sequence(lit(0), lit(11)), i =>
            array_repeat(
              concat(lit("g"), g, lit("w"), ((col("doc_id") + i) % 40).cast("string")),
              (i % 3 + 1).cast("int")))),
          array(stop, stop))).as("text"))
  }

  /** Exact WEIGHTED (tf-multiset) Jaccard near-dup pairs
    * ([[graft.operators.Dedup.weightedJaccardPairs]]) over the synthetic
    * vocabulary corpus, with the `maxTermDf` prefix-filter ACTIVE so the
    * capped semantics themselves are what the oracle pins: the group
    * stopword (df 20 > cap 16) leaves the index while staying in the
    * masses, Σmin runs over shared surviving terms, and the denominator
    * rides the identity Σmax = mass_a + mass_b − Σmin. Pair scores
    * straddle the 0.2 threshold by construction (vocabulary-window
    * offsets δ = 1..19 sweep the overlap from 11 terms to 0, so the
    * survivors span several distinct score tiers, not one). Emits
    * symmetric jaccard_w and the asymmetric containment_a (the A-⊂-B
    * detector).
    */
  val q116WeightedJaccard: Q = Q(
    "q116_weighted_jaccard",
    (s, dir) =>
      graft.operators.Dedup.weightedJaccardPairs(
        syntheticVocabDocs(s, dir), "text", "doc_id",
        threshold = 0.2, maxTermDf = Some(16)),
    Some(s"""
      WITH corpus AS (
        SELECT doc_id,
               array_to_string(
                 flatten(list_transform(range(0, 12),
                   i -> list_transform(range(0, i % 3 + 1),
                     r -> 'g' || CAST(doc_id // 20 AS VARCHAR) || 'w' ||
                          CAST((doc_id + i) % 40 AS VARCHAR))))
                 || ['g' || CAST(doc_id // 20 AS VARCHAR) || 'stop',
                     'g' || CAST(doc_id // 20 AS VARCHAR) || 'stop'], ' ') AS text
        FROM documents),
      tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS term
        FROM corpus),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      mass AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS mass FROM tf GROUP BY 1),
      inv AS (
        SELECT doc_id, term, tf FROM (
          SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df FROM tf)
        WHERE df <= 16),
      sh AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS sm
        FROM inv a JOIN inv b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             CAST(sm AS DOUBLE) / CAST(ma.mass + mb.mass - sm AS DOUBLE) AS jaccard_w,
             CAST(sm AS DOUBLE) / CAST(ma.mass AS DOUBLE) AS containment_a
      FROM sh
      JOIN mass ma ON sh.id_a = ma.doc_id
      JOIN mass mb ON sh.id_b = mb.doc_id
      WHERE CAST(sm AS DOUBLE) / CAST(ma.mass + mb.mass - sm AS DOUBLE) >= 0.2"""))

  /** The waterfill arithmetic as a reusable CTE chain ending in
    * `tgt(source, n_docs, actual_tokens, target_tokens)`, budget =
    * `pct`% of total mass — shared by the plan gate (q117) and the
    * plan-feeds-sampler composition (q117b).
    */
  private def waterfillCtesSql(pct: Int): String = s"""
      agg AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS actual_tokens
        FROM documents GROUP BY 1),
      b AS (SELECT CAST(SUM(actual_tokens) * $pct // 100 AS BIGINT) AS budget FROM agg),
      w AS (
        SELECT source, n_docs, actual_tokens,
               CAST(row_number() OVER ord AS BIGINT) AS j,
               CAST(SUM(actual_tokens) OVER ord AS BIGINT) AS s,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM agg WINDOW ord AS (ORDER BY actual_tokens, source)),
      f AS (
        SELECT w.*, b.budget,
               (s + actual_tokens * (n - j)) <= b.budget AS funded
        FROM w, b),
      k AS (
        SELECT COALESCE(MAX(CASE WHEN funded THEN j END), 0) AS k,
               COALESCE(MAX(CASE WHEN funded THEN s END), 0) AS sk
        FROM f),
      tgt AS (
        SELECT source, n_docs, actual_tokens,
               CASE WHEN funded THEN actual_tokens
                    ELSE CAST((budget - sk) // (n - k) AS BIGINT) +
                         CASE WHEN j - k <= (budget - sk) % (n - k) THEN 1 ELSE 0 END
               END AS target_tokens
        FROM f, k)"""

  /** Waterfilling budget allocation
    * ([[graft.operators.Packing.waterfillMixturePlan]]) at 97% of the
    * corpus's total mass — a level that FUNDS the small sources whole
    * and clips the rest to a common water level at every SF, so the
    * funded test, the integer level, and the remainder distribution all
    * have witnesses. The oracle replays the full window arithmetic
    * (sort, prefix sums, funded maximality, truncating level, +1s to
    * the first `rem` unfunded in order) over the same budget.
    */
  val q117WaterfillPlan: Q = Q(
    "q117_waterfill_plan",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val total = d.agg(sum(col("n_chars").cast("long"))).first.getLong(0)
      graft.operators.Packing.waterfillMixturePlan(
        d, "source", "n_chars", total * 97L / 100L)
    },
    Some(s"""
      WITH ${waterfillCtesSql(97)}
      SELECT source, n_docs, actual_tokens, target_tokens,
             CASE WHEN actual_tokens > 0
                  THEN CAST(target_tokens AS DOUBLE) / CAST(actual_tokens AS DOUBLE)
                  ELSE 0.0 END AS fraction
      FROM tgt"""))

  /** Plan-feeds-sampler composition: the waterfill allocation at 60% of
    * corpus mass becomes `targetsOf` targets for
    * [[graft.operators.Packing.mixtureSampleRepeats]] under the
    * systematic doc_id uniform — so the oracle replays allocation AND
    * per-document selection in one chain, and a drift in either breaks
    * the hash (the q115b move for the mixture layer). Waterfill targets
    * never exceed capacity, so every fraction is ≤ 1 and the epoch
    * column is identically 0 — a pure subsample face of the repeats
    * machinery.
    */
  val q117bWaterfillSample: Q = Q(
    "q117b_waterfill_sample",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("n_chars").cast("long").as("n_tokens"))
      val total = d.agg(sum("n_tokens")).first.getLong(0)
      val plan = graft.operators.Packing.waterfillMixturePlan(
        d, "source", "n_tokens", total * 60L / 100L)
      graft.operators.Packing.mixtureSampleRepeats(
        d, "doc_id", "source", "n_tokens",
        graft.operators.Packing.targetsOf(plan),
        // ×37 spread (the q98 systematic uniform): bare doc_id % 1000 is
        // < 0.5 for every id at sf0.01 and the 0.6-ish fractions would
        // reject NOTHING there — no live selection witness
        uniform = Some(pmod(col("doc_id") * 37L, lit(1000L)).cast("double") / lit(1000.0)))
    },
    Some(s"""
      WITH ${waterfillCtesSql(60)},
      d AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_tokens FROM documents),
      fr AS (
        SELECT source,
               CASE WHEN actual_tokens > 0
                    THEN CAST(target_tokens AS DOUBLE) / CAST(actual_tokens AS DOUBLE)
                    ELSE 0.0 END AS f
        FROM tgt),
      c AS (
        SELECT d.doc_id, d.source, d.n_tokens,
               CAST(floor(fr.f) AS BIGINT)
                 + CASE WHEN (d.doc_id * 37 % 1000) / 1000.0 < fr.f - floor(fr.f) THEN 1 ELSE 0 END AS n_copies
        FROM d JOIN fr USING (source))
      SELECT doc_id, source, n_tokens,
             unnest(generate_series(CAST(0 AS BIGINT), n_copies - 1)) AS epoch
      FROM c WHERE n_copies > 0"""))

  /** Keeper-by-QUALITY dedup ([[graft.operators.Dedup
    * .keepBestByCluster]]): exact near-dup pairs → converged components →
    * keep the member with the MOST tokens per cluster (ties to the
    * smaller id) — the policy production dedup actually wants. The
    * planted mutants (first token dropped) always lose to their
    * originals, and the multi-original clusters DISTINGUISH the policy
    * from min-id: 10 keepers at sf0.01 (121 at sf0.1) are NOT their
    * cluster's smallest id, so a keep-min implementation hash-fails
    * here. The oracle replays pairs, the recursive closure, the
    * (score desc, id) ranking, and the survivor set.
    */
  val q118KeepBestDedup: Q = Q(
    "q118_keep_best_dedup",
    (s, dir) => {
      val corpus = corpusWithPlantedDups(s, dir)
        .withColumn("n_toks", size(text.tokens(col("text"))))
      val clusters = Dedup.duplicateClusters(
        Dedup.exactJaccardPairs(corpus, "text", "doc_id", shingleK = 3, threshold = 0.5))
      Dedup.keepBestByCluster(corpus, "doc_id", "n_toks", clusters)
        .select("doc_id", "n_toks")
    },
    Some(s"""
      WITH RECURSIVE $plantedCorpusCte, $exactJaccardCtes,
      pairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sz sa ON sa.doc_id = s.id_a
        JOIN sz sb ON sb.doc_id = s.id_b
        WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5),
      und AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT s, t FROM und
        UNION
        SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s WHERE u.t <> r.s),
      cl AS (SELECT s AS id, LEAST(s, MIN(t)) AS cluster FROM reach GROUP BY s),
      scored AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS n_toks
        FROM corpus),
      rk AS (
        SELECT cl.id,
               row_number() OVER (PARTITION BY cl.cluster ORDER BY sc.n_toks DESC, cl.id) AS rk
        FROM cl JOIN scored sc ON cl.id = sc.doc_id)
      SELECT doc_id, CAST(n_toks AS INT) AS n_toks
      FROM scored
      WHERE doc_id NOT IN (SELECT id FROM rk WHERE rk > 1)"""))

  /** Weighted-MinHash near-dup pairs
    * ([[graft.operators.Dedup.weightedMinHashPairs]]) over the synthetic
    * vocabulary corpus — the LSH production face of q116. Banded
    * candidate generation is not ANSI-SQL-expressible; DedupSpec pins
    * the ⊆-q116 law (every emitted pair is a true exact-weighted pair
    * with the IDENTICAL score) plus a recall floor on the top tier.
    */
  val q119WeightedMinhash: Q = Q(
    "q119_weighted_minhash",
    (s, dir) =>
      graft.operators.Dedup.weightedMinHashPairs(
        syntheticVocabDocs(s, dir), "text", "doc_id",
        numPerm = 64, bands = 16, threshold = 0.2),
    None)

  /** Retrieval-eval metrics ([[graft.operators.Ranking.evalRun]]) over
    * an arithmetic run/qrels fixture (20 queries × 10 ranked docs,
    * judgments on every doc_id ≡ 0 mod 3 — hit counts, first-relevant
    * ranks, and judgment counts all vary per query by construction).
    * The oracle face carries the EXACT columns (small-integer ratios:
    * rr, precision@5, recall@5); ndcg rides the same operator under
    * RankingSpec's driver mirror instead (log2 is libm-territory — the
    * q51 tfidf split).
    */
  val q120EvalRun: Q = Q(
    "q120_eval_run",
    (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      val run = d.where(col("doc_id") < 200).select(
        (col("doc_id") % 20).as("query_id"),
        col("doc_id"),
        (expr("doc_id div 20") + 1).cast("int").as("rank"))
      val qrels = d.where(col("doc_id") % 3 === 0).select(
        (col("doc_id") % 20).as("query_id"),
        col("doc_id"),
        (expr("(doc_id div 20) % 3") + 1).cast("int").as("grade"))
      graft.operators.Ranking.evalRun(run, qrels, k = 5)
        .select("query_id", "n_rel", "hits_k", "precision_k", "recall_k", "rr")
    },
    Some("""
      WITH run AS (
        SELECT doc_id % 20 AS q, doc_id AS d, doc_id // 20 + 1 AS r
        FROM documents WHERE doc_id < 200),
      rel AS (SELECT doc_id % 20 AS q, doc_id AS d FROM documents WHERE doc_id % 3 = 0),
      nrel AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
      h AS (
        SELECT run.q,
               CAST(SUM(CASE WHEN r <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_k,
               MIN(r) AS first
        FROM run JOIN rel ON run.q = rel.q AND run.d = rel.d GROUP BY 1)
      SELECT rq.q AS query_id,
             COALESCE(n_rel, 0) AS n_rel,
             COALESCE(hits_k, 0) AS hits_k,
             CAST(COALESCE(hits_k, 0) AS DOUBLE) / 5 AS precision_k,
             CASE WHEN COALESCE(n_rel, 0) > 0
                  THEN CAST(COALESCE(hits_k, 0) AS DOUBLE) / CAST(n_rel AS DOUBLE)
                  ELSE 0.0 END AS recall_k,
             CASE WHEN first IS NOT NULL THEN 1.0 / CAST(first AS DOUBLE) ELSE 0.0 END AS rr
      FROM (SELECT DISTINCT q FROM run) rq
      LEFT JOIN h ON rq.q = h.q
      LEFT JOIN nrel ON rq.q = nrel.q"""))

  /** Compressibility quality signal
    * ([[graft.operators.Quality.compressionReport]]) over documents.
    * No external oracle: DEFLATE output length is a property of the
    * JVM's zlib, not a cross-engine contract — QualitySpec pins the
    * driver mirror bit-identically, the NULL/empty conventions, and the
    * monotone discrimination law (repetitive ≪ natural ≪ random).
    */
  val q121Compression: Q = Q(
    "q121_compression",
    (s, dir) =>
      graft.operators.Quality.compressionReport(
        t(s, dir, "documents"), "doc_id", "text"),
    None)

  /** Exact cross-source quantile normalization
    * ([[graft.operators.Quality.quantileNormalize]]) of `n_chars` —
    * integer ranks, ⌈r·N/n_s⌉ pooled positions, and the order-statistic
    * lookup against the distinct-score cumulative table, all replayed by
    * the oracle.
    */
  val q122QuantileNormalize: Q = Q(
    "q122_quantile_normalize",
    (s, dir) =>
      graft.operators.Quality.quantileNormalize(
        t(s, dir, "documents"), "doc_id", "source", "n_chars"),
    Some("""
      WITH s AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
        FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
      ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nsrc FROM s GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      r AS (
        SELECT s.*, CAST(row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS BIGINT) AS r
        FROM s),
      kk AS (
        SELECT r.doc_id, r.source, r.score,
               (r.r * tot.n + ns.nsrc - 1) // ns.nsrc AS k
        FROM r JOIN ns USING (source) CROSS JOIN tot),
      p AS (
        SELECT score AS score_norm,
               CAST(SUM(c) OVER (ORDER BY score) - c AS BIGINT) AS prev,
               CAST(SUM(c) OVER (ORDER BY score) AS BIGINT) AS cum
        FROM (SELECT score, COUNT(*) AS c FROM s GROUP BY 1))
      SELECT kk.doc_id, kk.source, kk.score, kk.k AS pooled_rank, p.score_norm
      FROM kk JOIN p ON kk.k > p.prev AND kk.k <= p.cum"""))

  /** Perceptual image fingerprinting, ORACLE-GATED end-to-end through a
    * REAL codec pass: each document id becomes a synthetic lossless PNG
    * ([[Multimodal.syntheticPng]]); Spark runs real PNG encode → real
    * `javax.imageio` decode → integer-luma 9×8 point-grid dHash; DuckDB
    * replays the IDENTICAL integer arithmetic from the pixel formula
    * (PNG is lossless, so decoded pixels ARE the formula — the q41/q95
    * dims gate extended to pixel CONTENT). The 64-bit fold accumulates
    * in HUGEINT and folds to signed BIGINT to match Spark's Long bit 63.
    */
  val q123ImageDhash: Q = Q(
    "q123_image_dhash",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "image", Multimodal.syntheticPng(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.dHashImages(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"), col("dhash"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 32 AS BIGINT) AS w,
               CAST(8 + (doc_id // 32) % 32 AS BIGINT) AS h
        FROM documents),
      px AS (
        SELECT d.doc_id, d.w, d.h, j.j, i.i,
               ((doc_id + 31 * (((i.i + 1) * w) // 9) + 131 * ((j.j * h) // 8)) & 16777215) AS vr,
               ((doc_id + 31 * ((i.i * w) // 9) + 131 * ((j.j * h) // 8)) & 16777215) AS vl
        FROM d, range(8) j(j), range(8) i(i)),
      b AS (
        SELECT doc_id, w, h,
               CASE WHEN (299 * ((vr >> 16) & 255) + 587 * ((vr >> 8) & 255) + 114 * (vr & 255)) // 1000
                       > (299 * ((vl >> 16) & 255) + 587 * ((vl >> 8) & 255) + 114 * (vl & 255)) // 1000
                    THEN CAST(1 AS HUGEINT) << CAST(j * 8 + i AS INT)
                    ELSE CAST(0 AS HUGEINT) END AS bit
        FROM px),
      u AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h, SUM(bit) AS acc FROM b GROUP BY doc_id)
      SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(CASE WHEN acc >= 9223372036854775808 THEN acc - 18446744073709551616 ELSE acc END AS BIGINT) AS dhash
      FROM u"""))

  /** Image NEAR-DUP pairs — [[Multimodal.imageNearDupPairs]]: the dHash
    * fingerprints through the banded-Hamming machinery
    * ([[Dedup.hammingPairs64]], 4×16-bit bands). With maxHamming = 3 the
    * pigeonhole makes banded recall EXACT, so the whole linear pipeline
    * is gated against DuckDB's quadratic brute force over the replayed
    * fingerprints. Validation runs on a 1-in-7 corpus slice (the oracle
    * side is deliberately all-pairs); the Spark face is the linear
    * banded path that runs on the full corpus at scale.
    */
  val q123bImageNearDup: Q = Q(
    "q123b_image_near_dup",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "image", Multimodal.syntheticPng(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.imageNearDupPairs(s, media, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 32 AS BIGINT) AS w,
               CAST(8 + (doc_id // 32) % 32 AS BIGINT) AS h
        FROM documents WHERE doc_id % 7 = 0),
      px AS (
        SELECT d.doc_id, j.j, i.i,
               ((doc_id + 31 * (((i.i + 1) * w) // 9) + 131 * ((j.j * h) // 8)) & 16777215) AS vr,
               ((doc_id + 31 * ((i.i * w) // 9) + 131 * ((j.j * h) // 8)) & 16777215) AS vl
        FROM d, range(8) j(j), range(8) i(i)),
      b AS (
        SELECT doc_id,
               CASE WHEN (299 * ((vr >> 16) & 255) + 587 * ((vr >> 8) & 255) + 114 * (vr & 255)) // 1000
                       > (299 * ((vl >> 16) & 255) + 587 * ((vl >> 8) & 255) + 114 * (vl & 255)) // 1000
                    THEN CAST(1 AS HUGEINT) << CAST(j * 8 + i AS INT)
                    ELSE CAST(0 AS HUGEINT) END AS bit
        FROM px),
      sg AS (
        SELECT doc_id,
               CAST(CASE WHEN acc >= 9223372036854775808 THEN acc - 18446744073709551616 ELSE acc END AS BIGINT) AS dh
        FROM (SELECT doc_id, SUM(bit) AS acc FROM b GROUP BY doc_id))
      SELECT a.doc_id AS id_a, c.doc_id AS id_b,
             CAST(bit_count(xor(a.dh, c.dh)) AS INT) AS hamming
      FROM sg a JOIN sg c ON a.doc_id < c.doc_id
      WHERE bit_count(xor(a.dh, c.dh)) <= 3"""))

  /** The STREAMING perceptual media-dedup ingest's batch face ([[graft
    * .streaming.Streams.mediaDedupIngest]], r13 "What's missing" #2),
    * on the q123b 1-in-7 corpus slice (the oracle side is quadratic by
    * design). Two micro-batches split on `doc_id % 14`; DuckDB replays
    * the EXACT cross-batch semantics from the pixel-formula dhashes:
    * per-batch exact min-id collapse, per-batch greedy near suppression
    * (a keeper drops iff a smaller-id keeper of the SAME batch is
    * within hamming 3 — checked against all keepers, not survivors:
    * the greedy-not-transitive contract), then batch-2 survivors drop
    * on any hamming ≤ 3 match against batch-1's COMMITTED signatures.
    * Pins the in-batch collapse, the greedy pair path, the committed-
    * index probe, and the exactly-once landing, end to end through the
    * real PNG codec.
    */
  val q123cMediaDedupIngest: Q = Q(
    "q123c_media_dedup_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ids = t(s, dir, "documents")
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id")).as[Long].collect()
      val rows = ids.map(id => (id, graft.operators.Multimodal.syntheticPng(id)))
      val (b1, b2) = rows.partition(_._1 % 14 == 0)
      val root = java.nio.file.Files.createTempDirectory("graft_media_ingest").toString
      val input = MemoryStream[(Long, Array[Byte])]
      val query = graft.streaming.Streams.mediaDedupIngest(
        input.toDF().toDF("doc_id", "bytes"), "doc_id", "bytes",
        s"$root/idx", s"$root/landed", maxHamming = 3)
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      s.read.parquet(s"$root/landed").select(col("doc_id"), col("dhash"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 32 AS BIGINT) AS w,
               CAST(8 + (doc_id // 32) % 32 AS BIGINT) AS h
        FROM documents WHERE doc_id % 7 = 0),
      px AS (
        SELECT d.doc_id, d.w, d.h, j.j, i.i,
               ((doc_id + 31 * (((i.i + 1) * w) // 9) + 131 * ((j.j * h) // 8)) & 16777215) AS vr,
               ((doc_id + 31 * ((i.i * w) // 9) + 131 * ((j.j * h) // 8)) & 16777215) AS vl
        FROM d, range(8) j(j), range(8) i(i)),
      b AS (
        SELECT doc_id,
               CASE WHEN (299 * ((vr >> 16) & 255) + 587 * ((vr >> 8) & 255) + 114 * (vr & 255)) // 1000
                       > (299 * ((vl >> 16) & 255) + 587 * ((vl >> 8) & 255) + 114 * (vl & 255)) // 1000
                    THEN CAST(1 AS HUGEINT) << CAST(j * 8 + i AS INT)
                    ELSE CAST(0 AS HUGEINT) END AS bit
        FROM px),
      sg AS (
        SELECT doc_id,
               CAST(CASE WHEN acc >= 9223372036854775808 THEN acc - 18446744073709551616 ELSE acc END AS BIGINT) AS dh
        FROM (SELECT doc_id, SUM(bit) AS acc FROM b GROUP BY doc_id)),
      k1 AS (SELECT MIN(doc_id) AS doc_id, dh FROM sg WHERE doc_id % 14 = 0 GROUP BY dh),
      s1 AS (SELECT * FROM k1 a WHERE NOT EXISTS (
               SELECT 1 FROM k1 x WHERE x.doc_id < a.doc_id
                 AND bit_count(xor(a.dh, x.dh)) <= 3)),
      k2 AS (SELECT MIN(doc_id) AS doc_id, dh FROM sg WHERE doc_id % 14 <> 0 GROUP BY dh),
      s2a AS (SELECT * FROM k2 a WHERE NOT EXISTS (
                SELECT 1 FROM k2 x WHERE x.doc_id < a.doc_id
                  AND bit_count(xor(a.dh, x.dh)) <= 3)),
      s2 AS (SELECT * FROM s2a a WHERE NOT EXISTS (
               SELECT 1 FROM s1 x WHERE bit_count(xor(a.dh, x.dh)) <= 3))
      SELECT doc_id, dh AS dhash FROM s1
      UNION ALL
      SELECT doc_id, dh AS dhash FROM s2"""))

  /** File-level BLOOM skipping under the oracle gate
    * ([[graft.sources.BloomSkip]]): lineitem is HASH-spread into 16
    * files on the order key (the layout where every file's [min, max]
    * straddles any probe — zone maps provably skip nothing), a per-file
    * bloom manifest is built, and an IN-list point lookup reads ONLY the
    * files whose filters fire, equality re-applied. The gate is the
    * no-false-drop law: the pruned read must equal DuckDB's plain
    * `WHERE l_orderkey IN (…)` over the full table — one absent key
    * rides along to exercise the all-skip path. BloomSkipSpec pins the
    * actual file-count reduction; here the ORACLE pins that skipping
    * never loses a row.
    */
  val q124BloomSkipRead: Q = Q(
    "q124_bloom_skip_read",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      val root = java.nio.file.Files.createTempDirectory("graft_bloom_q").toString
      val data = root + "/data"; val mf = root + "/manifest"
      li.repartition(16, col("l_orderkey")).write.mode("overwrite").parquet(data)
      graft.sources.BloomSkip.save(s, data, mf, "l_orderkey", bits = 1 << 14)
      graft.sources.BloomSkip
        .prunedReadIn(s, data, mf, "l_orderkey",
          Seq(1L, 7L, 1000L, 4999L, 999999999L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem WHERE l_orderkey IN (1, 7, 1000, 4999, 999999999)"""))

  /** Full-corpus image near-dup — the BENCH face of [[q123bImageNearDup]]'s
    * sliced gate: every document becomes a PNG and the whole
    * encode → real decode → dHash → banded-pair pipeline runs end to end.
    * Codec-bound, a workload class none of the relational headlines
    * cover; the banded join keeps it linear at any corpus size.
    */
  private[graft] def mediaNearDupFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map(id => (id, "image", Multimodal.syntheticPng(id))))
      .toDF("media_id", "kind", "bytes")
    Multimodal.imageNearDupPairs(s, media)
  }

  /** Perceptual AUDIO fingerprint, oracle-gated through a REAL PCM
    * decode: each document id becomes a synthetic WAV
    * ([[Multimodal.syntheticWav]]); Spark runs real
    * `javax.sound.sampled` decode → 33-frame energy-envelope gradient
    * ([[Multimodal.audioFingerprint]]); DuckDB replays the interleaved
    * sample formula and the identical integer frame arithmetic. 32 bits
    * → no sign fold needed. The [[q123ImageDhash]] gate extended to the
    * audio modality — together they put perceptual near-dup fingerprints
    * over all decodable media under external oracles.
    */
  val q125AudioFingerprint: Q = Q(
    "q125_audio_fingerprint",
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, "audio", Multimodal.syntheticWav(id))))
        .toDF("media_id", "kind", "bytes")
      Multimodal.audioFingerprint(s, media).toDF()
        .select(col("media_id"), col("n_interleaved"), col("fingerprint"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST((100 + doc_id % 400) * (1 + doc_id % 2) AS BIGINT) AS n
        FROM documents),
      e AS (
        SELECT doc_id, n, f.f,
               list_sum(list_transform(range(f.f * n // 33, (f.f + 1) * n // 33),
                 i -> abs((doc_id + i * 2654435761) % 65536 - 32768)))
               // ((f.f + 1) * n // 33 - f.f * n // 33) AS energy
        FROM d, range(33) f(f)),
      p AS (
        SELECT doc_id, n, f, energy,
               lead(energy) OVER (PARTITION BY doc_id ORDER BY f) AS nexte
        FROM e),
      s AS (
        SELECT doc_id, MAX(n) AS n,
               SUM(CASE WHEN nexte > energy THEN CAST(1 AS BIGINT) << CAST(f AS INT) ELSE CAST(0 AS BIGINT) END) AS fp
        FROM p WHERE f < 32 GROUP BY doc_id)
      SELECT doc_id AS media_id, n AS n_interleaved, CAST(fp AS BIGINT) AS fingerprint FROM s"""))

  /** Unicode SCRIPT detection ([[text.scriptId]]) — the writing-system
    * histogram that complements stopword [[text.langId]] on unspaced
    * scripts. The driver corpus is ASCII, so witnesses are PLANTED (the
    * q99 synthesized-input move): each doc gets a script suffix keyed by
    * doc_id % 6, exercising every range and the priority tie-break.
    * Counts are the `length − length(strip)` trick over EXPLICIT BMP
    * codepoint ranges — the same intervals in Java regex (`\uXXXX`) and
    * RE2 (`\x{XXXX}`) syntax, so DuckDB replays the histogram and the
    * argmax exactly.
    */
  val q126ScriptProfile: Q = Q(
    "q126_script_profile",
    (s, dir) => {
      val samples = Seq(
        "привет мир как дела",
        "γεια σου κοσμε",
        "مرحبا بالعالم",
        "नमस्ते दुनिया",
        "你好世界 こんにちは 안녕하세요",
        "plain latin text only")
      // even ids: full doc + suffix (latin dominates — realistic mixed
      // text); odd ids: suffix + a 0–6 char latin sliver (the suffix's
      // script dominates, so the argmax genuinely varies)
      // keyed on doc_id div 2 so the odd (script-dominant) ids cycle
      // through ALL six samples, not just the odd residues
      val suffix = element_at(typedLit(samples),
        expr("cast((doc_id div 2) % 6 as int) + 1"))
      val planted = when(pmod(col("doc_id"), lit(2L)) === 0L,
        concat(col("text"), lit(" "), suffix))
        .otherwise(concat(suffix, lit(" "), expr("substring(text, 1, cast(doc_id % 7 as int))")))
      val counts = text.scriptRanges.map { case (n, r) =>
        text.scriptCount(planted, r).as(n)
      }
      t(s, dir, "documents").select(
        (col("doc_id") +: counts) :+ text.scriptId(planted).as("script"): _*)
    },
    Some("""
      WITH sx AS (
        SELECT doc_id, CASE CAST((doc_id // 2) % 6 AS INT)
          WHEN 0 THEN 'привет мир как дела'
          WHEN 1 THEN 'γεια σου κοσμε'
          WHEN 2 THEN 'مرحبا بالعالم'
          WHEN 3 THEN 'नमस्ते दुनिया'
          WHEN 4 THEN '你好世界 こんにちは 안녕하세요'
          ELSE 'plain latin text only' END AS sfx, text
        FROM documents),
      d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN text || ' ' || sfx
                    ELSE sfx || ' ' || substr(text, 1, CAST(doc_id % 7 AS INT)) END AS t
        FROM sx),
      c AS (
        SELECT doc_id,
          length(t) - length(regexp_replace(t, '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS latin,
          length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')) AS cyrillic,
          length(t) - length(regexp_replace(t, '[\x{0370}-\x{03FF}]', '', 'g')) AS greek,
          length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')) AS arabic,
          length(t) - length(regexp_replace(t, '[\x{0900}-\x{097F}]', '', 'g')) AS devanagari,
          length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]', '', 'g')) AS cjk
        FROM d)
      SELECT doc_id, latin, cyrillic, greek, arabic, devanagari, cjk,
             CASE WHEN GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) <= 0 THEN 'unknown'
                  WHEN latin = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'latin'
                  WHEN cyrillic = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'cyrillic'
                  WHEN greek = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'greek'
                  WHEN arabic = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'arabic'
                  WHEN devanagari = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'devanagari'
                  ELSE 'cjk' END AS script
      FROM c"""))

  /** Documents + synthesized URLs + an integral quality score whose mean
    * genuinely diverges per host (score = n_chars + 40·(doc_id mod 3),
    * and the host IS doc_id mod 3) — the q127 family's shared input.
    */
  private def domainScoredDocs(s: SparkSession, dir: String): DataFrame =
    syntheticUrls(s, dir)
      .join(t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
      .withColumn("score", col("n_chars") + pmod(col("doc_id"), lit(3L)) * 40L)

  private val domainScoredSql = """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'example.com'
                    WHEN doc_id % 3 = 1 THEN 'sub.example.org'
                    ELSE 'example.net' END AS host,
               n_chars + (doc_id % 3) * 40 AS s
        FROM documents"""

  /** DOMAIN-level quality judgment ([[graft.operators.Urls
    * .domainQualityReport]]) — the C4/RefinedWeb curation stage that
    * judges sites, not documents: per-host doc counts and score sums
    * with the block decision as an EXACT rational comparison
    * (score_sum·den < num·n_docs in decimal — no float mean, no
    * order-dependent boundary). The synthesized corpus makes exactly
    * one of the three hosts fall below mean 320 at every SF, so the
    * blocked flag has live witnesses on both sides.
    */
  val q127DomainQuality: Q = Q(
    "q127_domain_quality",
    (s, dir) =>
      graft.operators.Urls.domainQualityReport(
        domainScoredDocs(s, dir), "url", "score", minMeanNum = 320L, minDocs = 10L),
    Some(s"""
      WITH d AS ($domainScoredSql),
      g AS (SELECT host, COUNT(*) AS n_docs, CAST(SUM(s) AS BIGINT) AS score_sum
            FROM d GROUP BY host)
      SELECT host, n_docs, score_sum,
             (n_docs >= 10 AND score_sum < 320 * n_docs) AS blocked
      FROM g"""))

  /** The blocklist APPLICATION face ([[graft.operators.Urls
    * .filterByDomainQuality]]): every doc on a blocked domain drops,
    * everything else survives — the anti-join the report feeds. Gated as
    * the surviving id set.
    */
  val q127bDomainFilter: Q = Q(
    "q127b_domain_filter",
    (s, dir) =>
      graft.operators.Urls.filterByDomainQuality(
        domainScoredDocs(s, dir), "url", "score", minMeanNum = 320L, minDocs = 10L)
        .select("doc_id"),
    Some(s"""
      WITH d AS ($domainScoredSql),
      g AS (SELECT host, COUNT(*) AS n_docs, CAST(SUM(s) AS BIGINT) AS score_sum
            FROM d GROUP BY host)
      SELECT doc_id FROM d
      WHERE host NOT IN (
        SELECT host FROM g WHERE n_docs >= 10 AND score_sum < 320 * n_docs)"""))

  /** The one-call DATASET CARD ([[Quality.datasetCard]]) — volume,
    * exact-duplication, quality-flag counts, and the language / script /
    * source mixes as long-format integer rows, the audit artifact a
    * published training set ships. Every constituent metric reuses an
    * already-gated primitive's arithmetic (q20 tokens, q21 ratios, q22
    * langId, q23 fingerprint, q126 scripts), and the oracle replays ALL
    * of them in one union — the composition gate for the audit layer.
    */
  val q128DatasetCard: Q = Q(
    "q128_dataset_card",
    (s, dir) =>
      Quality.datasetCard(t(s, dir, "documents"), "doc_id", "text", "source"),
    Some {
      val hitExpr = text.langStopwords.map { case (lang, stop) =>
        val inList = stop.map(w => s"'$w'").mkString(",")
        s"length(list_filter(tk, x -> x IN ($inList))) AS ${lang}_hits"
      }.mkString(",\n               ")
      val stopList = text.englishStopwords.map(w => s"'$w'").mkString(",")
      s"""
      WITH base AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> length(x) > 0) AS tk
        FROM documents),
      lg AS (
        SELECT doc_id,
               $hitExpr
        FROM base),
      lgm AS (
        SELECT doc_id,
               CASE WHEN greatest(en_hits, es_hits, fr_hits, de_hits) = 0 THEN 'und'
                    WHEN en_hits = greatest(en_hits, es_hits, fr_hits, de_hits) THEN 'en'
                    WHEN es_hits = greatest(en_hits, es_hits, fr_hits, de_hits) THEN 'es'
                    WHEN fr_hits = greatest(en_hits, es_hits, fr_hits, de_hits) THEN 'fr'
                    ELSE 'de' END AS lang
        FROM lg),
      sc AS (
        SELECT doc_id,
          length(text) - length(regexp_replace(text, '[A-Za-z\\x{00C0}-\\x{024F}]', '', 'g')) AS latin,
          length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04FF}]', '', 'g')) AS cyrillic,
          length(text) - length(regexp_replace(text, '[\\x{0370}-\\x{03FF}]', '', 'g')) AS greek,
          length(text) - length(regexp_replace(text, '[\\x{0600}-\\x{06FF}]', '', 'g')) AS arabic,
          length(text) - length(regexp_replace(text, '[\\x{0900}-\\x{097F}]', '', 'g')) AS devanagari,
          length(text) - length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]', '', 'g')) AS cjk
        FROM base),
      scm AS (
        SELECT doc_id,
               CASE WHEN GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) <= 0 THEN 'unknown'
                    WHEN latin = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'latin'
                    WHEN cyrillic = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'cyrillic'
                    WHEN greek = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'greek'
                    WHEN arabic = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'arabic'
                    WHEN devanagari = GREATEST(latin, cyrillic, greek, arabic, devanagari, cjk) THEN 'devanagari'
                    ELSE 'cjk' END AS script
        FROM sc),
      st AS (
        SELECT doc_id,
               CASE WHEN length(tk) = 0 THEN 0.0
                    ELSE CAST(length(list_filter(tk, x -> x IN ($stopList))) AS DOUBLE) / length(tk) END AS stopr
        FROM base)
      SELECT 'corpus' AS section, 'n_docs' AS metric, COUNT(*) AS value FROM base
      UNION ALL SELECT 'corpus', 'total_chars', CAST(SUM(n_chars) AS BIGINT) FROM base
      UNION ALL SELECT 'corpus', 'total_tokens', CAST(SUM(n_tokens) AS BIGINT) FROM base
      UNION ALL SELECT 'corpus', 'distinct_texts', COUNT(DISTINCT fp) FROM base
      UNION ALL SELECT 'corpus', 'exact_dup_docs', COUNT(*) - COUNT(DISTINCT fp) FROM base
      UNION ALL SELECT 'flags', 'high_punct_docs',
        CAST(SUM(CASE WHEN punct > 0.05 THEN 1 ELSE 0 END) AS BIGINT) FROM base
      UNION ALL SELECT 'flags', 'no_stopword_docs',
        CAST(SUM(CASE WHEN st.stopr = 0.0 AND b.n_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM base b JOIN st USING (doc_id)
      UNION ALL SELECT 'flags', 'short_docs',
        CAST(SUM(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END) AS BIGINT) FROM base
      UNION ALL SELECT 'lang', lang, COUNT(*) FROM lgm GROUP BY lang
      UNION ALL SELECT 'script', script, COUNT(*) FROM scm GROUP BY script
      UNION ALL SELECT 'source', COALESCE(source, '__null__'), COUNT(*) FROM base GROUP BY source"""
    })

  /** Exact-integer embedding moments ([[Embeddings.momentsExactInt]]):
    * the Gram matrix, column sums, and row count over quantized vectors
    * in one long-format frame — the sufficient statistics covariance and
    * PCA whitening are two divisions away from. Quantization makes every
    * entry an exact integer sum (aggregation-order independent), so the
    * oracle replays the full d²+d+1 artifact bit-for-bit; [[Embeddings
    * .pcaWhiten]] consumes exactly this frame, so its input statistics
    * are gated here even though eigenvectors are not SQL-expressible.
    */
  val q129EmbeddingMoments: Q = Q(
    "q129_embedding_moments",
    (s, dir) =>
      Embeddings.momentsExactInt(t(s, dir, "embeddings"), "vec_id", "embedding", scale = 64),
    Some("""
      WITH v AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      q AS (
        SELECT vec_id,
               CAST(i - 1 AS INTEGER) AS i,
               CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT) AS qv
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i FROM v))
      SELECT a.i AS row_idx, b.i AS col_idx, CAST(SUM(a.qv * b.qv) AS BIGINT) AS value
      FROM q a JOIN q b USING (vec_id) GROUP BY a.i, b.i
      UNION ALL
      SELECT i, CAST(-1 AS INTEGER), CAST(SUM(qv) AS BIGINT) FROM q GROUP BY i
      UNION ALL
      SELECT CAST(-1 AS INTEGER), CAST(-1 AS INTEGER), COUNT(*) FROM v"""),
    headline = true) // dense-linear-algebra layer: the d²-per-row vec-sum aggregation timed per round

  /** BLOCK-WISE exact-integer moments ([[Embeddings
    * .momentsExactIntBlocked]]) under the SAME oracle as q129: the
    * dimension grid decomposed into block pairs (blockSize 24 against
    * d=64 → a 3×3 grid with a ragged 16-wide tail block — the uneven
    * case), every (i ≤ j) cell its own bounded [[graft.expressions
    * .CrossSumAgg]] state, moments riding the explode as (block, [1.0])
    * cross products, result assembled DISTRIBUTED (posexplode + index
    * arithmetic + diagonal mirror, no driver-side d² collect). Value
    * equality with q129's full artifact is the gate that the block
    * decomposition is exact — the scale path for d ≳ 2048 where one
    * d²-sized aggregation state stops fitting a task comfortably.
    */
  val q129bEmbeddingMomentsBlocked: Q = Q(
    "q129b_embedding_moments_blocked",
    (s, dir) =>
      Embeddings.momentsExactIntBlocked(
        t(s, dir, "embeddings"), "vec_id", "embedding", scale = 64, blockSize = 24),
    Some("""
      WITH v AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      q AS (
        SELECT vec_id,
               CAST(i - 1 AS INTEGER) AS i,
               CAST(floor(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT) AS qv
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i FROM v))
      SELECT a.i AS row_idx, b.i AS col_idx, CAST(SUM(a.qv * b.qv) AS BIGINT) AS value
      FROM q a JOIN q b USING (vec_id) GROUP BY a.i, b.i
      UNION ALL
      SELECT i, CAST(-1 AS INTEGER), CAST(SUM(qv) AS BIGINT) FROM q GROUP BY i
      UNION ALL
      SELECT CAST(-1 AS INTEGER), CAST(-1 AS INTEGER), COUNT(*) FROM v"""))

  /** JSON-Lines interchange ROUND-TRIP under the external oracle — the
    * de-facto LLM corpus shipping format joins q105 (ORC) and q45/q46
    * in the gated-interchange family. Documents land as gzip JSONL
    * shards via `to_json` (a real write through the text sink), read
    * back through the explicit-schema, malformed-dropping
    * [[graft.sources.JsonlSource.readClean]], and the oracle recomputes
    * a content-sensitive per-lang profile (counts, char totals, id
    * checksum, min/max md5 of text) from the parquet originals —
    * agreement witnesses byte-faithful string survival through JSON
    * escaping + gzip, not just row counts. Quarantine/corrupt-line
    * semantics are pinned separately in SinksSpec.
    */
  val q130JsonlRoundtrip: Q = Q(
    "q130_jsonl_roundtrip",
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
      val path = java.nio.file.Files.createTempDirectory("graft_jsonl_rt").toString + "/docs"
      docs.repartition(4)
        .select(to_json(struct(docs.columns.map(col): _*)).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(path)
      graft.sources.JsonlSource.readClean(s, path, docs.schema)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"),
          sum("doc_id").as("id_sum"),
          min(md5(col("text"))).as("md5_lo"),
          max(md5(col("text"))).as("md5_hi"))
    },
    Some("""
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             MIN(md5(text)) AS md5_lo, MAX(md5(text)) AS md5_hi
      FROM documents GROUP BY lang"""))

  /** WET (Common Crawl extracted-text) ROUND-TRIP under the external
    * oracle: documents serialize into per-record-gzip WET shards through
    * [[graft.sources.Wet.write]] (real WARC headers, Content-Length in
    * BYTES, language carried as WARC-Identified-Content-Language), read
    * back through the Content-Length-disciplined streaming parser, and
    * the oracle recomputes the per-language profile — including the
    * UTF-8 BYTE total, which witnesses that payload framing counted
    * bytes, not chars — from the parquet originals. The doc id rides the
    * synthesized target URI and comes back via regexp, so `id_sum`
    * witnesses record↔URI integrity. Binary-safety edge cases (payloads
    * containing blank lines / WARC literals, multi-byte chars straddling
    * Content-Length, warcinfo skipping, multi-member gzip) are pinned in
    * WetSpec.
    */
  val q131WetRoundtrip: Q = Q(
    "q131_wet_roundtrip",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(
          concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
          col("text"), col("lang"))
      val path = java.nio.file.Files.createTempDirectory("graft_wet_rt").toString + "/shards"
      graft.sources.Wet.write(
        docs.repartition(4), "uri", "text", path, langCol = Some("lang"), gzip = true)
      graft.sources.Wet.read(s, path)
        .groupBy("content_language")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_bytes").as("bytes"),
          sum(length(col("content"))).as("chars"),
          sum(regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long")).as("id_sum"),
          min(md5(col("content"))).as("md5_lo"),
          max(md5(col("content"))).as("md5_hi"))
    },
    Some("""
      SELECT lang AS content_language, COUNT(*) AS n_docs,
             CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes,
             CAST(SUM(length(text)) AS BIGINT) AS chars,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             MIN(md5(text)) AS md5_lo, MAX(md5(text)) AS md5_hi
      FROM documents GROUP BY lang"""))

  /** Curation attrition funnel ([[graft.operators.Filtering
    * .attritionFunnel]]): the Gopher rule chain of q73, reported as
    * per-stage entered/dropped/surviving counts in rule order — the
    * "where did my corpus go" accounting a production curation run
    * publishes next to its output. The oracle replays q73's exact flag
    * arithmetic, assigns each doc its FIRST failing stage, and unrolls
    * the same short-circuit funnel with a window cumsum; everything is
    * integer counts, so the match is bit-exact.
    */
  val q132CurationFunnel: Q = Q(
    "q132_curation_funnel",
    (s, dir) =>
      graft.operators.Filtering.attritionFunnel(
        graft.operators.Filtering.gopherReport(
          t(s, dir, "documents"), "doc_id", "text",
          graft.operators.Filtering.GopherThresholds(
            minTokens = 30L, maxTokens = 80L, minStopwordHits = 1L)),
        Seq("ok_tokens", "ok_mean_len", "ok_symbols", "ok_bullets",
          "ok_ellipsis", "ok_alpha", "ok_stopwords")),
    Some("""
      WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> length(x) > 0) AS tkl,
               list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lns
        FROM documents),
      s AS (
        SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) END AS mean_token_len,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) END AS alpha_word_ratio,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                     + (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) END AS symbol_ratio,
          CASE WHEN len(lns) = 0 THEN 0.0
               ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lns) END AS bullet_line_ratio,
          CASE WHEN len(lns) = 0 THEN 0.0
               ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) / len(lns) END AS ellipsis_line_ratio,
          CAST(len(list_distinct(list_filter(tkl, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this')))) AS BIGINT) AS stopword_hits
        FROM toks),
      f AS (
        SELECT CASE
          WHEN NOT (n_tokens >= 30 AND n_tokens <= 80) THEN 0
          WHEN NOT (mean_token_len >= 3.0 AND mean_token_len <= 10.0) THEN 1
          WHEN NOT (symbol_ratio <= 0.1) THEN 2
          WHEN NOT (bullet_line_ratio <= 0.9) THEN 3
          WHEN NOT (ellipsis_line_ratio <= 0.3) THEN 4
          WHEN NOT (alpha_word_ratio >= 0.8) THEN 5
          WHEN NOT (stopword_hits >= 1) THEN 6
          ELSE 7 END AS fail_stage
        FROM s),
      tot AS (SELECT COUNT(*) AS n FROM f),
      dim AS (
        SELECT * FROM (VALUES
          (0, 'ok_tokens'), (1, 'ok_mean_len'), (2, 'ok_symbols'), (3, 'ok_bullets'),
          (4, 'ok_ellipsis'), (5, 'ok_alpha'), (6, 'ok_stopwords')) AS r(stage, rule)),
      d AS (
        SELECT dim.stage, dim.rule, COALESCE(c.dropped, 0) AS dropped
        FROM dim LEFT JOIN (
          SELECT fail_stage AS stage, COUNT(*) AS dropped FROM f GROUP BY fail_stage) c
        USING (stage)),
      e AS (
        SELECT stage, rule,
               CAST(n - COALESCE(SUM(dropped) OVER (ORDER BY stage
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS entered,
               CAST(dropped AS BIGINT) AS dropped
        FROM d, tot)
      SELECT stage, rule, entered, dropped, entered - dropped AS surviving FROM e"""))

  /** NATIVE parquet row-group bloom filters under the driver gate
    * ([[graft.sources.Sinks.writeWithBloomFilters]]): the documents
    * table re-lands keyed by content fingerprint with an in-file bloom
    * on `fp`, then a FIXED five-id probe set (bounded literals — the
    * probe side stays O(1) at any corpus scale) point-looks-up through
    * the bloomed table. Any doc sharing a probed fingerprint surfaces
    * (exact dups included), so the oracle is the same fingerprint
    * semi-join on the originals — a false negative from the bloom path
    * would drop rows and hash-mismatch. The skipping itself (0 rows
    * decoded on absent keys vs full decode without the filter) is
    * measured in ParquetBloomSpec; this face pins write→read
    * correctness.
    */
  val q133NativeBloomLookup: Q = Q(
    "q133_native_bloom_lookup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val keyed = docs.select(md5(col("text")).as("fp"), col("doc_id"), col("n_chars"))
      val path = java.nio.file.Files.createTempDirectory("graft_pqbloom_rt").toString + "/t"
      graft.sources.Sinks.writeWithBloomFilters(
        keyed.repartition(4), path, Map("fp" -> 200000L))
      val probeFps = docs
        .where(col("doc_id").isin(0L, 97L, 194L, 291L, 388L))
        .select(md5(col("text")).as("fp"))
        .collect().map(_.getString(0)) // exactly ≤5 strings at ANY scale
      s.read.parquet(path)
        .where(col("fp").isin(probeFps.toIndexedSeq: _*))
        .select("fp", "doc_id", "n_chars")
    },
    Some("""
      SELECT md5(text) AS fp, doc_id, n_chars FROM documents
      WHERE md5(text) IN (
        SELECT md5(text) FROM documents WHERE doc_id IN (0, 97, 194, 291, 388))"""))

  /** `COUNT(*)` from parquet FOOTERS alone ([[graft.sources.ParquetStats
    * .rowCountFromFooters]]): row-group counts are exact by format
    * contract, so the full-table count costs a metadata sweep — no data
    * page read. The oracle is the real `COUNT(*)`; agreement pins that
    * the footer path can stand in for the scan wherever only the count
    * is needed (manifests, expectations, card headers).
    */
  val q134FooterCount: Q = Q(
    "q134_footer_count",
    (s, dir) =>
      graft.sources.ParquetStats.rowCountFromFooters(s, s"$dir/documents.parquet"),
    Some("SELECT COUNT(*) AS n_rows FROM documents"))

  /** Salted pseudonymization ([[graft.operators.Privacy.pseudonymize]]):
    * SHA-256 over salt‖value replaces the id and source columns with
    * consistent tokens — equal values map to equal tokens, so joins and
    * group-bys survive while raw values do not. The oracle recomputes
    * the exact same digests in DuckDB (NULL-propagating `||`, mirroring
    * the operator's NULL-preserving contract), so the match is
    * bit-exact hex.
    */
  val q135Pseudonymize: Q = Q(
    "q135_pseudonymize",
    (s, dir) =>
      graft.operators.Privacy.pseudonymize(
        t(s, dir, "documents")
          .select(col("doc_id"), col("doc_id").cast("string").as("pid"), col("source")),
        Seq("pid", "source"), salt = "graft-r13"),
    Some("""
      SELECT doc_id,
             sha256('graft-r13' || CAST(doc_id AS VARCHAR)) AS pid,
             sha256('graft-r13' || source) AS source
      FROM documents"""))

  /** Order-independent corpus checksum ([[graft.operators.Privacy
    * .corpusChecksum]]): canonical row serialization → md5 → 48-bit
    * prefix summed in decimal(38,0). Addition commutes, so the number is
    * invariant to partitioning, ordering, and engine — DuckDB computes
    * the identical value from the same parquet, which is precisely the
    * operator's job description (certify two copies agree without
    * moving either).
    */
  val q136CorpusChecksum: Q = Q(
    "q136_corpus_checksum",
    // Gate face projects `checksum` as VARCHAR (catalog header rule: the
    // driver's hasher coerces DECIMAL asymmetrically — this row sat red two
    // rounds on bit-identical values). VARCHAR rather than loudBigint
    // because a sum of 48-bit row hashes genuinely exceeds long past ~2^16
    // rows — real corpus scale, not theory. The operator itself keeps its
    // decimal(38,0) exactness contract untouched.
    (s, dir) =>
      graft.operators.Privacy.corpusChecksum(
        t(s, dir, "documents"), Seq("doc_id", "text", "lang", "source", "n_chars"))
        .withColumn("checksum", col("checksum").cast("string")),
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(concat('0x', substring(md5(k), 1, 12)) AS BIGINT)) AS VARCHAR) AS checksum
      FROM (
        SELECT concat_ws(chr(1),
          COALESCE(CAST(doc_id AS VARCHAR), chr(2) || 'NULL'),
          COALESCE(text, chr(2) || 'NULL'),
          COALESCE(lang, chr(2) || 'NULL'),
          COALESCE(source, chr(2) || 'NULL'),
          COALESCE(CAST(n_chars AS VARCHAR), chr(2) || 'NULL')) AS k
        FROM documents)"""))

  /** The END-TO-END crawl pipeline under ONE oracle: documents wearing
    * messy synthetic URLs (the q99 generator) land as real WET shards,
    * stream back through the Content-Length parser, canonicalize +
    * dedup to a deterministic keeper per canonical URL (min over
    * `uri‖md5(content)‖lang` — unique even when distinct docs share a
    * messy URL), pass the Gopher rule chain, and profile per language.
    * Every stage is already individually gated (q131 WET, q99
    * canonicalization, q99b dedup, q73 rules); this face pins that the
    * COMPOSITION loses nothing between stages — the DuckDB oracle
    * replays the whole chain from the parquet originals: URL arithmetic,
    * keeper selection, rule flags, profile.
    */
  val q137CrawlPipeline: Q = Q(
    "q137_crawl_pipeline",
    (s, dir) => {
      val staged = t(s, dir, "documents")
        .join(syntheticUrls(s, dir), "doc_id")
        .select(col("url").as("uri"), col("text"), col("lang"))
      val path = java.nio.file.Files.createTempDirectory("graft_crawl_e2e").toString + "/shards"
      // numShards is a FIXTURE constant (4 shards at gate SFs); the
      // production default follows input partitioning — WetSpec pins it
      graft.sources.Wet.write(
        staged, "uri", "text", path, langCol = Some("lang"), gzip = true,
        numShards = Some(4))
      val canon = graft.sources.Wet.read(s, path)
        .withColumn("canonical_url", graft.operators.Urls.canonicalize(col("target_uri")))
      val kept = canon
        .groupBy("canonical_url")
        .agg(min_by(
          struct(col("content"), col("content_language")),
          concat(col("target_uri"), md5(col("content")),
            coalesce(col("content_language"), lit("")))).as("__r"))
        .select(
          col("canonical_url"),
          col("__r.content").as("text"),
          col("__r.content_language").as("lang"))
      graft.operators.Filtering.gopherFilter(
        kept, "text",
        graft.operators.Filtering.GopherThresholds(
          minTokens = 30L, maxTokens = 80L, minStopwordHits = 1L))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("chars"),
          min(md5(col("text"))).as("md5_lo"),
          max(md5(col("text"))).as("md5_hi"))
    },
    Some(s"""
      WITH c AS ($canonicalUrlSql),
      u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
               (CASE WHEN doc_id % 3 = 0 THEN 'Example.COM:80'
                     WHEN doc_id % 3 = 1 THEN 'Sub.Example.ORG:443'
                     ELSE 'example.net:8080' END) ||
               (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END) ||
               '?utm_source=x&zz=' || CAST(doc_id % 4 AS VARCHAR) ||
               '&a=' || CAST(doc_id % 3 AS VARCHAR) ||
               (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
        FROM documents),
      j AS (
        SELECT c.canonical_url, u.url, d.text, d.lang
        FROM documents d JOIN c USING (doc_id) JOIN u USING (doc_id)),
      k AS (
        SELECT canonical_url, MIN(url || md5(text) || COALESCE(lang, '')) AS kk
        FROM j GROUP BY canonical_url),
      kept AS (
        SELECT DISTINCT j.canonical_url, j.text, j.lang
        FROM j JOIN k ON k.canonical_url = j.canonical_url
          AND (j.url || md5(j.text) || COALESCE(j.lang, '')) = k.kk),
      toks AS (
        SELECT canonical_url, text, lang,
               list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS tk,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> length(x) > 0) AS tkl,
               list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lns
        FROM kept),
      sg AS (
        SELECT canonical_url, text, lang,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) END AS mean_token_len,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) END AS alpha_word_ratio,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                     + (length(text) - length(replace(text, '...', ''))) / 3) / len(tk) END AS symbol_ratio,
          CASE WHEN len(lns) = 0 THEN 0.0
               ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(lns) END AS bullet_line_ratio,
          CASE WHEN len(lns) = 0 THEN 0.0
               ELSE CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE) / len(lns) END AS ellipsis_line_ratio,
          CAST(len(list_distinct(list_filter(tkl, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this')))) AS BIGINT) AS stopword_hits
        FROM toks),
      pass AS (
        SELECT * FROM sg
        WHERE n_tokens >= 30 AND n_tokens <= 80
          AND mean_token_len >= 3.0 AND mean_token_len <= 10.0
          AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
          AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
          AND stopword_hits >= 1)
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS chars,
             MIN(md5(text)) AS md5_lo, MAX(md5(text)) AS md5_hi
      FROM pass GROUP BY lang"""),
    headline = true) // crawl-ingest workload class: gzip WET write+read,
                     // Content-Length parse, canonicalize, dedup, rule
                     // chain — IO+string-bound, nothing else on the sheet
                     // exercises the wire-format path per round

  /** Count-min join-cardinality estimate next to the exact answer
    * ([[graft.operators.JoinAdvisor.estimateEquiJoinRows]]): each side
    * compresses to a 3×65536 counter table in one scan, and the estimate
    * is the min-over-rows bucket-product inner product — the number a
    * planner consults BEFORE paying for the shuffle. The hash family is
    * the injectable linear-mod-P kind over a 48-bit md5 prefix (the
    * q26c/q136 bridge), so DuckDB rebuilds both sketch tables
    * bucket-for-bucket and the estimate is hash-match-gated, not just
    * law-gated; the exact count rides along in the same row, making the
    * CM overestimate guarantee (`est_rows ≥ exact_rows`) visible in the
    * artifact itself.
    */
  private val advisorParams = graft.operators.JoinAdvisor.CmParams(
    width = 65536,
    rows = Seq((1103515245L, 12345L), (214013L, 2531011L), (69069L, 1L)))

  private def advisorSketchCtes(keyExpr: String, table: String, alias: String): String = s"""
      ${alias}x AS (
        SELECT (CAST(concat('0x', substring(md5(CAST($keyExpr AS VARCHAR)), 1, 12)) AS BIGINT)
                % 2147483647) AS x
        FROM $table WHERE $keyExpr IS NOT NULL),
      ${alias}cm AS (
        SELECT hp.d, ((hp.a * ${alias}x.x + hp.b) % 2147483647) % 65536 AS w, COUNT(*) AS cnt
        FROM ${alias}x CROSS JOIN hp
        GROUP BY 1, 2)"""

  private val advisorHashCte =
    "hp(d, a, b) AS (VALUES (0, CAST(1103515245 AS BIGINT), CAST(12345 AS BIGINT)), " +
      "(1, CAST(214013 AS BIGINT), CAST(2531011 AS BIGINT)), " +
      "(2, CAST(69069 AS BIGINT), CAST(1 AS BIGINT)))"

  val q138JoinCardinality: Q = Q(
    "q138_join_cardinality",
    (s, dir) => {
      // loudBigint: gate faces never emit DECIMAL (catalog header rule);
      // the advisor's internal decimal(38,0) arithmetic is untouched
      val est = graft.operators.JoinAdvisor.estimateEquiJoinRows(
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey", advisorParams)
        .select(loudBigint(col("est_rows")).as("est_rows"))
      val exact = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("exact_rows"))
      est.crossJoin(exact)
    },
    Some(s"""
      WITH $advisorHashCte,
      ${advisorSketchCtes("o_orderkey", "orders", "l")},
      ${advisorSketchCtes("l_orderkey", "lineitem", "r")},
      ip AS (
        SELECT l.d, SUM(l.cnt * r.cnt) AS ip
        FROM lcm l JOIN rcm r ON l.d = r.d AND l.w = r.w
        GROUP BY 1),
      ipz AS (
        SELECT dd.d, COALESCE(ip.ip, 0) AS ip
        FROM range(0, 3) dd(d) LEFT JOIN ip ON ip.d = dd.d)
      SELECT CAST((SELECT MIN(ip) FROM ipz) AS BIGINT) AS est_rows,
             (SELECT COUNT(*) FROM orders o JOIN lineitem li
                ON o.o_orderkey = li.l_orderkey) AS exact_rows"""))

  /** The one-row join pre-flight report ([[graft.operators.JoinAdvisor
    * .advise]]): side row counts, exact key cardinalities, the CM
    * cardinality estimate, the single worst key's exact output product
    * (min-key tie-break so the row is bit-reproducible), and the
    * deterministic strategy call those numbers imply under the given
    * thresholds. DuckDB replays EVERY field — counts, distincts, the
    * sketch inner product, the hot-key argmax, and the CASE ladder —
    * so the recommendation itself is under the oracle, not just its
    * inputs. orders ⋈ customer on custkey: the dimension side fits the
    * broadcast threshold at the driver's SF, and the report says so.
    */
  val q139JoinAdvice: Q = Q(
    "q139_join_advice",
    // projection: loudBigint on the two internally-decimal fields (catalog
    // header rule — gate faces never emit DECIMAL), columns in the
    // oracle's order (left_rows/right_rows/left_keys/right_keys) so the
    // two faces carry zero gratuitous asymmetry
    (s, dir) => graft.operators.JoinAdvisor.advise(
      t(s, dir, "orders"), "o_custkey",
      t(s, dir, "customer"), "c_custkey",
      advisorParams,
      broadcastRowsMax = 20000L,
      saltProductMin = 1000000L)
      .select(
        col("left_rows"), col("right_rows"), col("left_keys"), col("right_keys"),
        loudBigint(col("est_join_rows")).as("est_join_rows"),
        loudBigint(col("max_key_product")).as("max_key_product"),
        col("hot_key"), col("recommended")),
    Some(s"""
      WITH $advisorHashCte,
      ${advisorSketchCtes("o_custkey", "orders", "l")},
      ${advisorSketchCtes("c_custkey", "customer", "r")},
      ip AS (
        SELECT l.d, SUM(l.cnt * r.cnt) AS ip
        FROM lcm l JOIN rcm r ON l.d = r.d AND l.w = r.w
        GROUP BY 1),
      ipz AS (
        SELECT dd.d, COALESCE(ip.ip, 0) AS ip
        FROM range(0, 3) dd(d) LEFT JOIN ip ON ip.d = dd.d),
      kp AS (
        SELECT lk.key, lk.cnt_l * rk.cnt_r AS product
        FROM (SELECT CAST(o_custkey AS VARCHAR) AS key, COUNT(*) AS cnt_l
              FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1) lk
        JOIN (SELECT CAST(c_custkey AS VARCHAR) AS key, COUNT(*) AS cnt_r
              FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1) rk
          ON lk.key = rk.key),
      hot AS (
        SELECT CAST(COALESCE((SELECT product FROM kp ORDER BY product DESC, key ASC LIMIT 1), 0)
                 AS BIGINT) AS max_key_product,
               (SELECT key FROM kp ORDER BY product DESC, key ASC LIMIT 1) AS hot_key),
      base AS (
        SELECT
          (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL) AS left_rows,
          (SELECT COUNT(*) FROM customer WHERE c_custkey IS NOT NULL) AS right_rows,
          (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS left_keys,
          (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS right_keys,
          CAST((SELECT MIN(ip) FROM ipz) AS BIGINT) AS est_join_rows,
          hot.max_key_product, hot.hot_key
        FROM hot)
      SELECT *,
        CASE WHEN left_rows <= 20000 AND left_rows <= right_rows THEN 'broadcast_left'
             WHEN right_rows <= 20000 THEN 'broadcast_right'
             WHEN max_key_product >= 1000000 THEN 'salt_hot_keys'
             ELSE 'shuffle_hash' END AS recommended
      FROM base"""))

  /** The advisor's verdict EXECUTED ([[graft.operators.JoinAdvisor
    * .executeAdvised]]): advise picks broadcast/salt/shuffle, the join
    * runs that way, and the result aggregates to a market-segment
    * profile the oracle replays with a plain SQL join — pinning that no
    * strategy branch (broadcast hint, salt-and-explode, plain shuffle)
    * changes WHAT the join computes, only how it moves. The strategy
    * chosen at the driver's SF is broadcast_right (customer fits the
    * threshold); JoinAdvisorSpec pins result-equality for the other
    * branches.
    */
  val q139bAdvisedJoinExec: Q = Q(
    "q139b_advised_join_exec",
    (s, dir) => {
      val joined = graft.operators.JoinAdvisor.executeAdvised(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_custkey",
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "c_custkey",
        advisorParams,
        broadcastRowsMax = 20000L,
        saltProductMin = 1000000L).df
      joined.groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price"))
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment"""))

  /** The `salt_hot_keys` branch made driver-gated (r13 "What's missing"
    * #3 — at the driver's SFs every natural pair recommends
    * broadcast_right, so the salt path had only spec witnesses): a
    * synthesized skewed pair — lineitem with every `l_orderkey % 4 = 0`
    * row collapsed onto hot key 0 (~25% of the fact side) against a
    * one-row-per-key dim built the same way — under thresholds both
    * sides exceed (`broadcastRowsMax = 5000` < 11k/112k dim rows at
    * sf0.01/0.1) with the hot key's product (≈15k/150k ≥ 10000) forcing
    * `salt_hot_keys` at BOTH SFs. The emitted `strategy` column pins
    * the branch selection in the oracle (a drift to broadcast/shuffle
    * hash-fails), and the aggregated join result pins that the
    * salt-and-explode execution computes exactly the plain SQL join.
    */
  val q139cSaltedJoinExec: Q = Q(
    "q139c_salted_join_exec",
    (s, dir) => {
      val left = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 4 === 0, lit(0L)).otherwise(col("l_orderkey")).as("lk"),
        col("l_extendedprice"))
      val right = t(s, dir, "orders").select(
        when(col("o_orderkey") % 4 === 0, lit(0L)).otherwise(col("o_orderkey")).as("rk"))
        .groupBy("rk").agg(count(lit(1)).as("key_rows"))
      val adv = graft.operators.JoinAdvisor.executeAdvised(
        left, "lk", right, "rk",
        advisorParams,
        broadcastRowsMax = 5000L,
        saltProductMin = 10000L)
      adv.df.groupBy((col("lk") % 10).as("key_bucket"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("key_rows")).as("sum_key_rows"),
          sumMoney(col("l_extendedprice")).as("total_price"))
        .withColumn("strategy", lit(adv.strategy))
    },
    Some("""
      WITH lft AS (
        SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0 ELSE l_orderkey END AS lk,
               l_extendedprice
        FROM lineitem),
      rgt AS (
        SELECT CASE WHEN o_orderkey % 4 = 0 THEN 0 ELSE o_orderkey END AS rk,
               COUNT(*) AS key_rows
        FROM orders GROUP BY 1)
      SELECT lk % 10 AS key_bucket, COUNT(*) AS n_rows,
             CAST(SUM(key_rows) AS BIGINT) AS sum_key_rows,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
             'salt_hot_keys' AS strategy
      FROM lft JOIN rgt ON lk = rk
      GROUP BY 1"""))

  /** Join-cardinality estimate from PERSISTED shard sketches
    * ([[graft.operators.JoinAdvisor.writeSketchShard]] /
    * [[graft.operators.JoinAdvisor.estimateFromStores]]): each side's
    * shards sketch once at ingest (orders split by status, lineitem by
    * line number), and the estimate reads ONLY the KB-scale counter
    * tables — neither corpus is rescanned. Counter addition is a
    * lossless semigroup merge, so the value equals the whole-table
    * estimate bit-for-bit: the oracle is exactly q138's sketch rebuild
    * (est only), computed from the RAW tables. Agreement pins the full
    * path: shard split → per-shard sketch → parquet round-trip →
    * merge → inner product.
    */
  val q140SketchStoreEstimate: Q = Q(
    "q140_sketch_store_estimate",
    (s, dir) => {
      import graft.operators.JoinAdvisor
      val base = java.nio.file.Files.createTempDirectory("graft_cmstore").toString
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      JoinAdvisor.writeSketchShard(
        orders.where(col("o_orderstatus") === "F"), "o_orderkey", advisorParams,
        s"$base/orders_sk", "f")
      JoinAdvisor.writeSketchShard(
        // null-safe complement: a NULL status row must land in SOME shard
        // or the store would silently under-count vs the whole table
        orders.where(!(col("o_orderstatus") <=> "F")), "o_orderkey", advisorParams,
        s"$base/orders_sk", "rest")
      JoinAdvisor.writeSketchShard(
        lineitem.where(col("l_linenumber") % 2 === 0), "l_orderkey", advisorParams,
        s"$base/lineitem_sk", "even")
      JoinAdvisor.writeSketchShard(
        lineitem.where(col("l_linenumber") % 2 === 1), "l_orderkey", advisorParams,
        s"$base/lineitem_sk", "odd")
      JoinAdvisor.estimateFromStores(s, s"$base/orders_sk", s"$base/lineitem_sk",
        advisorParams)
        // catalog header rule: gate faces never emit DECIMAL
        .select(loudBigint(col("est_rows")).as("est_rows"))
    },
    Some(s"""
      WITH $advisorHashCte,
      ${advisorSketchCtes("o_orderkey", "orders", "l")},
      ${advisorSketchCtes("l_orderkey", "lineitem", "r")},
      ip AS (
        SELECT l.d, SUM(l.cnt * r.cnt) AS ip
        FROM lcm l JOIN rcm r ON l.d = r.d AND l.w = r.w
        GROUP BY 1),
      ipz AS (
        SELECT dd.d, COALESCE(ip.ip, 0) AS ip
        FROM range(0, 3) dd(d) LEFT JOIN ip ON ip.d = dd.d)
      SELECT CAST((SELECT MIN(ip) FROM ipz) AS BIGINT) AS est_rows"""))

  /** Competence-based curriculum schedule ([[graft.operators.Packing
    * .curriculumSchedule]]), the WHOLE multi-epoch artifact under one
    * oracle: difficulty rank by (n_chars, doc_id) via the distributed
    * prefix sum, epoch-e eligibility `rank ≤ ceil(min(1, sqrt(c0² +
    * (1−c0²)·e/ramp))·N)` (IEEE sqrt/mul/ceil — correctly rounded in
    * both engines, so the cut agrees bit-for-bit), and each epoch's
    * eligible set re-permuted by the injective mod-p draw and cut into
    * 100-doc shards. DuckDB replays rank, competence cuts, all three
    * permutations, and the shard arithmetic; agreement pins that epoch
    * 0 trains on the easiest half, the ramp widens exactly as the
    * pacing function says, and the final epoch is the full corpus in
    * its own shuffle order.
    */
  val q141Curriculum: Q = Q(
    "q141_curriculum",
    (s, dir) => graft.operators.Packing.curriculumSchedule(
      t(s, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars",
      epochs = 3, startCompetence = 0.5, rampEpochs = 2, shardSize = 100L),
    Some("""
      WITH n AS (SELECT COUNT(*) AS n FROM documents),
      r AS (
        SELECT doc_id, n_chars,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS difficulty_rank
        FROM documents),
      e(epoch) AS (VALUES (0), (1), (2)),
      k AS (
        SELECT e.epoch,
               LEAST(n.n, CAST(CEIL(LEAST(1.0,
                 SQRT(0.25 + ((1.0 - 0.25) * e.epoch) / 2)) * n.n) AS BIGINT)) AS k
        FROM e, n),
      elig AS (
        SELECT k.epoch, r.doc_id, r.n_chars, r.difficulty_rank
        FROM r JOIN k ON r.difficulty_rank <= k.k),
      p AS (
        SELECT epoch, doc_id, n_chars, difficulty_rank,
               CAST(row_number() OVER (PARTITION BY epoch ORDER BY
                 (doc_id * ((654321979 + epoch * 2718281) % 1000000007)) % 1000000007)
                 AS BIGINT) AS pos
        FROM elig)
      SELECT doc_id, n_chars, difficulty_rank, pos, (pos - 1) // 100 AS shard, epoch
      FROM p"""))

  /** Fleiss' kappa over a synthesized 3-rater annotation panel
    * ([[graft.operators.Quality.fleissKappa]]): each document gets a
    * base label `doc_id % 4` and rater r dissents to a shifted label
    * whenever `(doc_id + r) % 5 = 0` — arithmetic both engines replay
    * exactly (the q99 synthetic-input move), yielding a panel with real
    * partial agreement. Every reported double derives from integer
    * aggregates through one fixed expression (P̄ and P̄ₑ have integer
    * numerators by algebra), so the oracle matches kappa BIT-for-bit,
    * not approximately.
    */
  val q142FleissKappa: Q = Q(
    "q142_fleiss_kappa",
    (s, dir) => {
      val ratings = t(s, dir, "documents").select("doc_id")
        .withColumn("rater", explode(array(lit(0L), lit(1L), lit(2L))))
        .withColumn("label",
          when((col("doc_id") + col("rater")) % 5 === 0,
            (col("doc_id") % 4 + 1 + col("rater")) % 4)
            .otherwise(col("doc_id") % 4))
      graft.operators.Quality.fleissKappa(ratings, "doc_id", "label")
    },
    Some("""
      WITH ratings AS (
        SELECT doc_id,
               CASE WHEN (doc_id + r.r) % 5 = 0
                    THEN (doc_id % 4 + 1 + r.r) % 4
                    ELSE doc_id % 4 END AS label
        FROM documents CROSS JOIN range(0, 3) r(r)),
      cnt AS (
        SELECT doc_id, label, COUNT(*) AS c FROM ratings GROUP BY 1, 2),
      per AS (
        SELECT doc_id, SUM(c) AS n, SUM(c * c) AS s2 FROM cnt GROUP BY 1),
      items AS (
        SELECT COUNT(*) AS n_items, CAST(MIN(n) AS BIGINT) AS n_raters,
               SUM(s2) AS s2 FROM per),
      labels AS (
        SELECT COUNT(*) AS n_categories, SUM(t * t) AS c2
        FROM (SELECT label, SUM(c) AS t FROM cnt GROUP BY 1) lt),
      k AS (
        SELECT n_items, n_raters, n_categories,
               (CAST(s2 AS DOUBLE) - CAST(n_items * n_raters AS DOUBLE)) /
                 (CAST(n_items * n_raters AS DOUBLE) * CAST(n_raters - 1 AS DOUBLE)) AS p_bar,
               CAST(c2 AS DOUBLE) /
                 (CAST(n_items * n_raters AS DOUBLE) * CAST(n_items * n_raters AS DOUBLE)) AS p_e
        FROM items, labels)
      SELECT n_items, n_raters, n_categories, p_bar, p_e,
             CASE WHEN 1.0 - p_e = 0.0 THEN 1.0
                  ELSE (p_bar - p_e) / (1.0 - p_e) END AS kappa
      FROM k"""))

  /** Robots-exclusion compliance ([[graft.operators.Urls.robotsFilter]])
    * over the synthetic messy-URL corpus: the REAL host/path parser and
    * the broadcast longest-prefix-match run in Spark, while the oracle
    * PREDICTS host and path arithmetically from doc_id and replays the
    * RFC 9309 precedence (length DESC, allow-beats-disallow on ties,
    * default allow) with a window — agreement pins parser, precedence
    * order, tie-break, and the opt-out default simultaneously. The rule
    * set plants every branch: a site-wide disallow with carve-outs,
    * a subtree disallow with a deeper allow, and an equal-length
    * allow/disallow tie.
    */
  val q143RobotsFilter: Q = Q(
    "q143_robots_filter",
    (s, dir) => {
      import s.implicits._
      val rules = Seq(
        ("example.com", "/", false),
        ("example.com", "/p/1", true),
        ("example.com", "/p/2", true),
        ("sub.example.org", "/p", false),
        ("sub.example.org", "/p/3", true),
        ("example.net", "/p/5", false),
        ("example.net", "/p/6", true),
        ("example.net", "/p/6", false))
        .toDF("host", "path_prefix", "allow")
      graft.operators.Urls.robotsFilter(syntheticUrls(s, dir), "url", rules)
        .select("doc_id", "allowed", "matched_prefix")
    },
    Some("""
      WITH hp AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'example.com'
                    WHEN doc_id % 3 = 1 THEN 'sub.example.org'
                    ELSE 'example.net' END AS h,
               CASE WHEN doc_id % 5 = 0 THEN '/'
                    ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END AS pth
        FROM documents),
      rules(rh, pref, allow) AS (VALUES
        ('example.com', '/', FALSE), ('example.com', '/p/1', TRUE),
        ('example.com', '/p/2', TRUE),
        ('sub.example.org', '/p', FALSE), ('sub.example.org', '/p/3', TRUE),
        ('example.net', '/p/5', FALSE), ('example.net', '/p/6', TRUE),
        ('example.net', '/p/6', FALSE)),
      m AS (
        SELECT hp.doc_id, r.pref, r.allow,
               row_number() OVER (PARTITION BY hp.doc_id
                 ORDER BY length(r.pref) DESC, r.allow DESC, r.pref) AS rn
        FROM hp JOIN rules r ON r.rh = hp.h AND starts_with(hp.pth, r.pref))
      SELECT hp.doc_id,
             COALESCE(m.allow, TRUE) AS allowed,
             m.pref AS matched_prefix
      FROM hp LEFT JOIN m ON m.doc_id = hp.doc_id AND m.rn = 1"""))

  /** FULL-WILDCARD robots matching ([[graft.operators.Urls
    * .robotsFilterWildcard]]): rules carry RFC 9309 `*` runs and `$`
    * end-anchors, translated once per rule to anchored regexes and
    * matched under most-octets precedence against the PATH+QUERY
    * target (RFC 9309 — the round-13 review catch: matching the bare
    * path would let anchored rules fire on URLs whose query the site
    * anchored against). The planted rule set forces every semantic: a
    * subtree wildcard block whose `$` carve-out must NOT fire (every
    * synthetic URL carries a query, so the anchor correctly fails and
    * the longer `/p/1*` disallow wins — the discriminating witness for
    * the query-included target; the equal-length allow/disallow tie
    * itself is pinned on query-free URLs in UrlsSpec), a plain prefix
    * rule through the regex path, and a bare `*` site-wide block
    * beaten by a longer allow. The oracle predicts
    * every verdict AND the winning rule string arithmetically from
    * doc_id — mirrors the semantics, not the regex engine.
    */
  val q143bRobotsWildcard: Q = Q(
    "q143b_robots_wildcard",
    (s, dir) => {
      import s.implicits._
      val rules = Seq(
        ("example.com", "/p/*", false),
        ("example.com", "/p/1$", true),
        ("example.com", "/p/1*", false),
        ("sub.example.org", "/p/3", false),
        ("example.net", "*", false),
        ("example.net", "/p/2*", true))
        .toDF("host", "rule_path", "allow")
      graft.operators.Urls.robotsFilterWildcard(syntheticUrls(s, dir), "url", rules)
        .select("doc_id", "allowed", "matched_rule")
    },
    Some("""
      SELECT doc_id,
        CASE
          WHEN doc_id % 3 = 0 THEN
            CASE WHEN doc_id % 5 = 0 THEN TRUE
                 ELSE FALSE END
          WHEN doc_id % 3 = 1 THEN
            CASE WHEN doc_id % 5 = 0 THEN TRUE
                 WHEN doc_id % 7 = 3 THEN FALSE ELSE TRUE END
          ELSE
            CASE WHEN doc_id % 5 = 0 THEN FALSE
                 WHEN doc_id % 7 = 2 THEN TRUE ELSE FALSE END
        END AS allowed,
        CASE
          WHEN doc_id % 3 = 0 THEN
            CASE WHEN doc_id % 5 = 0 THEN NULL
                 WHEN doc_id % 7 = 1 THEN '/p/1*'
                 ELSE '/p/*' END
          WHEN doc_id % 3 = 1 THEN
            CASE WHEN doc_id % 5 = 0 THEN NULL
                 WHEN doc_id % 7 = 3 THEN '/p/3' ELSE NULL END
          ELSE
            CASE WHEN doc_id % 5 = 0 THEN '*'
                 WHEN doc_id % 7 = 2 THEN '/p/2*' ELSE '*' END
        END AS matched_rule
      FROM documents"""))

  /** The CRAWL-FRONTIER pipeline under one oracle: per-host sitemap XML
    * assembled from the messy synthetic URLs (ampersands XML-escaped,
    * as the protocol requires — the parser must decode them back or
    * every query string corrupts), [[graft.operators.Urls.parseSitemap]]
    * discovery, RFC 9309 compliance filtering, and canonical-URL dedup
    * with a min-string keeper. Every stage is individually gated (q144
    * robots parse, q143 filter, q99 canonicalization, q99b dedup); this
    * face pins the COMPOSITION — DuckDB replays messy-URL arithmetic,
    * the planted robots verdicts, the canonical prediction, and the
    * keeper group-by from the raw documents table.
    */
  val q145CrawlFrontier: Q = Q(
    "q145_crawl_frontier",
    (s, dir) => {
      import s.implicits._
      val urls = syntheticUrls(s, dir)
      val withHost = urls.withColumn("host", graft.operators.Urls.host(col("url")))
      val sitemaps = withHost.groupBy("host")
        .agg(concat_ws("", sort_array(collect_list(concat(
          lit("<url><loc> "),
          regexp_replace(col("url"), "&", "&amp;"),
          lit(" </loc></url>"))))).as("body"))
      val discovered = graft.operators.Urls.parseSitemap(sitemaps, "host", "body")
      val rules = Seq(
        ("example.com", "/p/5", false),
        ("sub.example.org", "/", false),
        ("sub.example.org", "/p/3", true))
        .toDF("host", "path_prefix", "allow")
      val permitted = graft.operators.Urls.robotsFilter(
        discovered.select("url"), "url", rules)
        .filter(col("allowed"))
      graft.operators.Urls.dedupByCanonical(permitted, "url", "url")
    },
    Some(s"""
      WITH u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
               (CASE WHEN doc_id % 3 = 0 THEN 'Example.COM:80'
                     WHEN doc_id % 3 = 1 THEN 'Sub.Example.ORG:443'
                     ELSE 'example.net:8080' END) ||
               (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END) ||
               '?utm_source=x&zz=' || CAST(doc_id % 4 AS VARCHAR) ||
               '&a=' || CAST(doc_id % 3 AS VARCHAR) ||
               (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
        FROM documents),
      v AS (
        SELECT doc_id, url FROM u
        WHERE CASE
          WHEN doc_id % 3 = 0 THEN NOT (doc_id % 5 <> 0 AND doc_id % 7 = 5)
          WHEN doc_id % 3 = 1 THEN (doc_id % 5 <> 0 AND doc_id % 7 = 3)
          ELSE TRUE END),
      c AS ($canonicalUrlSql)
      SELECT c.canonical_url, MIN(v.url) AS keeper_id, COUNT(*) AS n_dups
      FROM v JOIN c USING (doc_id)
      GROUP BY c.canonical_url"""))

  /** From RAW HTML to authority scores under one oracle: each document
    * carries synthesized markup whose hrefs encode the q102 edge
    * arithmetic in three DIFFERENT reference styles (root-relative,
    * dotted relative that must survive RFC 3986 dot-segment removal,
    * and a fragment-only link that must vanish);
    * [[graft.operators.Urls.resolveLinks]] extracts and resolves them,
    * the ids parse back out of the resolved targets, and
    * [[graft.operators.Graphs.pageRankInt]] runs 3 fixed-point rounds.
    * The oracle is the SAME unrolled-round generator as q102 pointed at
    * 3 iterations — so a single byte lost in extraction or resolution
    * shifts an edge and the integer ranks diverge loudly.
    */
  val q146LinkGraphRank: Q = Q(
    "q146_link_graph_rank",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val htmlDocs = docs.select(
        col("doc_id"),
        concat(lit("http://g.io/d/"), col("doc_id").cast("string")).as("base"),
        concat(
          lit("<html><a href=\"/d/"),
          pmod(col("doc_id") * 7L + 1L, lit(n)).cast("string"),
          lit("\">a</a> <a href='../d/"),
          (col("doc_id") % 50L).cast("string"),
          lit("'>b</a> <a href=\"#self\">s</a></html>")).as("html"))
      val edges = graft.operators.Urls.resolveLinks(htmlDocs, "doc_id", "html", "base")
        .select(
          col("doc_id").as("src"),
          regexp_extract(col("link"), "/d/([0-9]+)$", 1).cast("long").as("dst"))
      graft.operators.Graphs.pageRankInt(edges, "src", "dst", docs, "doc_id", iters = 3)
    },
    Some(pagerankOracleSql(3)))

  /** Exact per-vertex triangle counts ([[graft.operators.Graphs
    * .triangleCounts]]) over a synthesized ring+hub graph (every
    * consecutive id triple closes a triangle; the mod-50 hub edges add
    * irregular closures on top — so counts VARY, making the oracle a
    * discriminating witness). DuckDB mirrors the whole algorithm —
    * canonical edge set, degrees, the (degree, id) orientation, the
    * wedge self-join, the closing-edge lookup, the three-corner
    * explode — in exact integers, so every per-vertex count matches
    * bit-for-bit.
    */
  val q147TriangleCounts: Q = Q(
    "q147_triangle_counts",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(
        col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") + 1L, lit(n)),
          pmod(col("doc_id") + 2L, lit(n)),
          col("doc_id") % 50L)).as("dst"))
      graft.operators.Graphs.triangleCounts(edges, "src", "dst")
    },
    Some("""
      WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS u, (doc_id + 1) % nn.n AS v FROM documents, nn
        UNION ALL SELECT doc_id, (doc_id + 2) % nn.n FROM documents, nn
        UNION ALL SELECT doc_id, doc_id % 50 FROM documents),
      e AS (
        SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
        FROM raw WHERE u <> v),
      d AS (
        SELECT id, COUNT(*) AS deg
        FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) t0
        GROUP BY 1),
      o AS (
        SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS x,
               CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS y
        FROM e JOIN d da ON da.id = e.a JOIN d db ON db.id = e.b),
      w AS (
        SELECT o1.x, o1.y AS y1, o2.y AS y2
        FROM o o1 JOIN o o2 ON o1.x = o2.x AND o1.y < o2.y),
      tri AS (
        SELECT w.x, w.y1, w.y2 FROM w JOIN e ON e.a = w.y1 AND e.b = w.y2)
      SELECT id, COUNT(*) AS triangles
      FROM (SELECT unnest([x, y1, y2]) AS id FROM tri) u0
      GROUP BY id"""))

  /** Cohen's kappa over a synthesized double-annotation pass
    * ([[graft.operators.Quality.cohenKappa]]): rater `a` labels
    * `doc_id % 4`, rater `b` dissents to the next category on every
    * third document — real disagreement with asymmetric marginals, so
    * chance correction does nontrivial work. Both p_o and p_e have
    * integer numerators; the oracle reproduces kappa bit-for-bit.
    */
  val q148CohenKappa: Q = Q(
    "q148_cohen_kappa",
    (s, dir) => {
      val ratings = t(s, dir, "documents").select("doc_id")
        .withColumn("rater", explode(array(lit("a"), lit("b"))))
        .withColumn("label",
          when(col("rater") === "a", col("doc_id") % 4)
            .otherwise(when(col("doc_id") % 3 === 0, (col("doc_id") % 4 + 1) % 4)
              .otherwise(col("doc_id") % 4)))
      graft.operators.Quality.cohenKappa(ratings, "doc_id", "rater", "label")
    },
    Some("""
      WITH r AS (
        SELECT doc_id,
               CAST(doc_id % 4 AS VARCHAR) AS l1,
               CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 4 + 1) % 4
                         ELSE doc_id % 4 END AS VARCHAR) AS l2
        FROM documents),
      agg AS (
        SELECT COUNT(*) AS n_items,
               SUM(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS agree FROM r),
      m1 AS (SELECT l1 AS lab, COUNT(*) AS m1 FROM r GROUP BY 1),
      m2 AS (SELECT l2 AS lab, COUNT(*) AS m2 FROM r GROUP BY 1),
      cats AS (
        SELECT COUNT(*) AS n_categories,
               SUM(COALESCE(m1, 0) * COALESCE(m2, 0)) AS pe_num
        FROM m1 FULL OUTER JOIN m2 USING (lab)),
      k AS (
        SELECT n_items, n_categories,
               CAST(agree AS DOUBLE) / CAST(n_items AS DOUBLE) AS p_o,
               CAST(pe_num AS DOUBLE) /
                 (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)) AS p_e
        FROM agg, cats)
      SELECT n_items, n_categories, p_o, p_e,
             CASE WHEN 1.0 - p_e = 0.0 THEN 1.0
                  ELSE (p_o - p_e) / (1.0 - p_e) END AS kappa
      FROM k"""))

  /** DuckDB replay of the k-core peel as a FIXED unroll: peeling is
    * idempotent past its fixpoint, so `rounds` only needs to be ≥ the
    * longest peel chain — the Spark face detects convergence and stops
    * early, the oracle runs the full unroll, and both land on the same
    * maximal subgraph.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val base = """
      WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS u, (doc_id + 1) % nn.n AS v FROM documents, nn
        UNION ALL SELECT doc_id, doc_id % 50 FROM documents
        UNION ALL SELECT doc_id, nn.n + doc_id FROM documents, nn WHERE doc_id % 5 = 0
        UNION ALL SELECT nn.n + doc_id, 2 * nn.n + doc_id FROM documents, nn WHERE doc_id % 5 = 0),
      e0 AS MATERIALIZED (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM raw WHERE u <> v)"""
    val roundCtes = (1 to rounds).map { i =>
      s""",
      d${i - 1} AS MATERIALIZED (
        SELECT id, COUNT(*) AS deg
        FROM (SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) t${i - 1}
        GROUP BY 1),
      k${i - 1} AS MATERIALIZED (SELECT id FROM d${i - 1} WHERE deg >= $k),
      e$i AS MATERIALIZED (
        SELECT e.a, e.b FROM e${i - 1} e
        JOIN k${i - 1} ka ON ka.id = e.a
        JOIN k${i - 1} kb ON kb.id = e.b)"""
    }.mkString
    s"""$base$roundCtes
      SELECT id, COUNT(*) AS core_degree
      FROM (SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds) tf
      GROUP BY 1"""
  }

  /** 2-core of a ring+hub graph wearing pendant 2-chains
    * ([[graft.operators.Graphs.kCore]]): chain tails peel in round 1,
    * chain middles in round 2 — a REAL multi-round peel, not a one-shot
    * filter — while the ring guarantees every base vertex survives and
    * the hub edges make core degrees vary. The Spark face stops at its
    * detected fixpoint; the oracle runs a 5-round fixed unroll of the
    * same peel, and idempotence makes the two meet exactly.
    */
  val q149KCore: Q = Q(
    "q149_k_core",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val ringHub = docs.select(
        col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") + 1L, lit(n)),
          col("doc_id") % 50L)).as("dst"))
      val anchors = docs.filter(col("doc_id") % 5 === 0)
      val chains = anchors
        .select(col("doc_id").as("src"), (col("doc_id") + lit(n)).as("dst"))
        .unionByName(anchors.select(
          (col("doc_id") + lit(n)).as("src"), (col("doc_id") + lit(2 * n)).as("dst")))
      graft.operators.Graphs.kCore(
        ringHub.unionByName(chains), "src", "dst", k = 2)
    },
    Some(kcoreOracleSql(k = 2, rounds = 5)))

  /** Politeness schedule over the DEDUPED frontier
    * ([[graft.operators.Urls.frontierSchedule]] downstream of
    * [[graft.operators.Urls.dedupByCanonical]] — the composition the
    * operator's uniqueness contract prescribes; scheduling the RAW
    * colliding corpus was tried first and the oracle caught the
    * engine-arbitrary tie slots): per-host FIFO queues by
    * (priority, canonical_url), worker routing through the shared md5
    * bridge, spaced ETAs. The oracle rebuilds the canonical identities,
    * the keeper group-by, the same md5 routing, and the queue window —
    * slots, workers, and ETAs all hash-match.
    */
  val q150FrontierSchedule: Q = Q(
    "q150_frontier_schedule",
    (s, dir) => {
      val frontier = graft.operators.Urls
        .dedupByCanonical(syntheticUrls(s, dir), "url", "doc_id")
        .withColumn("priority", col("keeper_id") % 9)
      graft.operators.Urls.frontierSchedule(
        frontier, "canonical_url", "priority", workers = 4, perHostDelaySec = 15L)
        .select("canonical_url", "keeper_id", "host", "worker", "slot", "eta_sec")
    },
    Some(s"""
      WITH c AS ($canonicalUrlSql),
      g AS (
        SELECT canonical_url, MIN(doc_id) AS keeper_id
        FROM c GROUP BY canonical_url),
      st AS (
        SELECT canonical_url, keeper_id,
               CASE WHEN keeper_id % 3 = 0 THEN 'example.com'
                    WHEN keeper_id % 3 = 1 THEN 'sub.example.org'
                    ELSE 'example.net' END AS host,
               keeper_id % 9 AS priority
        FROM g)
      SELECT canonical_url, keeper_id, host,
             CAST(CAST(concat('0x', substring(md5(host), 1, 12)) AS BIGINT) % 4 AS INT) AS worker,
             CAST(row_number() OVER (PARTITION BY host
               ORDER BY priority, canonical_url) AS BIGINT) AS slot,
             (CAST(row_number() OVER (PARTITION BY host
               ORDER BY priority, canonical_url) AS BIGINT) - 1) * 15 AS eta_sec
      FROM st"""))

  /** Sketch face of q108 ([[graft.operators.Decontaminate
    * .corpusOverlapSketch]]): per-source HLL gram sketches, pairwise
    * inclusion–exclusion intersection — ONE aggregation where the exact
    * face pays a distinct inventory exchange plus a gram self-join. No
    * SQL oracle (HLL internals); DecontaminateSpec gates it against the
    * exact q108 twin within the compounded-stderr band, the
    * q10b/q38b sketch-face discipline.
    */
  val q108bCorpusOverlapSketch: Q = Q(
    "q108b_corpus_overlap_sketch",
    (s, dir) =>
      graft.operators.Decontaminate.corpusOverlapSketch(
        t(s, dir, "documents"), "text", "source", n = 3),
    None)

  /** T5-style span corruption ([[graft.operators.TextAugment
    * .spanCorrupt]]) over the real document tokens: hash-fired span
    * starts, overlap-merged runs collapsing to one sentinel, targets
    * carrying the removed tokens per run. Every decision is the
    * injectable linear-mod-P hash of (doc_id, position, seed), so
    * DuckDB rebuilds tokenization, the windowed mask test, run
    * boundaries, both output sequences, and the corruption count —
    * the corrupted corpus is byte-identical across engines, which is
    * the property that keeps "same data" comparable between training
    * runs.
    */
  val q151SpanCorrupt: Q = Q(
    "q151_span_corrupt",
    (s, dir) => graft.operators.TextAugment.spanCorrupt(
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), graft.functions.text.tokens(col("text")).as("toks")),
      "doc_id", "toks", startPermille = 60, spanLen = 3, seed = 7L)
      .select(
        col("doc_id"),
        concat_ws(" ", col("input_tokens")).as("input_text"),
        concat_ws(" ", col("target_tokens")).as("target_text"),
        col("n_masked")),
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS tk
        FROM documents WHERE text IS NOT NULL),
      m AS (
        SELECT doc_id, tk,
               list_transform(range(0, len(tk)), i ->
                 len(list_filter(range(greatest(0, i - 2), i + 1), j ->
                   ((doc_id * 1103515245 + j * 12345 + 7) % 2147483647) % 1000 < 60)) > 0) AS msk,
               list_transform(range(0, len(tk)), i ->
                 i > 0 AND len(list_filter(range(greatest(0, i - 3), i), j ->
                   ((doc_id * 1103515245 + j * 12345 + 7) % 2147483647) % 1000 < 60)) > 0) AS prv
        FROM d)
      SELECT doc_id,
             COALESCE(array_to_string(flatten(list_transform(range(0, len(tk)), i ->
               CASE WHEN msk[i + 1] AND NOT prv[i + 1] THEN ['<mask>']
                    WHEN msk[i + 1] THEN []
                    ELSE [tk[i + 1]] END)), ' '), '') AS input_text,
             COALESCE(array_to_string(flatten(list_transform(range(0, len(tk)), i ->
               CASE WHEN msk[i + 1] AND NOT prv[i + 1] THEN ['<mask>', tk[i + 1]]
                    WHEN msk[i + 1] THEN [tk[i + 1]]
                    ELSE [] END)), ' '), '') AS target_text,
             CAST(len(list_filter(msk, x -> x)) AS BIGINT) AS n_masked
      FROM m"""))

  /** robots.txt PARSING ([[graft.operators.Urls.parseRobots]]) over
    * synthetic bodies assembled arithmetically per host: even hosts
    * carry a named `GraftBot` group (with a trailing-star rule that
    * must strip to a prefix and a mid-path wildcard that must be
    * excluded) ahead of a `*` fallback group; odd hosts carry only the
    * fallback. The oracle predicts the RESULTING rules table from the
    * same arithmetic — mirrors the rules, not the parser (the q99
    * move) — so agreement pins comment/blank handling, case-insensitive
    * keys, group segmentation, most-specific group selection (named
    * groups SUPPRESS the `*` group), trailing-star stripping, and
    * wildcard exclusion in one query.
    */
  val q144ParseRobots: Q = Q(
    "q144_parse_robots",
    (s, dir) => {
      val hosts = t(s, dir, "documents")
        .select((col("doc_id") % 10).as("hid")).distinct()
      val body = concat(
        lit("# synthetic robots\n\n"),
        when(col("hid") % 2 === 0, concat(
          lit("User-Agent: GraftBot\nDisallow: /x"),
          (col("hid") % 3).cast("string"), lit("\n"),
          when(col("hid") % 4 === 0, lit("Disallow: /t*\nDisallow: /w*ld\n"))
            .otherwise(lit("")),
          lit("Allow: /x"), (col("hid") % 3).cast("string"), lit("/ok\n\n")))
          .otherwise(lit("")),
        lit("User-agent: *\nAllow: /pub\nDisallow: /\n"))
      graft.operators.Urls.parseRobots(
        hosts.select(
          concat(lit("h"), col("hid").cast("string")).as("host"),
          body.as("body")),
        "host", "body", userAgent = "graftbot")
    },
    Some("""
      WITH h AS (SELECT DISTINCT doc_id % 10 AS hid FROM documents),
      ev AS (SELECT hid FROM h WHERE hid % 2 = 0),
      od AS (SELECT hid FROM h WHERE hid % 2 = 1)
      SELECT 'h' || CAST(hid AS VARCHAR) AS host,
             '/x' || CAST(hid % 3 AS VARCHAR) AS path_prefix, FALSE AS allow FROM ev
      UNION ALL
      SELECT 'h' || CAST(hid AS VARCHAR),
             '/x' || CAST(hid % 3 AS VARCHAR) || '/ok', TRUE FROM ev
      UNION ALL
      SELECT 'h' || CAST(hid AS VARCHAR), '/t', FALSE FROM ev WHERE hid % 4 = 0
      UNION ALL
      SELECT 'h' || CAST(hid AS VARCHAR), '/pub', TRUE FROM od
      UNION ALL
      SELECT 'h' || CAST(hid AS VARCHAR), '/', FALSE FROM od"""))

  // ===========================================================
  // Post-training (SFT / chat) data layer: parse → validate → stats →
  // render, over arithmetically synthesized JSON transcripts (the q99
  // move: the engine runs the REAL parser/aggregators, the oracle
  // mirrors the generation rules and replays the audit logic in SQL).
  // ===========================================================

  /** Synthesized chat corpus: one JSON transcript per document, with
    * seeded contract violations so every [[graft.operators
    * .Conversations.validate]] flag has real witnesses at any SF —
    * `%4`: leading system turn; `%11`: doubled user (alternation
    * break); `%13`: empty final assistant content; `%17`: truncated
    * JSON (parse failure); `%19`: trailing user turn (not
    * assistant-final). Content is arithmetic and JSON-safe, so the
    * oracle predicts turns without a JSON engine.
    */
  private def syntheticChats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
    val npairs = col("doc_id") % 3 + 1
    val hasSys = col("doc_id") % 4 === 0
    val dupUser = col("doc_id") % 11 === 0
    val emptyAsst = col("doc_id") % 13 === 0
    val broken = col("doc_id") % 17 === 0
    val trailUser = col("doc_id") % 19 === 0
    def msg(role: Column, content: Column): Column =
      concat(lit("{\"role\":\""), role, lit("\",\"content\":\""), content, lit("\"}"))
    def userMsg(i: Int): Column =
      when(npairs > i, msg(lit("user"),
        concat(lit("ask "), (col("doc_id") % 7).cast("string"), lit(s" q$i"))))
    def asstMsg(i: Int): Column = {
      val role =
        if (i == 0) when(dupUser, lit("user")).otherwise(lit("assistant"))
        else lit("assistant")
      val content = when(emptyAsst && npairs === i + 1, lit(""))
        .otherwise(concat(lit("ans "), (col("doc_id") % 5).cast("string"), lit(s" a$i")))
      when(npairs > i, msg(role, content))
    }
    // when() without otherwise → NULL for absent turns; concat_ws skips them
    val body = concat_ws(",",
      when(hasSys, msg(lit("system"), lit("be concise"))),
      userMsg(0), asstMsg(0), userMsg(1), asstMsg(1), userMsg(2), asstMsg(2),
      when(trailUser, msg(lit("user"), lit("more"))))
    d.select(
      col("doc_id"),
      concat(lit("["), body, when(broken, lit("")).otherwise(lit("]"))).as("conv_json"))
  }

  /** DuckDB prediction of [[syntheticChats]]' parsed turn table —
    * shared by all four chat oracles. Broken transcripts contribute
    * their NULL carrier row (the `posexplode_outer` convention).
    */
  private val chatTurnsCte: String = """
      chat_p AS (
        SELECT doc_id,
               1 + doc_id % 3 AS npairs,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS s,
               (doc_id % 11 = 0) AS dup_user,
               (doc_id % 13 = 0) AS empty_asst,
               (doc_id % 17 = 0) AS broken,
               CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END AS trail
        FROM documents),
      chat_idx AS (
        SELECT doc_id, npairs, s, dup_user, empty_asst,
               unnest(range(0, s + 2 * npairs + trail)) AS i
        FROM chat_p WHERE NOT broken),
      chat_turns AS (
        SELECT doc_id, CAST(i AS INTEGER) AS turn_idx,
               CASE
                 WHEN s = 1 AND i = 0 THEN 'system'
                 WHEN (i - s) % 2 = 0 AND (i - s) // 2 < npairs THEN 'user'
                 WHEN (i - s) % 2 = 1 AND (i - s) // 2 = 0 AND dup_user THEN 'user'
                 WHEN (i - s) % 2 = 1 THEN 'assistant'
                 ELSE 'user' END AS role,
               CASE
                 WHEN s = 1 AND i = 0 THEN 'be concise'
                 WHEN (i - s) = 2 * npairs THEN 'more'
                 WHEN (i - s) % 2 = 0 THEN
                   'ask ' || CAST(doc_id % 7 AS VARCHAR) || ' q' || CAST((i - s) // 2 AS VARCHAR)
                 WHEN (i - s) // 2 = npairs - 1 AND empty_asst THEN ''
                 ELSE
                   'ans ' || CAST(doc_id % 5 AS VARCHAR) || ' a' || CAST((i - s) // 2 AS VARCHAR)
               END AS content
        FROM chat_idx
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL FROM chat_p WHERE broken)"""

  /** REAL JSON chat parsing ([[graft.operators.Conversations
    * .parseTurns]]): `from_json` + `posexplode_outer` over the
    * synthesized transcripts, truncated JSON surfacing as the NULL
    * carrier row. Pure narrow stage — no shuffle at any corpus size.
    */
  val q152ChatTurns: Q = Q(
    "q152_chat_turns",
    (s, dir) => graft.operators.Conversations.parseTurns(
      syntheticChats(s, dir), "doc_id", "conv_json"),
    Some(s"""
      WITH $chatTurnsCte
      SELECT doc_id, turn_idx, role, content FROM chat_turns"""))

  /** Conversation-contract audit ([[graft.operators.Conversations
    * .validate]]): role alternation under both phases, non-empty
    * content, assistant-final, parse health — ONE map-side-combinable
    * aggregation, flags replayed in SQL over the predicted turn table.
    */
  val q153ChatValidate: Q = Q(
    "q153_chat_validate",
    (s, dir) => graft.operators.Conversations.validate(
      graft.operators.Conversations.parseTurns(
        syntheticChats(s, dir), "doc_id", "conv_json"),
      "doc_id"),
    headline = true, // post-training layer: JSON parse + one-agg audit timed per round
    oracle = Some(s"""
      WITH $chatTurnsCte,
      v AS (
        SELECT doc_id,
               COUNT(turn_idx) AS n_turns,
               COUNT(turn_idx) > 0 AS parse_ok,
               COALESCE(COUNT(turn_idx) > 0 AND
                 arg_min(role, turn_idx) IN ('system', 'user'), FALSE) AS starts_ok,
               COALESCE(COUNT(turn_idx) > 0 AND
                 CASE WHEN arg_min(role, turn_idx) = 'system'
                   THEN SUM(CASE WHEN turn_idx > 0 AND
                     ((turn_idx % 2 = 1 AND role IS DISTINCT FROM 'user') OR
                      (turn_idx % 2 = 0 AND role IS DISTINCT FROM 'assistant'))
                     THEN 1 ELSE 0 END) = 0
                   ELSE SUM(CASE WHEN
                     ((turn_idx % 2 = 0 AND role IS DISTINCT FROM 'user') OR
                      (turn_idx % 2 = 1 AND role IS DISTINCT FROM 'assistant'))
                     THEN 1 ELSE 0 END) = 0 END, FALSE) AS alternates,
               COUNT(turn_idx) > 0 AND
                 SUM(CASE WHEN turn_idx IS NOT NULL AND
                   (content IS NULL OR trim(content) = '') THEN 1 ELSE 0 END) = 0
                 AS no_empty,
               COALESCE(arg_max(role, turn_idx) = 'assistant', FALSE) AS ends_assistant
        FROM chat_turns GROUP BY doc_id)
      SELECT doc_id, n_turns, parse_ok, starts_ok, alternates, no_empty, ends_assistant,
             (n_turns >= 2 AND starts_ok AND alternates AND no_empty AND ends_assistant)
               AS valid
      FROM v"""))

  /** The STREAMING conversation-routing ingest's batch face
    * ([[graft.streaming.Streams.chatRoutedIngest]], VERDICT r14 item 5):
    * the synthetic transcript corpus arrives as TWO micro-batches
    * (split `doc_id % 2`), every row lands WITH its audit flags under
    * `valid/` or `quarantine/`, and the union of both routes must equal
    * the whole-corpus [[graft.operators.Conversations.validate]] — the
    * q153 oracle plus the route projection and the batch label (the
    * ingest is stateless, so the batch a row lands in is a pure function
    * of the split). Agreement pins the flag-carrying join-back, the
    * two-way routing, and the exactly-once landing.
    */
  val q153bChatRoutedIngest: Q = Q(
    "q153b_chat_routed_ingest",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_chatingest").toString
      val rows = syntheticChats(s, dir).select("doc_id", "conv_json")
        .as[(Long, String)].collect()
      val (b1, b2) = rows.partition { case (id, _) => id % 2 == 0 }
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.Streams.chatRoutedIngest(
        input.toDF().toDF("doc_id", "conv_json"), "doc_id", "conv_json",
        s"$root/landed")
      try {
        input.addData(b1.toSeq: _*); query.processAllAvailable()
        input.addData(b2.toSeq: _*); query.processAllAvailable()
      } finally query.stop()
      val valid = s.read.parquet(s"$root/landed/valid")
        .withColumn("route", lit("valid"))
      val quarantine = s.read.parquet(s"$root/landed/quarantine")
        .withColumn("route", lit("quarantine"))
      valid.unionByName(quarantine).select(
        col("doc_id"), col("n_turns"), col("parse_ok"), col("starts_ok"),
        col("alternates"), col("no_empty"), col("ends_assistant"), col("valid"),
        col("route"), col("batch").cast("string").as("batch"))
    },
    Some(s"""
      WITH $chatTurnsCte,
      v AS (
        SELECT doc_id,
               COUNT(turn_idx) AS n_turns,
               COUNT(turn_idx) > 0 AS parse_ok,
               COALESCE(COUNT(turn_idx) > 0 AND
                 arg_min(role, turn_idx) IN ('system', 'user'), FALSE) AS starts_ok,
               COALESCE(COUNT(turn_idx) > 0 AND
                 CASE WHEN arg_min(role, turn_idx) = 'system'
                   THEN SUM(CASE WHEN turn_idx > 0 AND
                     ((turn_idx % 2 = 1 AND role IS DISTINCT FROM 'user') OR
                      (turn_idx % 2 = 0 AND role IS DISTINCT FROM 'assistant'))
                     THEN 1 ELSE 0 END) = 0
                   ELSE SUM(CASE WHEN
                     ((turn_idx % 2 = 0 AND role IS DISTINCT FROM 'user') OR
                      (turn_idx % 2 = 1 AND role IS DISTINCT FROM 'assistant'))
                     THEN 1 ELSE 0 END) = 0 END, FALSE) AS alternates,
               COUNT(turn_idx) > 0 AND
                 SUM(CASE WHEN turn_idx IS NOT NULL AND
                   (content IS NULL OR trim(content) = '') THEN 1 ELSE 0 END) = 0
                 AS no_empty,
               COALESCE(arg_max(role, turn_idx) = 'assistant', FALSE) AS ends_assistant
        FROM chat_turns GROUP BY doc_id),
      f AS (
        SELECT doc_id, n_turns, parse_ok, starts_ok, alternates, no_empty, ends_assistant,
               (n_turns >= 2 AND starts_ok AND alternates AND no_empty AND ends_assistant)
                 AS valid
        FROM v)
      SELECT doc_id, n_turns, parse_ok, starts_ok, alternates, no_empty, ends_assistant, valid,
             CASE WHEN valid THEN 'valid' ELSE 'quarantine' END AS route,
             CASE WHEN doc_id % 2 = 0 THEN 's00000000' ELSE 's00000001' END AS batch
      FROM f"""))

  /** Per-conversation budget report ([[graft.operators.Conversations
    * .stats]]): turn counts and whitespace-token budgets by role —
    * the packing planner's input. Integer-only; token counts replay
    * as space arithmetic because the synthesized contents are
    * single-spaced.
    */
  val q154ChatStats: Q = Q(
    "q154_chat_stats",
    (s, dir) => graft.operators.Conversations.stats(
      graft.operators.Conversations.parseTurns(
        syntheticChats(s, dir), "doc_id", "conv_json"),
      "doc_id"),
    Some(s"""
      WITH $chatTurnsCte
      SELECT doc_id,
             COUNT(turn_idx) AS n_turns,
             COUNT(CASE WHEN role = 'user' THEN 1 END) AS n_user,
             COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS n_assistant,
             CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN
               (CASE WHEN content = '' THEN 0
                     ELSE length(content) - length(replace(content, ' ', '')) + 1 END)
               ELSE 0 END), 0) AS BIGINT) AS user_tokens,
             CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN
               (CASE WHEN content = '' THEN 0
                     ELSE length(content) - length(replace(content, ' ', '')) + 1 END)
               ELSE 0 END), 0) AS BIGINT) AS assistant_tokens,
             CAST(COALESCE(SUM(length(content)), 0) AS BIGINT) AS n_chars
      FROM chat_turns GROUP BY doc_id"""))

  /** Chat-template rendering ([[graft.operators.Conversations
    * .render]], ChatML-style with the generation prompt): exact
    * string agreement with DuckDB's ordered `string_agg`, pinning
    * turn order, the `\n` placement, and the trailing inference
    * prefix. Parse-failed transcripts are absent by contract.
    */
  val q155ChatRender: Q = Q(
    "q155_chat_render",
    (s, dir) => graft.operators.Conversations.render(
      graft.operators.Conversations.parseTurns(
        syntheticChats(s, dir), "doc_id", "conv_json"),
      "doc_id", addGenerationPrompt = true),
    Some(s"""
      WITH $chatTurnsCte
      SELECT doc_id,
             string_agg(
               '<|im_start|>' || role || chr(10) || COALESCE(content, '') ||
                 '<|im_end|>' || chr(10),
               '' ORDER BY turn_idx) || '<|im_start|>assistant' || chr(10) AS rendered
      FROM chat_turns WHERE turn_idx IS NOT NULL GROUP BY doc_id"""))

  /** Synthesized scored-response corpus for the preference layer:
    * ~25 responses per prompt, integer scores from a fixed affine
    * draw, `%23` rows NULL-scored to exercise the quarantine.
    */
  private def syntheticResponses(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      (col("doc_id") % 40).as("prompt_id"),
      col("doc_id").as("resp_id"),
      when(col("doc_id") % 23 === 0, lit(null).cast("int"))
        .otherwise(((col("doc_id") * 37) % 101).cast("int")).as("score"))

  private val respCte: String = """
      resp AS (
        SELECT doc_id % 40 AS prompt_id, doc_id AS resp_id,
               CASE WHEN doc_id % 23 = 0 THEN NULL
                    ELSE CAST((doc_id * 37) % 101 AS INTEGER) END AS score
        FROM documents),
      sresp AS (SELECT * FROM resp WHERE score IS NOT NULL),
      rk AS (
        SELECT prompt_id, resp_id, score,
               row_number() OVER (PARTITION BY prompt_id
                 ORDER BY score DESC, resp_id ASC) AS rc,
               row_number() OVER (PARTITION BY prompt_id
                 ORDER BY score ASC, resp_id ASC) AS rr
        FROM sresp)"""

  /** DPO pair construction ([[graft.operators.Preferences
    * .pairsByScore]]): best-vs-worst per prompt in ONE map-side-
    * combinable aggregation (`min_by`/`max_by` under an explicit total
    * order — no window), NULL scores quarantined, zero-margin prompts
    * dropped. The oracle replays the same total order with ranked
    * windows.
    */
  val q156PreferencePairs: Q = Q(
    "q156_preference_pairs",
    (s, dir) => graft.operators.Preferences.pairsByScore(
      syntheticResponses(s, dir), "prompt_id", "resp_id", "score"),
    Some(s"""
      WITH $respCte,
      n AS (SELECT prompt_id, COUNT(*) AS n_responses FROM resp GROUP BY prompt_id),
      ns AS (SELECT prompt_id, COUNT(*) AS n_scored FROM sresp GROUP BY prompt_id)
      SELECT c.prompt_id, c.resp_id AS chosen_id, j.resp_id AS rejected_id,
             c.score AS chosen_score, j.score AS rejected_score,
             c.score - j.score AS margin, n.n_responses
      FROM rk c
      JOIN rk j ON j.prompt_id = c.prompt_id AND j.rr = 1
      JOIN n ON n.prompt_id = c.prompt_id
      JOIN ns ON ns.prompt_id = c.prompt_id
      WHERE c.rc = 1 AND ns.n_scored >= 2 AND c.score > j.score"""))

  /** Bounded listwise → pairwise expansion ([[graft.operators
    * .Preferences.topBottomPairs]], p = 3): top-3 × bottom-3 response
    * pairs per prompt with positive margin — ≤ 9 pairs per prompt by
    * construction, one exchange serving both window sorts.
    */
  val q157PreferenceTopBottom: Q = Q(
    "q157_preference_topbottom",
    (s, dir) => graft.operators.Preferences.topBottomPairs(
      syntheticResponses(s, dir), "prompt_id", "resp_id", "score", p = 3),
    Some(s"""
      WITH $respCte
      SELECT t.prompt_id, t.resp_id AS chosen_id, b.resp_id AS rejected_id,
             t.score AS chosen_score, b.score AS rejected_score,
             t.score - b.score AS margin
      FROM rk t
      JOIN rk b ON b.prompt_id = t.prompt_id AND b.rr <= 3
      WHERE t.rc <= 3 AND t.score > b.score"""))

  /** Release-gate privacy audit ([[graft.operators.Privacy
    * .kAnonymityReport]]): k-anonymity and l-diversity per
    * (nation, market-segment) equivalence class with account-balance
    * bands as the sensitive attribute — two stacked hash aggregations,
    * no COUNT(DISTINCT) Expand. Exact SQL semantics, fully replayed.
    */
  val q158KAnonymity: Q = Q(
    "q158_k_anonymity",
    (s, dir) => graft.operators.Privacy.kAnonymityReport(
      t(s, dir, "customer").select(
        col("c_nationkey"), col("c_mktsegment"),
        // fixed-WIDTH key bucket: class sizes stay ~constant as the
        // table scales (classes multiply instead), so k=12/l=9 have
        // witnesses on BOTH sides of each flag at every SF
        (col("c_custkey") / 2000).cast("long").as("ckb"),
        floor(col("c_acctbal") / 500).cast("long").as("band")),
      Seq("c_nationkey", "c_mktsegment", "ckb"), "band", k = 12L, l = 9L),
    Some("""
      WITH l1 AS (
        SELECT c_nationkey, c_mktsegment, c_custkey // 2000 AS ckb,
               CAST(floor(c_acctbal / 500) AS BIGINT) AS band, COUNT(*) AS n
        FROM customer GROUP BY 1, 2, 3, 4),
      cls AS (
        SELECT c_nationkey, c_mktsegment, ckb,
               CAST(SUM(n) AS BIGINT) AS class_size, COUNT(*) AS n_sensitive
        FROM l1 GROUP BY 1, 2, 3)
      SELECT c_nationkey, c_mktsegment, ckb, class_size, n_sensitive,
             class_size >= 12 AS k_anonymous,
             n_sensitive >= 9 AS l_diverse,
             NOT (class_size >= 12 AND n_sensitive >= 9) AS at_risk
      FROM cls"""))

  /** Unrolled DuckDB twin of [[graft.operators.Graphs.hitsInt]]: each
    * round is two join+aggregate+max-normalize CTE pairs. Every CTE a
    * round references more than once is `AS MATERIALIZED` (the q149
    * lesson — default inlining goes exponential in the unroll depth).
    */
  private def hitsOracleSql(iters: Int, scale: Long): String = {
    val base = s"""
      WITH e AS MATERIALIZED (
        SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT COUNT(*) FROM documents) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id, doc_id % 50 FROM documents),
      ids AS MATERIALIZED (SELECT doc_id AS id FROM documents),
      h0 AS MATERIALIZED (SELECT id, CAST($scale AS BIGINT) AS s FROM ids)"""
    val rounds = (1 to iters).map { i =>
      s""",
      as$i AS (
        SELECT e.dst AS id, SUM(h.s) AS sm
        FROM e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
      ar$i AS MATERIALIZED (
        SELECT i.id, CAST(COALESCE(a.sm, 0) AS BIGINT) AS raw
        FROM ids i LEFT JOIN as$i a ON a.id = i.id),
      a$i AS MATERIALIZED (
        SELECT id, (raw * $scale) // GREATEST((SELECT MAX(raw) FROM ar$i), 1) AS s
        FROM ar$i),
      hs$i AS (
        SELECT e.src AS id, SUM(a.s) AS sm
        FROM e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
      hr$i AS MATERIALIZED (
        SELECT i.id, CAST(COALESCE(h.sm, 0) AS BIGINT) AS raw
        FROM ids i LEFT JOIN hs$i h ON h.id = i.id),
      h$i AS MATERIALIZED (
        SELECT id, (raw * $scale) // GREATEST((SELECT MAX(raw) FROM hr$i), 1) AS s
        FROM hr$i)"""
    }.mkString
    s"""$base$rounds
      SELECT h.id AS doc_id, h.s AS hub, a.s AS authority
      FROM h$iters h JOIN a$iters a ON a.id = h.id"""
  }

  /** Hubs-vs-authorities ([[graft.operators.Graphs.hitsInt]], 3
    * rounds): fixed-point integer HITS over the q102 link graph —
    * max-normalized integer half-rounds are aggregation-order-
    * independent, so an external engine replays the full run
    * bit-for-bit. The directory/content split [[q102PagerankAuthority]]
    * cannot express: the 50 hub targets take authority ≈ scale while
    * ordinary pages keep hub mass.
    */
  val q159HitsScores: Q = Q(
    "q159_hits_scores",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(
        col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") * 7L + 1L, lit(n)),
          col("doc_id") % 50L)).as("dst"))
      graft.operators.Graphs.hitsInt(edges, "src", "dst", docs, "doc_id", iters = 3)
    },
    Some(hitsOracleSql(3, 1000000L)))

  /** Accent stripping through the native codegen'd
    * [[graft.expressions.StripAccentsExpr]], oracle-gated against
    * DuckDB's `strip_accents` (utf8proc STRIPMARK — the same public
    * Unicode mark categories): composed Latin-1, DECOMPOSED combining
    * marks, stacked marks, a no-decomposition letter (`ø` must
    * survive), and pure ASCII, over byte-identical escaped inputs
    * (the q103 external-standard gate for the search-normalization
    * step).
    */
  val q160StripAccents: Q = Q(
    "q160_strip_accents",
    (s, dir) => {
      // escaped literals: café (composed), Zu+COMBINING DIAERESIS rich
      // (decomposed), stacked o+DIAERESIS+ACUTE, ñ/ç composed, ø (no
      // decomposition — must pass through), plain ASCII
      val raw = when(col("doc_id") % 6 === 0, lit("caf\u00e9 cr\u00e8me"))
        .when(col("doc_id") % 6 === 1, lit("Zu\u0308rich"))
        .when(col("doc_id") % 6 === 2, lit("o\u0308\u0301mega"))
        .when(col("doc_id") % 6 === 3, lit("ni\u00f1o fa\u00e7ade"))
        .when(col("doc_id") % 6 === 4, lit("\u00f8re s\u00df"))
        .otherwise(concat(lit("ascii "), col("doc_id").cast("string")))
      t(s, dir, "documents").select(
        col("doc_id"),
        text.stripAccents(raw).as("stripped"))
    },
    Some("""
      SELECT doc_id,
             strip_accents(CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'caf' || chr(233) || ' cr' || chr(232) || 'me'
               WHEN 1 THEN 'Zu' || chr(776) || 'rich'
               WHEN 2 THEN 'o' || chr(776) || chr(769) || 'mega'
               WHEN 3 THEN 'ni' || chr(241) || 'o fa' || chr(231) || 'ade'
               WHEN 4 THEN chr(248) || 're s' || chr(223)
               ELSE 'ascii ' || CAST(doc_id AS VARCHAR) END) AS stripped
      FROM documents"""))

  /** Synthesized pairwise-comparison corpus for Bradley–Terry: 20
    * items, opponents drawn by a fixed affine map, winner decided by
    * an integer hash test whose threshold tilts with (a − b) so
    * higher-numbered items are genuinely stronger — every outcome is
    * pure integer arithmetic DuckDB replays exactly.
    */
  private def syntheticGames(s: SparkSession, dir: String): DataFrame = {
    val ab = t(s, dir, "documents").select(
      col("doc_id"),
      (col("doc_id") % 20).as("a"),
      ((col("doc_id") * 13 + 7) % 20).as("b"))
      .where(col("a") =!= col("b"))
    val aWins = ((col("doc_id") * 41 + 13) % 100) <
      (lit(50) + (col("a") - col("b")) * 3)
    ab.select(
      when(aWins, col("a")).otherwise(col("b")).as("winner"),
      when(aWins, col("b")).otherwise(col("a")).as("loser"))
  }

  /** Unrolled DuckDB twin of [[graft.operators.Preferences
    * .bradleyTerryInt]]: the symmetric pair-count and win tables are
    * MATERIALIZED once, then each MM round is one join+aggregate CTE
    * pair plus a max-normalize (the q159 unroll discipline — integer
    * rounds are aggregation-order-independent, so bit-for-bit equality
    * holds on any engine).
    */
  private def bradleyTerryOracleSql(iters: Int, scale: Long): String = {
    val base = s"""
      WITH g AS MATERIALIZED (
        SELECT CASE WHEN (doc_id*41+13) % 100 < 50 + (a - b) * 3 THEN a ELSE b END AS w,
               CASE WHEN (doc_id*41+13) % 100 < 50 + (a - b) * 3 THEN b ELSE a END AS l
        FROM (SELECT doc_id, doc_id % 20 AS a, (doc_id*13+7) % 20 AS b FROM documents)
        WHERE a <> b),
      pairs AS MATERIALIZED (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT w AS a, l AS b FROM g UNION ALL SELECT l AS a, w AS b FROM g)
        GROUP BY 1, 2),
      wins AS MATERIALIZED (
        SELECT w AS id, CAST(COUNT(*) AS BIGINT) AS wn FROM g GROUP BY 1),
      ids AS MATERIALIZED (
        SELECT p.a AS id, COALESCE(w.wn, 0) AS wn
        FROM (SELECT DISTINCT a FROM pairs) p LEFT JOIN wins w ON w.id = p.a),
      v0 AS MATERIALIZED (SELECT id, CAST($scale AS BIGINT) AS s FROM ids)"""
    val rounds = (1 to iters).map { i =>
      s""",
      d$i AS (
        SELECT p.a AS id,
               CAST(SUM(CASE WHEN va.s + vb.s > 0
                   THEN (p.n * $scale * $scale) // (va.s + vb.s) ELSE 0 END) AS BIGINT) AS den
        FROM pairs p
        JOIN v${i - 1} va ON va.id = p.a
        JOIN v${i - 1} vb ON vb.id = p.b
        GROUP BY p.a),
      r$i AS MATERIALIZED (
        SELECT i.id,
               CASE WHEN i.wn = 0 OR COALESCE(d.den, 0) = 0 THEN 0
                    ELSE (i.wn * $scale * $scale) // d.den END AS raw
        FROM ids i LEFT JOIN d$i d ON d.id = i.id),
      v$i AS MATERIALIZED (
        SELECT id, (raw * $scale) // GREATEST((SELECT MAX(raw) FROM r$i), 1) AS s
        FROM r$i)"""
    }.mkString
    s"""$base$rounds
      SELECT i.id AS item_id, i.wn AS wins, t.games, v.s AS strength
      FROM ids i
      JOIN (SELECT a, CAST(SUM(n) AS BIGINT) AS games FROM pairs GROUP BY a) t ON t.a = i.id
      JOIN v$iters v ON v.id = i.id"""
  }

  /** Bradley–Terry strength fitting ([[graft.operators.Preferences
    * .bradleyTerryInt]], 4 MM rounds): pairwise "A beat B" outcomes →
    * one scaled-integer strength per item — the reward-model /
    * leaderboard scalar the DPO pair layer (q156/q157) feeds. Fixed-
    * point integer MM rounds replay bit-for-bit in the unrolled
    * oracle; the planted (a − b) win-rate tilt means strengths must
    * recover the item ordering, which the spec asserts independently.
    */
  val q161BradleyTerry: Q = Q(
    "q161_bradley_terry",
    (s, dir) => graft.operators.Preferences.bradleyTerryInt(
      syntheticGames(s, dir), "winner", "loser", iters = 4),
    Some(bradleyTerryOracleSql(iters = 4, scale = 1000000L)))

  /** GRPO group-relative advantage ([[graft.operators.Preferences
    * .groupRelativeAdvantage]]): per-prompt reward z-scores from
    * integer group moments — advantage = (n·r − S)/sqrt(n·Q − S²),
    * ONE fixed double expression over integer aggregates, so both
    * engines compute the identical IEEE value (the kappa/curriculum
    * cross-engine-doubles discipline). NULL rewards quarantine to
    * NULL advantage; zero-variance groups pin to 0.
    */
  val q162GrpoAdvantage: Q = Q(
    "q162_grpo_advantage",
    (s, dir) => graft.operators.Preferences.groupRelativeAdvantage(
      syntheticResponses(s, dir), "prompt_id", "resp_id", "score"),
    Some(s"""
      WITH $respCte,
      st AS (
        SELECT prompt_id, COUNT(score) AS n_scored,
               CAST(COALESCE(SUM(score), 0) AS BIGINT) AS s,
               CAST(COALESCE(SUM(CAST(score AS BIGINT) * score), 0) AS BIGINT) AS q
        FROM resp GROUP BY prompt_id)
      SELECT r.prompt_id, r.resp_id, r.score,
             CASE WHEN r.score IS NULL THEN NULL
                  WHEN st.n_scored * st.q - st.s * st.s = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(st.n_scored * r.score - st.s AS DOUBLE)
                       / sqrt(CAST(st.n_scored * st.q - st.s * st.s AS DOUBLE)) END AS advantage,
             st.n_scored
      FROM resp r JOIN st USING (prompt_id)"""))

  /** SFT loss-mask spans ([[graft.operators.Conversations
    * .lossMaskSpans]]): per-turn character offsets of each turn's
    * content inside the rendered template — integer prefix sums over
    * the template arithmetic, replayed by the oracle's window sum.
    * ConversationsSpec additionally pins the substring law against
    * [[graft.operators.Conversations.render]] itself.
    */
  val q163LossMaskSpans: Q = Q(
    "q163_loss_mask_spans",
    (s, dir) => graft.operators.Conversations.lossMaskSpans(
      graft.operators.Conversations.parseTurns(
        syntheticChats(s, dir), "doc_id", "conv_json"),
      "doc_id"),
    Some(s"""
      WITH $chatTurnsCte,
      sp AS (
        SELECT doc_id, turn_idx, role,
               CAST(COALESCE(SUM(24 + length(COALESCE(role, '')) + length(COALESCE(content, '')))
                 OVER (PARTITION BY doc_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
               CAST(length(COALESCE(role, '')) AS BIGINT) AS rl,
               CAST(length(COALESCE(content, '')) AS BIGINT) AS cl
        FROM chat_turns WHERE turn_idx IS NOT NULL)
      SELECT doc_id, turn_idx, role,
             prefix + 13 + rl AS start,
             prefix + 13 + rl + cl AS "end",
             COALESCE(role = 'assistant', FALSE) AS is_target
      FROM sp"""))

  /** Rejection-sampling SFT selection ([[graft.operators.Preferences
    * .rejectionSample]], minScore 60, top 4 per prompt): threshold +
    * bounded-heap top-k per prompt riding the native [[graft.plans
    * .TopK]] physical plan; the oracle replays the explicit
    * (score desc, id asc) total order with a ranked window.
    */
  val q164RejectionSample: Q = Q(
    "q164_rejection_sample",
    (s, dir) => graft.operators.Preferences.rejectionSample(
      syntheticResponses(s, dir), "prompt_id", "resp_id", "score",
      minScore = 60L, perPrompt = 4),
    Some(s"""
      WITH $respCte
      SELECT prompt_id, resp_id, score FROM (
        SELECT prompt_id, resp_id, score,
               row_number() OVER (PARTITION BY prompt_id
                 ORDER BY score DESC, resp_id ASC) AS rn
        FROM resp WHERE score >= 60)
      WHERE rn <= 4"""))

  /** One-pass Aho–Corasick multi-phrase tagging ([[graft.functions
    * .text.matchPhrases]]): which dictionary phrases appear in each
    * document — ONE automaton walk per document regardless of
    * dictionary size, where the oracle (and any contains-loop
    * implementation) pays O(bytes × phrases). The dictionary mixes
    * single words, multi-word phrases, a prefix-nested pair
    * ("table" / "table value" — the failure-link stress), a non-
    * word-aligned fragment, and a never-occurring phrase; DuckDB
    * replays the semantics with a per-phrase contains + filtered
    * list aggregation.
    */
  val q165MatchPhrases: Q = Q(
    "q165_match_phrases",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      // joined to one string for the value-hash gate (the q151 array
      // convention); the array face is spec-covered
      concat_ws("|", graft.functions.text.matchPhrases(col("text"), Seq(
        "fast table", "table", "table value", "merge batch part",
        "agg row scan", "ow fas", "spark", "zebra stripe"))).as("matched")),
    Some("""
      SELECT d.doc_id,
             COALESCE(array_to_string(
               list_sort(list(ph.p) FILTER (WHERE contains(d.text, ph.p))), '|'),
               '') AS matched
      FROM documents d
      CROSS JOIN (SELECT unnest(['fast table', 'table', 'table value',
                                 'merge batch part', 'agg row scan', 'ow fas',
                                 'spark', 'zebra stripe']) AS p) ph
      GROUP BY d.doc_id"""))

  /** The unrolled mod-10 arithmetic of [[graft.functions.text
    * .luhnValid]] as a DuckDB boolean expression over `v` — 19 guarded
    * CASE terms, TRY_CAST so an unselected branch can never error.
    */
  private def luhnSql(v: String): String = {
    val terms = (1 to 19).map { i =>
      val d = s"COALESCE(TRY_CAST(substr($v, length($v) - $i + 1, 1) AS INT), 0)"
      val contrib =
        if (i % 2 == 0) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
        else d
      s"(CASE WHEN length($v) >= $i THEN $contrib ELSE 0 END)"
    }.mkString(" + ")
    s"(regexp_matches($v, '^[0-9]{13,19}$$') AND ($terms) % 10 = 0)"
  }

  /** Luhn-validated payment-card detection ([[graft.functions.text
    * .detectPaymentCards]]): one candidate-pattern scan + per-candidate
    * mod-10 arithmetic over the candidate and its SEPARATOR-BOUNDARY
    * prefix windows, so unseparated digit runs (order IDs, timestamps)
    * never false-positive while a separator-attached card+CVV run still
    * surrenders its card. The synthesized corpus varies a 16-digit
    * candidate per row (~10% Luhn-valid — the decision boundary is
    * exercised in both directions at every SF), plants a separator-
    * formatted known-valid number on every 5th row, and a card-then-CVV
    * adjacency witness ('4111-1111-1111-1111-731', 19 digits failing
    * Luhn whole, valid at the 4-group/16-digit boundary prefix) on
    * every 7th; DuckDB replays extraction, the group-boundary windows
    * (longest valid via max_by over the group count), and the unrolled
    * checksum.
    */
  val q166CardDetect: Q = Q(
    "q166_card_detect",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("|", graft.functions.text.detectPaymentCards(
        concat(
          lit("contact x"), (col("doc_id") % 97).cast("string"),
          lit(" card 4"),
          lpad(((col("doc_id") * 7919) % 1000000000000000L).cast("string"), 15, "0"),
          when(col("doc_id") % 5 === 0, lit(" and 4111 1111 1111 1111 backup"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" ref 4111-1111-1111-1111-731 pay"))
            .otherwise(lit("")),
          lit(" end")))).as("cards")),
    Some(s"""
      WITH ct AS (
        SELECT doc_id,
               'contact x' || CAST(doc_id % 97 AS VARCHAR) || ' card 4' ||
               lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR), 15, '0') ||
               (CASE WHEN doc_id % 5 = 0 THEN ' and 4111 1111 1111 1111 backup' ELSE '' END) ||
               (CASE WHEN doc_id % 7 = 0 THEN ' ref 4111-1111-1111-1111-731 pay' ELSE '' END) ||
               ' end' AS text
        FROM documents),
      cand AS (
        SELECT doc_id, u.x
        FROM ct, unnest(regexp_extract_all(text, '[0-9](?:[ -]?[0-9]){12,18}')) AS u(x)),
      win AS (
        SELECT doc_id, x, g.g,
               array_to_string((string_split_regex(x, '[ -]'))[1:CAST(g.g AS INT)], '') AS pfx
        FROM cand, range(1, 20) g(g)
        WHERE len(string_split_regex(x, '[ -]')) >= g.g),
      best AS (
        SELECT doc_id, x, max_by(pfx, g) AS pfx
        FROM win WHERE ${luhnSql("pfx")} GROUP BY doc_id, x)
      SELECT ct.doc_id,
             COALESCE(array_to_string(
               list_sort(list_distinct(list(b.pfx) FILTER (WHERE b.pfx IS NOT NULL))), '|'),
               '') AS cards
      FROM ct LEFT JOIN best b ON ct.doc_id = b.doc_id
      GROUP BY ct.doc_id"""))

  /** Mojibake repair ([[graft.functions.text.fixMojibake]]): CP1252↔
    * UTF-8 double encoding undone by strict re-encode/re-decode. The
    * oracle pins fixed input→output witnesses (the q160 external-
    * standard gate style): single and NESTED double encoding repair,
    * and the four must-not-touch classes — ASCII, genuine
    * single-encoded text, CP1252 specials standing alone, and CJK
    * (which the strict 1252 encoder rejects).
    */
  val q167FixMojibake: Q = Q(
    "q167_fix_mojibake",
    (s, dir) => {
      // escaped literals: cafÃ© (café double-encoded), â€™ (’ double-
      // encoded), ÃƒÂ© (é double-encoded TWICE), café (genuine, keep),
      // €5 (lone CP1252 special, keep), 中文 (outside CP1252, keep)
      val raw = when(col("doc_id") % 6 === 0, lit("caf\u00c3\u00a9 cream"))
        .when(col("doc_id") % 6 === 1, lit("it\u00e2\u20ac\u2122s fine"))
        .when(col("doc_id") % 6 === 2, lit("caf\u00c3\u0192\u00c2\u00a9 twice"))
        .when(col("doc_id") % 6 === 3, lit("caf\u00e9 genuine"))
        .when(col("doc_id") % 6 === 4, lit("price \u20ac5 only"))
        .otherwise(concat(lit("ascii \u4e2d\u6587 "), col("doc_id").cast("string")))
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.text.fixMojibake(raw).as("fixed"))
    },
    Some("""
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'caf' || chr(233) || ' cream'
               WHEN 1 THEN 'it' || chr(8217) || 's fine'
               WHEN 2 THEN 'caf' || chr(233) || ' twice'
               WHEN 3 THEN 'caf' || chr(233) || ' genuine'
               WHEN 4 THEN 'price ' || chr(8364) || '5 only'
               ELSE 'ascii ' || chr(20013) || chr(25991) || ' ' || CAST(doc_id AS VARCHAR)
             END AS fixed
      FROM documents"""))

  /** End-to-end SFT pipeline gate ([[graft.operators.Conversations
    * .sftDataset]]): parse → contract-filter → render → loss-mask
    * accounting in ONE DAG under one oracle — q152/q153/q155/q163
    * gate the stages; this row gates their COMPOSITION (the q137
    * crawl-pipeline discipline), including the cross-binding law
    * total_chars = length(rendered) = Σ template span lengths.
    */
  val q168SftPipeline: Q = Q(
    "q168_sft_pipeline",
    (s, dir) => graft.operators.Conversations.sftDataset(
      syntheticChats(s, dir), "doc_id", "conv_json"),
    Some(s"""
      WITH $chatTurnsCte,
      v AS (
        SELECT doc_id,
               COUNT(turn_idx) AS n_turns,
               COALESCE(COUNT(turn_idx) > 0 AND
                 arg_min(role, turn_idx) IN ('system', 'user'), FALSE) AS starts_ok,
               COALESCE(COUNT(turn_idx) > 0 AND
                 CASE WHEN arg_min(role, turn_idx) = 'system'
                   THEN SUM(CASE WHEN turn_idx > 0 AND
                     ((turn_idx % 2 = 1 AND role IS DISTINCT FROM 'user') OR
                      (turn_idx % 2 = 0 AND role IS DISTINCT FROM 'assistant'))
                     THEN 1 ELSE 0 END) = 0
                   ELSE SUM(CASE WHEN
                     ((turn_idx % 2 = 0 AND role IS DISTINCT FROM 'user') OR
                      (turn_idx % 2 = 1 AND role IS DISTINCT FROM 'assistant'))
                     THEN 1 ELSE 0 END) = 0 END, FALSE) AS alternates,
               COUNT(turn_idx) > 0 AND
                 SUM(CASE WHEN turn_idx IS NOT NULL AND
                   (content IS NULL OR trim(content) = '') THEN 1 ELSE 0 END) = 0
                 AS no_empty,
               COALESCE(arg_max(role, turn_idx) = 'assistant', FALSE) AS ends_assistant
        FROM chat_turns GROUP BY doc_id),
      agg AS (
        SELECT doc_id,
               string_agg(
                 '<|im_start|>' || role || chr(10) || COALESCE(content, '') ||
                   '<|im_end|>' || chr(10),
                 '' ORDER BY turn_idx) AS rendered,
               CAST(SUM(24 + length(COALESCE(role, '')) + length(COALESCE(content, '')))
                 AS BIGINT) AS total_chars,
               CAST(COALESCE(SUM(CASE WHEN role = 'assistant'
                 THEN length(COALESCE(content, '')) END), 0) AS BIGINT) AS target_chars,
               COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS n_target_spans
        FROM chat_turns WHERE turn_idx IS NOT NULL GROUP BY doc_id)
      SELECT v.doc_id, a.rendered, a.total_chars, a.target_chars, a.n_target_spans
      FROM v JOIN agg a ON a.doc_id = v.doc_id
      WHERE v.n_turns >= 2 AND v.starts_ok AND v.alternates AND v.no_empty
        AND v.ends_assistant"""))

  /** Interval-overlap join ([[graft.operators.IntervalJoin.overlap]],
    * bucket width 32): binning decomposition — explode to touched
    * buckets, EQUI-join on bucket id, residual overlap predicate,
    * first-shared-bucket guard for exactly-once pair emission — where
    * the naive theta join is a cartesian product. The oracle IS that
    * naive theta join (DuckDB's IEJoin handles it at oracle scale);
    * IntervalJoinSpec asserts the Spark plan contains NO cartesian.
    */
  val q169IntervalOverlap: Q = Q(
    "q169_interval_overlap",
    (s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") % 23 === 0)
      val l = d.select(
        col("doc_id").as("l_id"),
        ((col("doc_id") * 7) % 997).as("l_s"))
        .withColumn("l_e", col("l_s") + 1 + (col("l_id") % 37))
      val r = d.select(
        col("doc_id").as("r_id"),
        ((col("doc_id") * 13 + 5) % 997).as("r_s"))
        .withColumn("r_e", col("r_s") + 1 + ((col("r_id") * 3) % 41))
      graft.operators.IntervalJoin.overlap(l, r, "l_s", "l_e", "r_s", "r_e", 32L)
        .select("l_id", "r_id", "l_s", "l_e", "r_s", "r_e")
    },
    Some("""
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 0),
      l AS (
        SELECT doc_id AS l_id, (doc_id * 7) % 997 AS l_s,
               (doc_id * 7) % 997 + 1 + doc_id % 37 AS l_e
        FROM d),
      r AS (
        SELECT doc_id AS r_id, (doc_id * 13 + 5) % 997 AS r_s,
               (doc_id * 13 + 5) % 997 + 1 + (doc_id * 3) % 41 AS r_e
        FROM d)
      SELECT l_id, r_id, l_s, l_e, r_s, r_e
      FROM l JOIN r ON l_s < r_e AND r_s < l_e"""))

  /** Context-window truncation ([[graft.operators.Conversations
    * .truncateToBudget]], budget 8 whitespace tokens): system turn
    * kept and charged, newest-suffix fit, forward-trim to the first
    * kept user turn, no-user conversations emit nothing. The budget
    * bites on most synthesized conversations (2–3 token contents,
    * up to 7 turns), so every rule has witnesses at every SF; the
    * oracle replays the suffix window sum and both trims with the
    * q154 space-arithmetic token convention.
    */
  val q170TruncateBudget: Q = Q(
    "q170_truncate_budget",
    (s, dir) => graft.operators.Conversations.truncateToBudget(
      graft.operators.Conversations.parseTurns(
        syntheticChats(s, dir), "doc_id", "conv_json"),
      "doc_id", maxTokens = 8L),
    Some(s"""
      WITH $chatTurnsCte,
      tt AS (
        SELECT doc_id, turn_idx, role, content,
               CAST(CASE WHEN content IS NULL OR content = '' THEN 0
                    ELSE length(content) - length(replace(content, ' ', '')) + 1
                    END AS BIGINT) AS tok
        FROM chat_turns WHERE turn_idx IS NOT NULL),
      sys AS (
        SELECT doc_id, COALESCE(SUM(tok), 0) AS stok
        FROM tt WHERE turn_idx = 0 AND role = 'system' GROUP BY doc_id),
      ns AS (
        SELECT t.*, SUM(tok) OVER (PARTITION BY doc_id ORDER BY turn_idx DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
        FROM tt t WHERE NOT (turn_idx = 0 AND COALESCE(role = 'system', FALSE))),
      kept AS (
        SELECT ns.doc_id, ns.turn_idx, ns.role, ns.content
        FROM ns LEFT JOIN sys USING (doc_id)
        WHERE ns.sfx <= 8 - COALESCE(sys.stok, 0)),
      fu AS (
        SELECT doc_id, MIN(turn_idx) AS first_user
        FROM kept WHERE role = 'user' GROUP BY doc_id)
      SELECT k.doc_id, k.turn_idx, k.role, k.content
      FROM kept k JOIN fu USING (doc_id) WHERE k.turn_idx >= fu.first_user
      UNION ALL
      SELECT t.doc_id, t.turn_idx, t.role, t.content
      FROM tt t JOIN fu USING (doc_id)
      WHERE t.turn_idx = 0 AND t.role = 'system'"""))

  /** [[graft.operators.Quantize.signBits]] as DuckDB SQL: 64 static
    * mask terms (bit 63 via the two's-complement subtraction idiom —
    * DuckDB range-checks `1 << 63`).
    */
  private def signBitsSql(vec: String, dim: Int): String =
    (0 until dim).map { i =>
      val mask = if (i == 63) "(-9223372036854775807 - 1)" else s"${1L << i}"
      s"(CASE WHEN $vec[${i + 1}] > 0 THEN CAST($mask AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  /** Needle insertion ([[graft.operators.TextAugment.insertNeedle]],
    * seed 7): the NIAH eval-prep primitive — hash-uniform plant
    * position recorded alongside the planted text, every decision a
    * pure (id, seed) function the oracle rebuilds exactly.
    */
  val q180InsertNeedle: Q = Q(
    "q180_insert_needle",
    (s, dir) => graft.operators.TextAugment.insertNeedle(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", needle = " THE-NEEDLE-7731 ", seed = 7L),
    Some("""
      WITH b AS (
        SELECT doc_id, text, length(text) AS len,
               ((doc_id * 1103515245 + 7) % 2147483647) % (length(text) + 1) AS pos
        FROM documents)
      SELECT doc_id, text,
             CASE WHEN text IS NOT NULL THEN CAST(pos AS BIGINT) END AS needle_pos,
             CASE WHEN text IS NULL THEN NULL
                  WHEN len = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(pos AS DOUBLE) / CAST(len AS DOUBLE) END AS depth_frac,
             CASE WHEN text IS NOT NULL THEN
               substr(text, 1, CAST(pos AS INT)) || ' THE-NEEDLE-7731 ' ||
               substr(text, CAST(pos AS INT) + 1, CAST(len - pos AS INT)) END
               AS text_with_needle
      FROM b"""))

  /** Per-group reward winsorization ([[graft.operators.Preferences
    * .clipRewards]], [p10, p90]): exact order-statistic cuts under
    * the explicit (reward, id) total order — the reward-hygiene step
    * before GRPO advantages; NULL rewards pass through NULL. The
    * oracle replays ranks, `max(1, ceil(p·n))` cut selection, and the
    * clamp over the q156 response corpus.
    */
  val q179ClipRewards: Q = Q(
    "q179_clip_rewards",
    (s, dir) => graft.operators.Preferences.clipRewards(
      syntheticResponses(s, dir), "prompt_id", "resp_id", "score",
      pLo = 0.1, pHi = 0.9),
    Some(s"""
      WITH $respCte,
      rk2 AS (
        SELECT prompt_id, resp_id, score,
               row_number() OVER (PARTITION BY prompt_id ORDER BY score, resp_id) AS rn
        FROM sresp),
      cnt AS (SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS n FROM sresp GROUP BY prompt_id),
      cuts AS (
        SELECT r.prompt_id,
               MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.1 * n) AS BIGINT))
                   THEN score END) AS lo,
               MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))
                   THEN score END) AS hi
        FROM rk2 r JOIN cnt USING (prompt_id) GROUP BY r.prompt_id)
      SELECT r.prompt_id, r.resp_id, r.score,
             CASE WHEN r.score IS NULL THEN NULL
                  ELSE LEAST(GREATEST(r.score, c.lo), c.hi) END AS clipped_reward,
             c.lo, c.hi
      FROM resp r JOIN cuts c USING (prompt_id)"""))

  /** Annotation-disagreement routing ([[graft.operators.Quality
    * .annotationDisagreement]]): per-item majority label, agreement
    * fraction, and the re-annotation flag — the routing face of the
    * corpus-level kappas (q142/q148). The synthesized panel tilts the
    * majority rate per item bucket (expected 30–70%), so both flag
    * polarities and majority ties have witnesses at every SF; the
    * oracle replays the explicit (count desc, label asc) majority
    * order with a ranked window.
    */
  val q178AnnotationDisagreement: Q = Q(
    "q178_annotation_disagreement",
    (s, dir) => graft.operators.Quality.annotationDisagreement(
      t(s, dir, "documents").select(
        (col("doc_id") % 50).as("item"),
        when((col("doc_id") * 37 + 11) % 10 < lit(3) + (col("doc_id") % 50) % 5, lit("maj"))
          .otherwise(concat(lit("min"), (((col("doc_id") * 37 + 11) % 10) % 3).cast("string")))
          .as("label")),
      "item", "label"),
    Some("""
      WITH r AS (
        SELECT doc_id % 50 AS item,
               CASE WHEN (doc_id * 37 + 11) % 10 < 3 + (doc_id % 50) % 5 THEN 'maj'
                    ELSE 'min' || CAST(((doc_id * 37 + 11) % 10) % 3 AS VARCHAR) END AS label
        FROM documents),
      c AS (SELECT item, label, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
      a AS (SELECT item, CAST(SUM(c) AS BIGINT) AS n_ratings,
                   COUNT(*) AS n_distinct_labels
            FROM c GROUP BY item),
      m AS (SELECT item, label AS majority_label, c AS majority_n,
                   row_number() OVER (PARTITION BY item ORDER BY c DESC, label ASC) AS rn
            FROM c)
      SELECT a.item, a.n_ratings, a.n_distinct_labels, m.majority_label, m.majority_n,
             CAST(m.majority_n AS DOUBLE) / CAST(a.n_ratings AS DOUBLE) AS majority_frac,
             (a.n_ratings < 2 OR
              CAST(m.majority_n AS DOUBLE) < 0.7 * CAST(a.n_ratings AS DOUBLE))
               AS needs_reannotation
      FROM a JOIN m ON m.item = a.item AND m.rn = 1"""))

  /** Packed loss-mask spans ([[graft.operators.Packing.packedSpans]],
    * shard = doc_id % 4, 96-char sequences): the chat layer's span
    * table remapped into concatSplit's packed coordinates — global
    * offsets, owning sequence indexes, and the crosses_boundary flag
    * (a span split across training sequences is the silent half-answer
    * failure packed SFT must handle explicitly). Budget 96 is below
    * most rendered transcripts, so boundary crossings have witnesses
    * at every SF; the oracle replays the span arithmetic, the layout
    * window, and the flags end to end.
    */
  val q177PackedSpans: Q = Q(
    "q177_packed_spans",
    (s, dir) => {
      val turns = graft.operators.Conversations.parseTurns(
        syntheticChats(s, dir), "doc_id", "conv_json")
      val spans = graft.operators.Conversations.lossMaskSpans(turns, "doc_id")
      // rendered length = last content end + the trailing <|im_end|>\n
      val lengths = spans.groupBy(col("doc_id"))
        .agg((max(col("end")) + 11L).as("total_chars"))
      graft.operators.Packing.packedSpans(
        spans, lengths, "doc_id", "total_chars",
        col("doc_id") % 4, budget = 96L)
    },
    Some(s"""
      WITH $chatTurnsCte,
      sp AS (
        SELECT doc_id, turn_idx, role,
               CAST(COALESCE(SUM(24 + length(COALESCE(role, '')) + length(COALESCE(content, '')))
                 OVER (PARTITION BY doc_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
               CAST(length(COALESCE(role, '')) AS BIGINT) AS rl,
               CAST(length(COALESCE(content, '')) AS BIGINT) AS cl
        FROM chat_turns WHERE turn_idx IS NOT NULL),
      spans AS (
        SELECT doc_id, turn_idx, role,
               prefix + 13 + rl AS start, prefix + 13 + rl + cl AS "end",
               COALESCE(role = 'assistant', FALSE) AS is_target
        FROM sp),
      lens AS (
        SELECT doc_id, MAX("end") + 11 AS total_chars FROM spans GROUP BY doc_id),
      man AS (
        SELECT doc_id, doc_id % 4 AS shard,
               CAST(COALESCE(SUM(total_chars) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        FROM lens)
      SELECT s.doc_id, s.turn_idx, s.role, s.start, s."end", s.is_target, m.shard,
             m.start_off + s.start AS g_start,
             m.start_off + s."end" AS g_end,
             (m.start_off + s.start) // 96 AS seq_first,
             GREATEST(m.start_off + s."end" - 1, m.start_off + s.start) // 96 AS seq_last,
             (m.start_off + s.start) // 96 <>
               GREATEST(m.start_off + s."end" - 1, m.start_off + s.start) // 96
               AS crosses_boundary
      FROM spans s JOIN man m USING (doc_id)"""))

  /** Two-stage binary retrieval ([[graft.operators.Similarity
    * .hammingRerankTopK]], prefilter 50 → exact top 10): Hamming
    * prefilter on 8-byte sign codes, exact integer-cosine re-rank of
    * the candidates only — the rescoring stack every compressed-index
    * server runs, and the one two-stage ANN face exact enough to gate
    * END TO END (membership, scores, order, tie-breaks) with no
    * recall floor.
    */
  val q176HammingRerank: Q = Q(
    "q176_hamming_rerank",
    (s, dir) => graft.operators.Similarity.hammingRerankTopK(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 7L, k = 10, prefilterK = 50),
    Some(s"""
      WITH codes AS (
        SELECT vec_id, ${signBitsSql("embedding", 64)} AS code FROM embeddings
        WHERE embedding IS NOT NULL),
      qc AS (SELECT code AS qcode FROM codes WHERE vec_id = 7),
      hd AS (SELECT vec_id, bit_count(xor(code, qcode)) AS hamming
             FROM codes, qc WHERE vec_id <> 7),
      pre AS (
        SELECT vec_id FROM (
          SELECT vec_id, row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM hd)
        WHERE rn <= 50),
      iv AS (
        SELECT e.vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings e
        WHERE e.vec_id IN (SELECT vec_id FROM pre) OR e.vec_id = 7),
      q AS (SELECT iv AS qv FROM iv WHERE vec_id = 7),
      d AS (
        SELECT i.vec_id,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS dot,
               CAST(list_dot_product(CAST(i.iv AS DOUBLE[]), CAST(i.iv AS DOUBLE[])) AS BIGINT) AS norm2,
               CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS BIGINT) AS qnorm2
        FROM iv i CROSS JOIN q
        WHERE i.vec_id <> 7)
      SELECT vec_id, dot, norm2
      FROM d
      ORDER BY CASE WHEN norm2 = 0 OR qnorm2 = 0 THEN 0.0
                    ELSE CAST(dot AS DOUBLE) /
                         (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(qnorm2 AS DOUBLE))) END DESC,
               vec_id
      LIMIT 10"""))

  /** Reasoning-trace split ([[graft.operators.Conversations
    * .splitReasoning]]): every shape planted per row — single block,
    * multiple blocks spanning a line, orphan open (truncated trace),
    * orphan close, no trace, and a non-assistant passthrough — with
    * DuckDB replaying the same non-greedy DOTALL regex (its
    * regexp_replace needs the explicit 'g' flag where Spark's is
    * global by default — pinned here).
    */
  val q174SplitReasoning: Q = Q(
    "q174_split_reasoning",
    (s, dir) => {
      val turns = t(s, dir, "documents").select(
        col("doc_id"),
        lit(1).as("turn_idx"),
        when(col("doc_id") % 7 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
        when(col("doc_id") % 5 === 0, concat(lit("<think>plan "),
          (col("doc_id") % 9).cast("string"), lit("</think>answer a")))
          .when(col("doc_id") % 5 === 1, concat(lit("pre <think>x</think>mid<think>y\n"),
            (col("doc_id") % 4).cast("string"), lit("</think> post")))
          .when(col("doc_id") % 5 === 2, lit("<think>truncated trace"))
          .when(col("doc_id") % 5 === 3, lit("no trace here"))
          .otherwise(lit("stray</think> close")).as("content"))
      graft.operators.Conversations.splitReasoning(turns)
    },
    Some("""
      WITH tt AS (
        SELECT doc_id, 1 AS turn_idx,
               CASE WHEN doc_id % 7 = 0 THEN 'user' ELSE 'assistant' END AS role,
               CASE CAST(doc_id % 5 AS INT)
                 WHEN 0 THEN '<think>plan ' || CAST(doc_id % 9 AS VARCHAR) || '</think>answer a'
                 WHEN 1 THEN 'pre <think>x</think>mid<think>y' || chr(10) ||
                             CAST(doc_id % 4 AS VARCHAR) || '</think> post'
                 WHEN 2 THEN '<think>truncated trace'
                 WHEN 3 THEN 'no trace here'
                 ELSE 'stray</think> close' END AS content
        FROM documents),
      sp AS (
        SELECT doc_id, turn_idx, role, content,
               regexp_replace(content, '(?s)<think>(.*?)</think>', '', 'g') AS vis,
               array_to_string(
                 regexp_extract_all(content, '(?s)<think>(.*?)</think>', 1), '') AS reas,
               regexp_matches(content, '(?s)<think>(.*?)</think>') AS hasb
        FROM tt)
      SELECT doc_id, turn_idx, role, content,
             CASE WHEN role = 'assistant' THEN vis ELSE content END AS visible,
             CASE WHEN role = 'assistant' THEN COALESCE(reas, '') ELSE '' END AS reasoning,
             CASE WHEN role = 'assistant' THEN hasb ELSE FALSE END AS has_reasoning,
             CASE WHEN role = 'assistant'
                  THEN NOT (contains(vis, '<think>') OR contains(vis, '</think>'))
                  ELSE TRUE END AS tags_clean
      FROM sp"""))

  /** FIM transformation ([[graft.operators.TextAugment.fimSplit]],
    * 60% apply rate, seed 42): apply coin and both character cut
    * points are pure (id, seed) functions through the linear-mod-P
    * bridge, so DuckDB rebuilds the exact same corpus — split points,
    * sentinel serialization, untouched share, and all.
    */
  val q175FimSplit: Q = Q(
    "q175_fim_split",
    (s, dir) => graft.operators.TextAugment.fimSplit(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", fimPermille = 600, seed = 42L),
    Some("""
      WITH b AS (
        SELECT doc_id, text, length(text) AS len,
               (doc_id * 1103515245 + 42) % 2147483647 AS h0,
               (doc_id * 1103515245 + 12345 + 42) % 2147483647 AS h1,
               (doc_id * 1103515245 + 24690 + 42) % 2147483647 AS h2
        FROM documents),
      c AS (
        SELECT doc_id, text, len,
               (text IS NOT NULL AND h0 % 1000 < 600) AS applied,
               LEAST(h1 % (len + 1), h2 % (len + 1)) AS lo,
               GREATEST(h1 % (len + 1), h2 % (len + 1)) AS hi
        FROM b)
      SELECT doc_id, text,
             applied AS fim_applied,
             CASE WHEN applied THEN substr(text, 1, CAST(lo AS INT)) END AS fim_prefix,
             CASE WHEN applied
                  THEN substr(text, CAST(lo AS INT) + 1, CAST(hi - lo AS INT)) END AS fim_middle,
             CASE WHEN applied
                  THEN substr(text, CAST(hi AS INT) + 1, CAST(len - hi AS INT)) END AS fim_suffix,
             CASE WHEN applied
                  THEN '<fim_prefix>' || substr(text, 1, CAST(lo AS INT)) ||
                       '<fim_suffix>' || substr(text, CAST(hi AS INT) + 1, CAST(len - hi AS INT)) ||
                       '<fim_middle>' || substr(text, CAST(lo AS INT) + 1, CAST(hi - lo AS INT))
                  ELSE text END AS fim_text
      FROM c"""))

  /** DPO length-bias audit ([[graft.operators.Preferences
    * .lengthBiasReport]]): margin↔length Pearson correlation plus
    * chosen-longer rates over the q156 pairs, with response texts
    * whose token counts are an id-keyed hash independent of the
    * score — so both chosen-longer polarities and a non-degenerate
    * correlation have witnesses, and the oracle recomputes
    * every double from the same five integer sums (variance terms
    * multiplied as √·√ in double on BOTH engines).
    */
  val q173LengthBias: Q = Q(
    "q173_length_bias",
    (s, dir) => {
      val texts = t(s, dir, "documents").select(
        col("doc_id").as("resp_id"),
        array_join(array_repeat(lit("w"),
          (lit(1) + (col("doc_id") * 11 + 3) % 13).cast("int")), " ").as("text"))
      graft.operators.Preferences.lengthBiasReport(
        graft.operators.Preferences.pairsByScore(
          syntheticResponses(s, dir), "prompt_id", "resp_id", "score"),
        texts, "resp_id", "text")
    },
    Some(s"""
      WITH $respCte,
      nsc AS (SELECT prompt_id, COUNT(*) AS n_scored FROM sresp GROUP BY prompt_id),
      p AS (
        SELECT c.resp_id AS cid, j.resp_id AS rid,
               CAST(c.score - j.score AS BIGINT) AS y
        FROM rk c
        JOIN rk j ON j.prompt_id = c.prompt_id AND j.rr = 1
        JOIN nsc ON nsc.prompt_id = c.prompt_id
        WHERE c.rc = 1 AND nsc.n_scored >= 2 AND c.score > j.score),
      d AS (
        SELECT (1 + (cid * 11 + 3) % 13) - (1 + (rid * 11 + 3) % 13) AS x, y
        FROM p),
      a AS (
        SELECT COUNT(*) AS n,
               CAST(COALESCE(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cl,
               CAST(COALESCE(SUM(x), 0) AS BIGINT) AS sx,
               CAST(COALESCE(SUM(y), 0) AS BIGINT) AS sy,
               CAST(COALESCE(SUM(x * y), 0) AS BIGINT) AS sxy,
               CAST(COALESCE(SUM(x * x), 0) AS BIGINT) AS sxx,
               CAST(COALESCE(SUM(y * y), 0) AS BIGINT) AS syy
        FROM d)
      SELECT n AS n_pairs, cl AS chosen_longer,
             CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(cl AS DOUBLE) / CAST(n AS DOUBLE) END AS chosen_longer_frac,
             CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_len_delta,
             CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
                  THEN CAST(0 AS DOUBLE)
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
                       (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                        sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS margin_len_corr
      FROM a"""))

  /** Binary ANN ([[graft.operators.Similarity.hammingTopK]]): sign-bit
    * codes + XOR-popcount distance — the 1-bit face that reads 8 bytes
    * per vector instead of 256 and, being all-integer, is EXACTLY
    * oracle-gated end to end (code packing, distance, ranking, tie
    * break) — no recall floor needed, unlike the float faces.
    */
  val q171HammingTopK: Q = Q(
    "q171_hamming_topk",
    (s, dir) => graft.operators.Similarity.hammingTopK(
      t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 7L, k = 10),
    Some(s"""
      WITH codes AS (
        SELECT vec_id, ${signBitsSql("embedding", 64)} AS code FROM embeddings
        WHERE embedding IS NOT NULL),
      q AS (SELECT code AS qcode FROM codes WHERE vec_id = 7),
      d AS (SELECT vec_id, CAST(bit_count(xor(code, qcode)) AS INT) AS hamming
            FROM codes, q WHERE vec_id <> 7),
      r AS (SELECT vec_id, hamming,
                   row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM d)
      SELECT vec_id, hamming FROM r WHERE rn <= 10"""))

  /** Synthesized TOOL-CALLING transcripts: user → assistant-slot →
    * 1–2 tool results → assistant, optional system head, with seeded
    * violations for every flag — tool directly after user (%23), an
    * illegal `function` role (%29), an empty tool result (%31), and
    * a trailing tool turn (%19).
    */
  private def syntheticToolChats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
    val hasSys = col("doc_id") % 4 === 0
    val twoTools = col("doc_id") % 2 === 0
    val vUserTool = col("doc_id") % 23 === 0
    val vRole = col("doc_id") % 29 === 0
    val vEmpty = col("doc_id") % 31 === 0
    val trailTool = col("doc_id") % 19 === 0
    def msg(role: Column, content: Column): Column =
      concat(lit("{\"role\":\""), role, lit("\",\"content\":\""), content, lit("\"}"))
    val body = concat_ws(",",
      when(hasSys, msg(lit("system"), lit("be concise"))),
      msg(lit("user"), concat(lit("ask "), (col("doc_id") % 7).cast("string"))),
      msg(when(vUserTool, lit("tool")).otherwise(lit("assistant")),
        concat(lit("call "), (col("doc_id") % 5).cast("string"))),
      msg(when(vRole, lit("function")).otherwise(lit("tool")),
        when(vEmpty, lit("")).otherwise(lit("result a"))),
      when(twoTools, msg(lit("tool"), lit("result b"))),
      msg(lit("assistant"), concat(lit("final "), (col("doc_id") % 5).cast("string"))),
      when(trailTool, msg(lit("tool"), lit("late result"))))
    d.select(col("doc_id"), concat(lit("["), body, lit("]")).as("conv_json"))
  }

  /** Tool-calling contract audit ([[graft.operators.Conversations
    * .validateWithTools]]): the agentic-data face — legal-role,
    * legal-TRANSITION (system→user, user→assistant, assistant→
    * {tool,user}, tool→{tool,assistant}), non-blank, assistant-final
    * flags per transcript. Adjacency needs a lag window (documented:
    * one exchange more than the parity-aggregation q153 face); the
    * oracle replays the same lag + flag matrix over the rebuilt
    * turn table, every violation class planted at every SF.
    */
  val q172ToolValidate: Q = Q(
    "q172_tool_validate",
    (s, dir) => graft.operators.Conversations.validateWithTools(
      graft.operators.Conversations.parseTurns(
        syntheticToolChats(s, dir), "doc_id", "conv_json"),
      "doc_id"),
    Some("""
      WITH tc_p AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS s,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS t2,
               CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END AS trail,
               (doc_id % 23 = 0) AS v_ut,
               (doc_id % 29 = 0) AS v_role,
               (doc_id % 31 = 0) AS v_empty
        FROM documents),
      tc_i AS (
        SELECT doc_id, s, t2, v_ut, v_role, v_empty,
               unnest(range(0, s + 4 + t2 + trail)) AS i
        FROM tc_p),
      tool_turns AS (
        SELECT doc_id, CAST(i AS INTEGER) AS turn_idx,
               CASE WHEN s = 1 AND i = 0 THEN 'system'
                    WHEN i - s = 0 THEN 'user'
                    WHEN i - s = 1 THEN CASE WHEN v_ut THEN 'tool' ELSE 'assistant' END
                    WHEN i - s = 2 THEN CASE WHEN v_role THEN 'function' ELSE 'tool' END
                    WHEN i - s = 3 AND t2 = 1 THEN 'tool'
                    WHEN i - s = 3 + t2 THEN 'assistant'
                    ELSE 'tool' END AS role,
               CASE WHEN s = 1 AND i = 0 THEN 'be concise'
                    WHEN i - s = 0 THEN 'ask ' || CAST(doc_id % 7 AS VARCHAR)
                    WHEN i - s = 1 THEN 'call ' || CAST(doc_id % 5 AS VARCHAR)
                    WHEN i - s = 2 THEN CASE WHEN v_empty THEN '' ELSE 'result a' END
                    WHEN i - s = 3 AND t2 = 1 THEN 'result b'
                    WHEN i - s = 3 + t2 THEN 'final ' || CAST(doc_id % 5 AS VARCHAR)
                    ELSE 'late result' END AS content
        FROM tc_i),
      lagd AS (
        SELECT doc_id, turn_idx, role, content,
               lag(role) OVER (PARTITION BY doc_id ORDER BY turn_idx) AS prev
        FROM tool_turns),
      f AS (
        SELECT doc_id, COUNT(*) AS n_turns,
               arg_min(role, turn_idx) AS frst, arg_max(role, turn_idx) AS lst,
               SUM(CASE WHEN role IS NULL
                     OR role NOT IN ('system', 'user', 'assistant', 'tool')
                     OR (role = 'system' AND turn_idx <> 0) THEN 1 ELSE 0 END) AS illegal,
               SUM(CASE WHEN prev IS NOT NULL AND NOT (
                     (prev = 'system' AND role = 'user') OR
                     (prev = 'user' AND role = 'assistant') OR
                     (prev = 'assistant' AND role IN ('tool', 'user')) OR
                     (prev = 'tool' AND role IN ('tool', 'assistant')))
                     THEN 1 ELSE 0 END) AS badtrans,
               SUM(CASE WHEN content IS NULL OR trim(content) = '' THEN 1 ELSE 0 END) AS nempty
        FROM lagd GROUP BY doc_id)
      SELECT doc_id, n_turns, TRUE AS parse_ok,
             frst IN ('system', 'user') AS starts_ok,
             illegal = 0 AS role_legal,
             badtrans = 0 AS transitions_ok,
             nempty = 0 AS no_empty,
             lst = 'assistant' AS ends_assistant,
             (n_turns >= 2 AND frst IN ('system', 'user') AND illegal = 0 AND
              badtrans = 0 AND nempty = 0 AND lst = 'assistant') AS valid
      FROM f"""))

  // ===========================================================

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02FilterPushdown, q03BroadcastJoinAgg, q04FullouterTimeline,
    q05Scd2Dim, q06SnapshotFact, q07DimDate, q08CdcMerge, q09DupKeyDetector,
    q10QualityProfile, q10bColumnProfile, q10cColumnProfileExact, q11TopK,
    q12MultiformatDates,
    q13SemiJoin, q13bSaltedJoin, q13cBloomJoin, q14AntiJoin,
    q15WindowRank, q15bTopkNative, q16Except, q16bExceptAll,
    q17Intersect, q17bIntersectAll, q18Sessionize,
    q19Rollup, q19Cube, q19WindowFrames, q19Pivot, q19Ntile,
    q20TokenStats, q21QualityScore, q22LangId, q23Fingerprint, q24ExactDedup,
    q25MinhashDedup, q25bDupClusters, q25cJaccardPairsExact, q25dClustersExact,
    q25eDupClusterIngest,
    q26SimhashPairs, q26cSimhashPairsExact, q27RollingFingerprint, q27cRollingFingerprintLinear,
    q28TermFreq, q29TokenJaccard,
    q30CosineTopK, q30cCosineTopkExact, q31AnnLsh, q31cAnnLshExact, q32EmbeddingNearDup,
    q32cEmbeddingNearDupExact, q33AnnIvf, q33cAnnIvfExact,
    q34Repetition, q35PiiRedact,
    q36JsonExtract, q37SessionWindow, q38Quantiles, q38bApproxAgg, q38cExactAgg,
    q39AsofJoin,
    q40BinaryMeta, q41MediaDecode, q42FrameSample, q43TokenShards, q44IntervalJoin,
    q45OrcRoundtrip, q46AvroRoundtrip, q47HeavyHitters, q48HashSplit, q48cHashSplitSystematic,
    q49ApproxHeavyHitters, q50ProfileSketch, q50cProfileExact,
    q51TfidfTopTerms, q51cTfidfRatioExact, q52Bm25, q52cBm25Exact,
    q53IndexDedup, q53cCrossJaccardExact, q53dNearDupIngest, q53eDedupIndexOccupancy,
    q53fDedupMaintenance,
    q54Decontaminate, q55ChunkDocs,
    q56SnapshotDiff, q57EntityMatch, q58Outliers, q59IncrementalAgg,
    q60StratifiedSample, q60cStratifiedSampleSystematic, q61Expectations,
    q62RobustOutliers, q62cRobustOutliersExact, q63Funnel,
    q63bFunnelWindowed, q64CohortRetention, q64bCohortRates, q64cCohortCalendar,
    q65AnnIndexDedup, q65bAnnIndexDedupPq, q65cAnnCrossExact, q65dAnnIngest,
    q65eAnnAutoSized, q65fAnnRebuild, q65gAnnImiExact, q65hAnnRebuildIngest,
    q65iAnnImiRebuildIngest, q65jAnnIndexOccupancy, q65kAnnCrossBulk,
    q65lAnnMaintenance,
    q66ExpectationsRoute, q67FunnelSqlAgg,
    q68PackConcat, q68bPackBins, q69GapFill, q70NgramNovelty, q71ZoneMapSkip,
    q72MixturePlan, q73GopherRules, q74BoilerplateStrip, q75MixtureEpochs,
    q76TemperaturePlan, q77TopFraction, q77bTopQuantileSketch, q78VocabStats,
    q79SkewReport, q80NbModel, q80bNbScore, q80cOddsMass, q81CurationPipeline,
    q82LmBigrams, q82bLmSurprisal, q82cLmPooled,
    q83BpePairs, q83bBpeMerges, q83cBpeEncode, q83dBpeEncodeFast, q83eBpeVocabulary,
    q83fBpeBytePairs, q83gBpeByteMerges, q83hBpeByteEncode,
    q84TextIndexSearch, q84bTextIndexCompacted, q84cTextIndexSearchAll, q84dTextIngest,
    q84eTextIndexDf, q84fTextMaintenance, q84gManifestBackfill, q84hCompactStats,
    q85RandomProjection, q85bProjectionXxhash,
    q86PerplexityBuckets, q86bPerplexityBucketsSketch, q87SpanDedup,
    q88WeightedSample,
    q88cWeightedSampleSystematic,
    q89SemanticDedup, q89cSemanticDedupExact,
    q90PretrainingManifest, q91AudioDecode, q92ImageResize, q93PhraseSearch,
    q94CollapseRuns, q95JpegDecode, q96CapPerSource, q96bCapPerSourceSystematic,
    q97HybridRrf, q98ClusterBalanced, q99UrlCanonical, q99bUrlDedup, q99dUrlDedupIngest,
    q100LeakageSafeSplit, q101HardNegatives, q102PagerankAuthority, q103NfcNormalize,
    q99cHostCap, q104EpochShuffle, q105OrcRoundtrip, q106DsirImportance, q107Sq8TopK,
    q108CorpusOverlap, q108bCorpusOverlapSketch, q109MemorizationAudit, q110SketchAgreement, q111CalibrationReport,
    q112DriftReport, q112bDriftMonitorIngest, q113LengthBatches, q114ConnectedComponents, q115KmeansTrain,
    q106bImportanceIngest, q115bKmeansBalanced, q116WeightedJaccard, q117WaterfillPlan, q117bWaterfillSample,
    q118KeepBestDedup,
    q119WeightedMinhash, q120EvalRun, q121Compression, q122QuantileNormalize,
    q123ImageDhash, q123bImageNearDup, q123cMediaDedupIngest, q124BloomSkipRead, q125AudioFingerprint,
    q126ScriptProfile, q127DomainQuality, q127bDomainFilter, q128DatasetCard,
    q129EmbeddingMoments, q129bEmbeddingMomentsBlocked, q130JsonlRoundtrip, q131WetRoundtrip, q132CurationFunnel,
    q133NativeBloomLookup, q134FooterCount, q135Pseudonymize, q136CorpusChecksum,
    q137CrawlPipeline, q138JoinCardinality, q139JoinAdvice, q139bAdvisedJoinExec,
    q139cSaltedJoinExec,
    q140SketchStoreEstimate, q141Curriculum, q142FleissKappa, q143RobotsFilter,
    q143bRobotsWildcard, q144ParseRobots, q145CrawlFrontier, q146LinkGraphRank, q147TriangleCounts,
    q148CohenKappa, q149KCore, q150FrontierSchedule, q151SpanCorrupt,
    q152ChatTurns, q153ChatValidate, q153bChatRoutedIngest, q154ChatStats, q155ChatRender,
    q156PreferencePairs, q157PreferenceTopBottom, q158KAnonymity, q159HitsScores,
    q160StripAccents, q161BradleyTerry, q162GrpoAdvantage, q163LossMaskSpans,
    q164RejectionSample, q165MatchPhrases, q166CardDetect, q167FixMojibake,
    q168SftPipeline, q169IntervalOverlap, q170TruncateBudget, q171HammingTopK,
    q172ToolValidate, q173LengthBias, q174SplitReasoning, q175FimSplit,
    q176HammingRerank, q177PackedSpans, q178AnnotationDisagreement,
    q179ClipRewards, q180InsertNeedle)

  /** Normalize the SQL blocks (strip leading margins) for the oracle dump. */
  private def normalizeSql(sql: String): String =
    sql.linesIterator.map(_.trim).filter(_.nonEmpty).mkString(" ")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> normalizeSql(o))).toMap

  val headlines: Seq[Q] = all.filter(_.headline)
}
