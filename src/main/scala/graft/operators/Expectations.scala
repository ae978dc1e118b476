package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations, evaluated wholesale: a rule set
  * over a table compiles to ONE aggregation pass returning a per-rule
  * scorecard `(rule, total, violations, pass)` — the generalization of
  * the reference's imperative check script (`/root/reference/
  * silver_check.py:20-53`, five separate actions printing to stdout)
  * into a composable, assertable operator.
  *
  * Three rule shapes, by what they must touch:
  *   - [[check]]: row-predicate rules (null, range, regex, cross-column)
  *     — ALL of them fold into a single scan with map-side partials; a
  *     ruleset of 50 expectations over 100 TB costs one pass, not 50.
  *     The wide one-row aggregate is then unpivoted (`stack`) into the
  *     scorecard, driver-free.
  *   - [[uniqueKey]]: one aggregate (count vs distinct-key count) — its
  *     own shuffle by necessity.
  *   - [[refIntegrity]]: orphan detection via a LEFT join against the
  *     deduplicated parent key set folded into the same agg shape — one
  *     child scan; Spark broadcasts the key set when small, and the
  *     check degrades to a co-partitioned join (not a driver loop) when
  *     it is not.
  *
  * All three emit the same schema, so a full table contract is
  * `check(...).unionByName(uniqueKey(...)).unionByName(refIntegrity(...))`
  * — and gating a pipeline is `.where(!col("pass")).isEmpty`.
  */
object Expectations {

  /** A named row-level expectation; `violation` is TRUE when a row
    * BREAKS the rule. Names must be identifier-safe (they transit a
    * generated `stack` expression).
    */
  final case class Rule(name: String, violation: Column) {
    require(name.matches("[A-Za-z0-9_]+"), s"rule name not identifier-safe: $name")
    require(!name.startsWith("__") && !Set("rule", "total", "violations", "pass")(name),
      s"rule name collides with a scorecard column: $name")
  }

  def notNull(c: String): Rule = Rule(s"not_null_$c", col(c).isNull)

  def inRange(c: String, lo: Double, hi: Double): Rule =
    // explicit null arm: `!(c >= lo && c <= hi)` is NULL for null c, and
    // a null predicate would count as NOT-violated — nulls must fail a
    // range expectation loudly, not slip through three-valued logic
    Rule(s"range_$c", col(c).isNull || col(c) < lo || col(c) > hi)

  /** Evaluate every row-predicate rule in ONE pass over `df`. */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "empty ruleset")
    require(rules.map(_.name).distinct.size == rules.size, "duplicate rule names")
    val aggs = rules.map(r =>
      sum(when(r.violation, 1L).otherwise(0L)).as(r.name))
    val wide = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val stacked = rules
      .map(r => s"'${r.name}', coalesce(`${r.name}`, 0L)")
      .mkString(", ")
    wide.select(
      expr(s"stack(${rules.size}, $stacked) AS (rule, violations)"),
      col("__total").as("total"))
      .select(col("rule"), col("total"), col("violations"),
        (col("violations") === 0L).as("pass"))
  }

  /** Per-row annotation: the array of rule names each row violates, in
    * ruleset order (empty ⇔ the row passes every rule). The scorecard
    * ([[check]]) answers "is the table healthy"; this answers "which
    * rows, and why" — the shape quarantine routing needs. Same one-scan
    * discipline: the whole ruleset is one projected expression, no joins,
    * no second evaluation of any predicate.
    */
  def annotate(df: DataFrame, rules: Seq[Rule], violatedCol: String = "violated"): DataFrame = {
    require(rules.nonEmpty, "empty ruleset")
    require(rules.map(_.name).distinct.size == rules.size, "duplicate rule names")
    require(!df.columns.contains(violatedCol),
      s"annotation column `$violatedCol` already exists on the input")
    val tagged = array(rules.map(r => when(r.violation, lit(r.name))): _*)
    df.withColumn(violatedCol, filter(tagged, _.isNotNull))
  }

  /** Gate + route in ONE scan and ONE write: rows are annotated
    * ([[annotate]]) and written partitioned by a quarantine flag, so the
    * clean rows land under `__quarantined=false/` and the violating rows
    * — still carrying their `violated` reasons — under
    * `__quarantined=true/`. Routing is not a second pass or a pair of
    * filtered writes; it is the partitioned sink itself, which means a
    * 100 TB gate costs exactly one read and one shuffle-free write, and
    * every downstream reader of [[routedPassed]] partition-prunes the
    * quarantine away at the scan.
    */
  def route(
      df: DataFrame,
      rules: Seq[Rule],
      path: String,
      violatedCol: String = "violated"): Unit = {
    val ann = annotate(df, rules, violatedCol)
      .withColumn("__quarantined", size(col(violatedCol)) > 0)
    // deliberately NOT Sinks.writePartitioned: that helper repartitions by
    // the partition columns to control file counts, and a boolean flag as
    // the exchange key would collapse the whole table into two tasks.
    // Here every task splits its own rows into ≤2 files — shuffle-free,
    // at most 2× the task count in files (compact later if that matters).
    ann.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__quarantined")
      .parquet(path)
  }

  /** The clean side of a [[route]] output — partition-pruned to
    * `__quarantined=false`, annotation columns dropped: the original
    * schema, gate invisible to consumers.
    */
  def routedPassed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      violatedCol: String = "violated"): DataFrame =
    // partition values round-trip as strings (Spark's partition-column
    // inference has no boolean arm), so the prune predicate is textual
    spark.read.parquet(path)
      .where(col("__quarantined") === "false")
      .drop("__quarantined", violatedCol)

  /** Key-uniqueness expectation: violations = rows beyond the first of
    * each key group (0 ⇔ the key is unique).
    */
  def uniqueKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "uniqueKey needs key columns")
    df.agg(
      count(lit(1)).as("total"),
      (count(lit(1)) - count_distinct(struct(keys.map(col): _*))).as("violations"))
      .select(
        lit("unique_key_" + keys.mkString("_")).as("rule"),
        col("total"), col("violations"), (col("violations") === 0L).as("pass"))
  }

  /** Referential-integrity expectation: violations = child rows whose
    * key matches no parent row (NULL child keys are orphans too — they
    * reference nothing). One scan of the child, joined to the parent's
    * deduplicated key set.
    */
  def refIntegrity(
      child: DataFrame,
      childKeys: Seq[String],
      parent: DataFrame,
      parentKeys: Seq[String]): DataFrame = {
    require(childKeys.nonEmpty && childKeys.size == parentKeys.size,
      "childKeys/parentKeys must align")
    val idx = childKeys.indices
    val keySet = parent
      .select(idx.map(i => col(parentKeys(i)).as(s"__pk_$i")): _*)
      .distinct()
      .withColumn("__hit", lit(1))
    val cond = idx.map(i => col(childKeys(i)) === col(s"__pk_$i")).reduce(_ && _)
    child.join(keySet, cond, "left")
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("violations"))
      .select(
        lit("ref_" + childKeys.mkString("_")).as("rule"),
        col("total"), col("violations"), (col("violations") === 0L).as("pass"))
  }
}
