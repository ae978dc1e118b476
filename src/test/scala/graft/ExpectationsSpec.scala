package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Expectations
import graft.operators.Expectations.Rule

class ExpectationsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val df = Seq(
    (Some(1L), Some(10.0), "a@x.io"),
    (Some(2L), Some(200.0), "nope"),   // range violation
    (None, Some(5.0), "b@y.io"),       // null id
    (Some(4L), None, "c@z.io")         // null amount → range violation
  ).toDF("id", "amt", "email")

  private def score(rules: Seq[Rule]): Map[String, (Long, Long, Boolean)] =
    Expectations.check(df, rules).collect()
      .map(r => r.getAs[String]("rule") ->
        ((r.getAs[Long]("total"), r.getAs[Long]("violations"), r.getAs[Boolean]("pass"))))
      .toMap

  test("row-predicate rules count violations in one pass; nulls fail ranges") {
    val got = score(Seq(
      Expectations.notNull("id"),
      Expectations.inRange("amt", 0, 100),
      Rule("email_shape", !col("email").rlike("^[^@]+@[^@]+$"))))
    assert(got("not_null_id") === ((4L, 1L, false)))
    assert(got("range_amt") === ((4L, 2L, false))) // 200 out of range, null fails
    assert(got("email_shape") === ((4L, 1L, false)))
  }

  test("a fully-passing rule reports pass = true") {
    val got = score(Seq(Expectations.notNull("email")))
    assert(got("not_null_email") === ((4L, 0L, true)))
  }

  test("the whole ruleset evaluates in a single aggregation over one scan") {
    val plan = Expectations.check(df, Seq(
      Expectations.notNull("id"),
      Expectations.inRange("amt", 0, 100),
      Rule("has_at", !col("email").rlike("@"))))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"n rules must not mean n jobs/exchanges:\n$plan")
    assert(!plan.toLowerCase.contains("union"), "rules fold into one aggregate, not a union of scans")
  }

  test("uniqueKey counts surplus rows per duplicated key") {
    val dup = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "sub")
    val byBoth = Expectations.uniqueKey(dup, Seq("k", "sub")).head()
    assert(byBoth.getAs[Long]("violations") === 1L) // (1,a) twice
    val byK = Expectations.uniqueKey(dup, Seq("k")).head()
    assert(byK.getAs[Long]("violations") === 2L) // three rows of k=1
    assert(!byK.getAs[Boolean]("pass"))
  }

  test("refIntegrity counts orphans; null child keys are orphans") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(3L), None).toDF("fk")
    val r = Expectations.refIntegrity(child, Seq("fk"), parent, Seq("pk")).head()
    assert(r.getAs[Long]("total") === 4L)
    assert(r.getAs[Long]("violations") === 2L) // fk=3 and fk=null
    assert(!r.getAs[Boolean]("pass"))
  }

  test("refIntegrity dedups the parent before joining — duplicate parents cannot multiply child rows") {
    val parent = Seq(1L, 1L, 1L).toDF("pk")
    val child = Seq(1L, 1L).toDF("fk")
    val r = Expectations.refIntegrity(child, Seq("fk"), parent, Seq("pk")).head()
    assert(r.getAs[Long]("total") === 2L && r.getAs[Long]("violations") === 0L)
  }

  test("the three shapes union into one scorecard") {
    val parent = Seq(1L, 2L, 4L).toDF("pk")
    val board = Expectations.check(df, Seq(Expectations.notNull("id")))
      .unionByName(Expectations.uniqueKey(df, Seq("id")))
      .unionByName(Expectations.refIntegrity(df, Seq("id"), parent, Seq("pk")))
    assert(board.count() === 3L)
    assert(board.columns.toSeq === Seq("rule", "total", "violations", "pass"))
  }

  test("annotate lists violated rule names in ruleset order; clean rows get an empty array") {
    val rules = Seq(
      Expectations.notNull("id"),
      Expectations.inRange("amt", 0, 100),
      Rule("email_shape", !col("email").rlike("^[^@]+@[^@]+$")))
    val got = Expectations.annotate(df, rules)
      .select("email", "violated").as[(String, Seq[String])].collect().toMap
    assert(got("a@x.io") === Seq.empty)
    assert(got("nope") === Seq("range_amt", "email_shape"))
    assert(got("b@y.io") === Seq("not_null_id"))
    assert(got("c@z.io") === Seq("range_amt")) // null amt fails the range
  }

  test("annotate folds the ruleset into one projection — no exchange, no union") {
    val plan = Expectations.annotate(df, Seq(
      Expectations.notNull("id"), Expectations.inRange("amt", 0, 100)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"annotation must be a map-side projection:\n$plan")
    assert(!plan.toLowerCase.contains("union"))
  }

  test("annotate refuses to shadow an existing column") {
    intercept[IllegalArgumentException] {
      Expectations.annotate(df, Seq(Expectations.notNull("id")), violatedCol = "email")
    }
  }

  test("route splits pass/quarantine via one partitioned write; readers partition-prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft_route").toString
    val rules = Seq(
      Expectations.notNull("id"),
      Expectations.inRange("amt", 0, 100))
    Expectations.route(df, rules, dir)

    val passed = Expectations.routedPassed(spark, dir)
    assert(passed.columns.toSeq.sorted === Seq("amt", "email", "id"))
    assert(passed.select("email").as[String].collect().toSet === Set("a@x.io"))
    // the clean-side reader partition-prunes the quarantine away at the scan
    val plan = passed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__quarantined".r.findFirstIn(plan).isDefined,
      s"quarantine flag must be a partition filter, not a data filter:\n$plan")

    val quarantined = spark.read.parquet(dir).where(col("__quarantined") === "true")
    val reasons = quarantined.select("email", "violated")
      .as[(String, Seq[String])].collect().toMap
    assert(reasons.keySet === Set("nope", "b@y.io", "c@z.io"))
    assert(reasons("nope") === Seq("range_amt"))

    // nothing lost: pass ∪ quarantine = input
    assert(passed.count() + quarantined.count() === df.count())
  }

  test("rule names must be identifier-safe (they transit generated SQL)") {
    intercept[IllegalArgumentException] {
      Rule("bad name'; --", lit(true))
    }
  }

  test("rule names must not shadow scorecard or internal columns") {
    Seq("__total", "rule", "violations", "total", "pass").foreach { bad =>
      intercept[IllegalArgumentException] { Rule(bad, lit(true)) }
    }
  }
}
