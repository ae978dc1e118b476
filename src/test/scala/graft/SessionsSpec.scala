package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings follow its `cpus` argument, and the
  * shared test session — built by the same factory — carries them along
  * with GraftExtensions. No second SparkContext is started.
  */
class SessionsSpec extends AnyFunSuite {

  test("settings size shuffle partitions to the cpus argument") {
    val conf = Sessions.settings("4")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4")
    assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(Sessions.settings("7")("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "7")
  }

  test("the factory-built session carries the settings and GraftExtensions") {
    val spark = SparkTestSession.spark
    Sessions.settings("4").foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
    // graft_dot is injected by GraftExtensions only; no register() call here
    val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)
    assert(dot == 11.0)
  }
}
