package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** `Tables.registerAll` is the temp-view face (SURVEY S7): `spark.sql`
  * addresses each registered table and sees exactly what `Tables.load`
  * returns.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("registerAll exposes every testdata table to spark.sql") {
    Tables.registerAll(spark, sfDir)
    try {
      val viaSql = spark.sql("SELECT count(*) FROM lineitem").head().getLong(0)
      assert(viaSql > 0)
      assert(viaSql == Tables.load(spark, sfDir, "lineitem").count())
      Tables.all.foreach(n => assert(spark.catalog.tableExists(n), s"$n not registered"))
    } finally Tables.all.foreach(spark.catalog.dropTempView)
  }
}
