package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (sbt forks a single test JVM),
  * built by the same factory as every shipped entry point.
  */
object SparkTestSession {
  lazy val spark: SparkSession = graft.Sessions.build("4", "graft-test")
}
