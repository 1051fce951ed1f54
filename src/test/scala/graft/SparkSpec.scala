package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, 4)
}
