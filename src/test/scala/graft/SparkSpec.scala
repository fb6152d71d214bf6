package graft

import org.apache.spark.sql.SparkSession

/** The session every spec runs on: [[GraftSession]] at four local cores.
  * All suites share one JVM, so they share this one session too. */
trait SparkSpec {
  lazy val spark: SparkSession = GraftSession("local[4]")
}
