package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, from the same factory
  * as every other session, so specs run on the production engine.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
}
