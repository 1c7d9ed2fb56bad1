package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite via
  * lazy val; sharing across suites is safe since config is identical).
  * Built through [[Session]], so the suite runs the harnesses' config.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
  val Sf0001 = "/root/testdata/sf0.001"
}
