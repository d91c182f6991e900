package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark startup
  * dominates test wall time otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.engine(4, appName = "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf = "/root/testdata/sf0.001"
}
