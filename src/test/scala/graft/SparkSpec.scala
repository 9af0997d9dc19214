package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork): the
  * shipped `Graft.session`, so the suite tests the config users run. */
object TestSession {
  lazy val spark: SparkSession = graft.core.Graft.session("graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
}
