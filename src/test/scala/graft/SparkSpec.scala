package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session; suites run in a
  * forked JVM, Test / fork := true). */
object TestSpark {
  // 4 cores whatever the machine, so the suite does not depend on it
  lazy val spark: SparkSession = Session(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
