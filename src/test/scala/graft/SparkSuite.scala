package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy; one JVM-wide session is reused across
  * suites via getOrCreate). Built by [[GraftSession.builder]], so tests
  * run under exactly the keys the mains run under. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  lazy val sf: String = "/root/testdata/sf0.001"
}
