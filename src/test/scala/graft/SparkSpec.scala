package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). Four
  * cores on every host, so partition-dependent shapes do not vary with
  * the machine. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def fixture(name: String): String = s"src/test/resources/fixtures/$name"
}
