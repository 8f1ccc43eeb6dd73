package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The `Bench`/`Verify` session settings at 4 cores, so a plan a spec
    * pins is the plan the bench times. */
  lazy val session: SparkSession = GraftSession.local(4)
}
