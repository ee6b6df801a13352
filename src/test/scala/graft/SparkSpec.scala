package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Session

/** Shared single-JVM SparkSession for all suites (sbt forks one test JVM;
  * `getOrCreate` hands every suite the same session, so the fixture cost is
  * paid once). Built by the same factory as Bench/Verify, at a fixed 4 cores,
  * so a plan that passes here runs identically under the driver's gates.
  */
trait SparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  /** Smallest driver-generated scale factor — smoke data for plan-level tests. */
  val sfDir = "/root/testdata/sf0.001"
}
