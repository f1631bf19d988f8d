package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(scale: String): String = s"/root/testdata/sf$scale"
}

object SparkSpec {
  // fixed at 4 cores on every host: plan-shape and partition-count
  // assertions must not depend on the machine running the suite
  lazy val session: SparkSession = Sessions.local("graft-test", cpus = 4)
}
