package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val).
  * Built by [[GraftSession]] like every main; build.sbt pins the forked
  * test JVM to `SPARK_GRAFT_CPUS=4`, so suites run on `local[4]` with 4
  * shuffle partitions on any host. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession("graft-test")
}
