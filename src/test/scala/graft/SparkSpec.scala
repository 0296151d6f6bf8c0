package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM): the
  * benchmark's session on a fixed `local[4]`, so plan and job-count pins
  * hold for the planner config the bench times, on any host. */
object SparkSpec {
  lazy val spark: SparkSession = Bench.session("4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
