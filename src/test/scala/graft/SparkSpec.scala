package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext
}

object SparkSpec {
  /** Bench's own session posture ([[Sessions.local]]), at 4 cores. */
  lazy val session: SparkSession = Sessions.local(4)
}
