package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM; suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlCtx = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession = Tuning.session(4, "graft-test")
}
