package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; specs run sequentially in sbt's forked JVM).
  */
object SparkSpec {
  lazy val spark: SparkSession =
    Sessions.builder("4").appName("graft-test").getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sqlTs(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
