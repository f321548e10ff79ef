package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Evaluate a scalar Column on a single-row frame. */
  def evalStr(c: Column): String =
    spark.range(1).select(c.as("v")).head().getString(0)
}

object SparkSpec {
  // the engine's one session (bench settings included), at a fixed 4
  // cores so partition-sensitive assertions don't depend on the box
  lazy val session: SparkSession = GraftSession.build(cpus = 4)
}
