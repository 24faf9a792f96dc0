package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the suite wall-clock sane; tests only ever create small frames). It
  * runs on graft's local filesystem ([[graft.io.LocalFs]]), the one the
  * mains and the benchmark run on.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.io.LocalFs.install(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
