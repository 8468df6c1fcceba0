package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, reused). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static conf: saveAsTable targets (BucketedJoinSpec) land in /tmp
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The directory of the parquet tables the flagship query reads. */
  lazy val flagshipDir: String = new java.io.File(
    SparkEntry.entry(spark).inputFiles.head.stripPrefix("file:")).getParent
}
