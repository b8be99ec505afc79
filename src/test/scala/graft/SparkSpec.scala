package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). Pinned to 4 cores, so 4 shuffle partitions
  * (`PrefixSumSpec` exercises its range split across them).
  */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark(cores = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sc = spark.sparkContext
}
