package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session; suites are
  * read-only over the fixtures), built with the same settings and SQL
  * functions as `Bench` and `Verify`. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Driver-side reference for `TextAnalysis.microAvg4`: 4-decimal
    * rounding of sum_micros/1e6/n in pure integer arithmetic (half away
    * from zero), divided once at the end — matches the engine EXACTLY,
    * no float tolerance needed. */
  def microAvg4(sumMicros: Long, n: Long): Double = {
    val a =
      if (sumMicros >= 0) (2 * sumMicros + 100 * n) / (200 * n)
      else -((-2 * sumMicros + 100 * n) / (200 * n))
    a / 10000.0
  }
  val sf001  = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
