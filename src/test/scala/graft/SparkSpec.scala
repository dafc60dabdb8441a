package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are
  * expensive; suites only read it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Poll `cond` every 10 ms for up to `seconds`; its last value. */
  protected def within(seconds: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }
}
