package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared test session is the one [[Sessions]] builds for every
  * tool — these are the settings each tool relied on its own copy for. */
class SessionsSpec extends AnyFunSuite {

  test("the test session carries Sessions' settings at 4 cores") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    // GraftExtensions installed: its native SQL functions resolve
    assert(spark.sql("SELECT normalize_string(' A ') AS n")
      .head.getString(0) === "a")
  }
}
