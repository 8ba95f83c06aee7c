package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's run scope leaves no cache behind, so a run is never timed
  * against a relation an earlier run persisted. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every q36 run re-reads its source and releases what it persisted") {
    val sc = spark.sparkContext
    val orders = TestSpark.table("orders").count()
    // a clean baseline: the run's clearCache also drops what earlier
    // suites left cached in the shared session
    spark.catalog.clearCache()
    val rdds = sc.getPersistentRDDs.keySet
    val windows = Seq("warm", "timed1").map { phase =>
      val (sec, w) = Bench.run(spark, "q36_esi_etl", TestSpark.sf, phase)
      assert(sec < 1e6, s"q36 failed in phase $phase")
      assert(sc.getPersistentRDDs.keySet === rdds, s"cache left by $phase")
      w
    }
    assert(windows.map(_.label) === Seq("q36_esi_etl/warm", "q36_esi_etl/timed1"))
    // the second run scans orders again instead of the first run's
    // persisted stream
    assert(windows(1).inputRecords >= orders)
  }
}
