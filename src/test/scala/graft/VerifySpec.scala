package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's per-query dump leaves no cache behind, so a later query's
  * dump is never served by a relation an earlier dump persisted. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dumping q36 writes its rows and releases the stream it persisted") {
    val out = java.nio.file.Files.createTempDirectory("verify_spec").toString
    try {
      val sc = spark.sparkContext
      // a clean baseline: earlier suites may have left relations cached
      spark.catalog.clearCache()
      val rdds = sc.getPersistentRDDs.keySet
      Verify.dump(spark, "q36_esi_etl", TestSpark.sf, out)
      assert(sc.getPersistentRDDs.keySet === rdds)
      val dumped = spark.read.parquet(s"$out/q36_esi_etl")
      val expected = SparkEntry.queries("q36_esi_etl")(spark, TestSpark.sf)
      assert(dumped.count() > 0)
      assert(dumped.exceptAll(expected).isEmpty &&
        expected.exceptAll(dumped).isEmpty)
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }
}
