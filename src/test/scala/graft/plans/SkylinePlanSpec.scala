package graft.plans

import scala.util.Random

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class SkylinePlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("native skyline node plans as SkylineExec and matches the mapPartitions path") {
    import spark.implicits._
    val rnd = new Random(17)
    val rows = Seq.fill(400)(
      (rnd.nextLong(), rnd.nextInt(25).toDouble, rnd.nextInt(25).toDouble))
    val df = rows.toDF("id", "x", "y").repartition(7)
    val native = graft.operators.Skyline.skylineNative(df, Seq("x", "y"))
    val plan = native.queryExecution.executedPlan.toString
    // nodeName renders SkylineExec as "Skyline [dims], partial/final"
    assert(plan.contains("Skyline ["), s"operator not planned:\n$plan")
    assert(plan.contains("Exchange SinglePartition"),
      s"final phase should demand AllTuples:\n$plan")
    val got = native.select("id").collect().map(_.getLong(0)).toSet
    val want = graft.operators.Skyline.skyline(df, Seq("x", "y"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("ties kept, nulls excluded — node semantics match the library operator") {
    import spark.implicits._
    val df = Seq[(Long, java.lang.Double, java.lang.Double)](
      (1L, 1.0, 9.0), (2L, 5.0, 5.0), (3L, 5.0, 5.0), (4L, 6.0, 6.0),
      (5L, null, 0.0))
      .toDF("id", "x", "y")
    val got = graft.operators.Skyline.skylineNative(df, Seq("x", "y"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 3L))
  }

  test("downstream operations compose over the custom node") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 2.0), (2L, 2.0, 1.0), (3L, 3.0, 3.0))
      .toDF("id", "x", "y")
    val n = graft.operators.Skyline.skylineNative(df, Seq("x", "y"))
      .filter($"id" > 0).groupBy().count().head.getLong(0)
    assert(n === 2L)
  }
}
