package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PruneExpandByFilterSpec extends AnyFunSuite {

  private def orders = TestSpark.table("orders")
    .select(year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      col("o_orderpriority").as("prio"),
      col("o_totalprice").as("price"))

  /** Three member sets → Expand with 3 projections (plus gid). */
  private def memberSpace(df: DataFrame): DataFrame =
    df.groupingSets(
        Seq(Seq(col("y")), Seq(col("y"), col("m")), Seq(col("prio"))),
        col("y"), col("m"), col("prio"))
      .agg(count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))

  private def expandProjections(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand =>
        e.projections.length
    }

  test("a gid filter prunes the refuted Expand projections") {
    val all = memberSpace(orders)
    val gids = all.select(col("gid")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(gids.length == 3)
    val one = memberSpace(orders).filter(col("gid") === gids.head)
    assert(expandProjections(one) == Seq(1),
      s"expected the Expand pruned to 1 projection, plan:\n" +
        one.queryExecution.optimizedPlan)
    // values identical to filtering the unpruned member space
    val want = all.collect().filter(_.getAs[Long]("gid") == gids.head)
      .map(_.toString).sorted.toSeq
    val got = one.collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("a filter the projections cannot refute keeps the full Expand") {
    val q = memberSpace(orders).filter(col("n") > 10)
    assert(expandProjections(q) == Seq(3),
      s"plan:\n${q.queryExecution.optimizedPlan}")
  }

  test("a filter refuting every projection collapses to an empty relation") {
    val q = memberSpace(orders).filter(col("gid") === -1L)
    assert(expandProjections(q).isEmpty)
    assert(q.collect().isEmpty)
  }

  test("a mixed condition (gid AND data column) prunes and still filters") {
    val all = memberSpace(orders).collect()
    val gid = all.map(_.getAs[Long]("gid")).min
    val q = memberSpace(orders)
      .filter(col("gid") === gid && col("n") > 5)
    // conjunction: Catalyst splits it, the gid leg prunes projections
    assert(expandProjections(q) == Seq(1),
      s"plan:\n${q.queryExecution.optimizedPlan}")
    val want = all.filter(r =>
      r.getAs[Long]("gid") == gid && r.getAs[Long]("n") > 5)
      .map(_.toString).sorted.toSeq
    assert(q.collect().map(_.toString).sorted.toSeq == want)
  }
}
