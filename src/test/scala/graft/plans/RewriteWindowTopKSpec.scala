package graft.plans

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RewriteWindowTopKSpec extends AnyFunSuite {

  private def lineitem = TestSpark.table("lineitem")
    .select("l_orderkey", "l_linenumber", "l_extendedprice")

  private def topK(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("l_orderkey"))
        .orderBy(negate(col("l_extendedprice")), col("l_linenumber"))))
    .filter(col("rn") <= 2)

  test("eligible pattern loses its WindowExec and keeps identical results") {
    val q = topK(lineitem)
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("Window"), s"window survived:\n$physical")
    assert(physical.contains("bounded_topk"), s"no heap agg:\n$physical")

    // ground truth ranked in Scala from the collected rows: every
    // session carries the rule, so a Spark-side baseline would be
    // rewritten as well
    val want = lineitem.collect().toSeq.groupBy(_.getLong(0)).values
      .flatMap(_.sortBy(r => (-r.getDouble(2), r.getInt(1))).take(2)
        .zipWithIndex.map { case (r, i) => (r.getLong(0), r.getInt(1), i + 1) })
      .toSet
    val got = q.select("l_orderkey", "l_linenumber", "rn")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // schema (names, order, types) must survive the rewrite
    def shape(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(q.queryExecution.optimizedPlan) ===
      shape(q.queryExecution.analyzed))
  }

  test("rewritten rank column remains usable downstream") {
    val q = topK(lineitem).filter(col("rn") === 1)
      .groupBy().agg(count(lit(1)).as("n")).head.getLong(0)
    val orders = lineitem.select("l_orderkey").distinct().count()
    assert(q === orders) // exactly one rank-1 row per order
  }

  test("ineligible shapes keep their window: rank(), desc order, non-literal k") {
    def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Window")
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    // rank() is not row_number(): ties share ranks, heap can't emit that
    assert(hasWindow(lineitem
      .withColumn("rn", rank().over(w)).filter(col("rn") <= 2)))
    // descending order: the heap's natural ordering doesn't match
    assert(hasWindow(lineitem
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber").desc)))
      .filter(col("rn") <= 2)))
    // filter not on a literal bound
    assert(hasWindow(lineitem
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("l_linenumber"))))
  }
}
