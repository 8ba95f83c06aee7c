package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared test session: one JVM (Test/fork), one SparkSession. */
object TestSpark {
  // Verify's session at its default core count, pinned to 4 whatever
  // SPARK_GRAFT_CPUS says so partition-count assertions hold on any
  // host; lint and plan specs see the plans Verify and Bench run
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"

  def table(name: String): DataFrame = Tables.load(spark, sf, name)

  /** Order-free comparison form: columns sorted by name, rows sorted
    * by their joined string — shared by the olap specs so the two
    * sides of an equivalence assert can differ in column AND row
    * order. */
  def sortedRows(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
  }
}
