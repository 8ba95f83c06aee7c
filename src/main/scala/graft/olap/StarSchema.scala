package graft.olap

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Star-schema join builder — the reference's `build_fact_query`
  * (`machineLearning.py:101-125`): fact LEFT JOIN each dimension on its
  * surrogate key, dimension attributes aliased `"{dim}_{col}"`.
  *
  * Every dimension is broadcast: dims are orders of magnitude smaller
  * than facts in a star schema, so the fact side never shuffles — the
  * whole star join is a chain of broadcast hash joins pipelined into one
  * stage over the fact scan. This is the plan shape that survives a
  * 100 TB fact table (verify: `.explain` shows `BroadcastHashJoin` ×N
  * and a single scan of the fact).
  */
object StarSchema {

  /** One dimension of a star: the table, its join key, and the alias
    * prefix for its attribute columns. */
  final case class Dim(df: DataFrame, key: String, prefix: String)

  /** Prefix every non-key column: the D1 aliasing contract. */
  def prefixColumns(df: DataFrame, prefix: String, except: Seq[String]): DataFrame = {
    val cols = df.columns.map { c =>
      if (except.contains(c)) col(c) else col(c).as(s"${prefix}_$c")
    }
    df.select(cols.toSeq: _*)
  }

  /** fact LEFT JOIN broadcast(dim) for each dim, attributes prefixed. */
  def wideTable(fact: DataFrame, dims: Seq[Dim]): DataFrame =
    dims.foldLeft(fact) { case (acc, Dim(d, key, prefix)) =>
      acc.join(broadcast(prefixColumns(d, prefix, except = Seq(key))), Seq(key), "left")
    }
}
