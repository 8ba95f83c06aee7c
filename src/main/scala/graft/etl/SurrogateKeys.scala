package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic surrogate-key assignment — the batch reformulation of
  * PDI's row-at-a-time CombinationLookup (`etl_final.ktr:2748-3009`,
  * `tablemax` max+1 keys). Batch Spark cannot (and should not) replicate
  * arrival-order keys; instead keys are 1..N in the canonical sort order
  * of the natural-key tuple, which is deterministic across runs and
  * cluster layouts. Parity checks must compare join *results*, not raw
  * key values (SURVEY.md §7.4.1).
  */
object SurrogateKeys {

  /** Build a dimension: distinct natural-key tuples + surrogate id.
    *
    * Scale note: `row_number()` over a global `Window.orderBy` collapses
    * to a SINGLE partition — fine for a 25-row dim, fatal for a 10^9-row
    * one. This implementation sorts (range-partitioned, fully parallel)
    * and then uses `zipWithIndex` (a distributed O(1)-per-row pass with
    * one tiny driver round-trip for partition offsets), so dimension
    * build scales linearly with cluster size.
    */
  def dim(df: DataFrame, naturalKeys: Seq[String], idCol: String): DataFrame =
    assignIds(df.select(naturalKeys.map(col): _*).distinct(), naturalKeys, idCol)

  /** Assign ids 1..N in canonical sort order to an already-distinct
    * key set (the second half of [[dim]]; exposed so one-shuffle
    * multi-dimension builds can skip the per-dim distinct). */
  def assignIds(distinctKeys: DataFrame, naturalKeys: Seq[String],
      idCol: String): DataFrame = {
    val spark = distinctKeys.sparkSession
    val sorted = distinctKeys.orderBy(naturalKeys.map(col): _*)
    val schema = sorted.schema.add(idCol, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Rows of `incoming` whose natural-key tuple `existing` has not
    * seen, every incoming column preserved. Null-safe anti-join
    * (`<=>`): null is a valid key value here (it has its own dim row,
    * and resolve matches it null-safely) — a plain column anti-join
    * would re-append every null-bearing tuple on every load, and
    * resolve would then duplicate facts against the twin dim rows.
    * The shared first half of every incremental-append face
    * ([[dimAppend]], [[LateDim.ensureMembers]],
    * [[LateDim.scd1Arrive]]) — one place to fix the contract. */
  def unseenKeys(existing: DataFrame, incoming: DataFrame,
      naturalKeys: Seq[String]): DataFrame = {
    val ex = existing.select(naturalKeys.map(c => col(c).as(s"__e_$c")): _*)
    val cond = naturalKeys.map(k => col(k) <=> col(s"__e_$k")).reduce(_ && _)
    incoming.join(ex, cond, "left_anti")
  }

  /** Ids above `existing`'s current max for an already-distinct batch
    * of new rows — the shared second half of incremental append.
    * Existing ids are never reassigned. */
  def appendIdsAboveMax(existing: DataFrame, newRows: DataFrame,
      naturalKeys: Seq[String], idCol: String): DataFrame = {
    // coalesce: an empty existing dim has max(id) = NULL (first load)
    val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L)))
      .head().getLong(0)
    // assignIds, not dim(): newRows is already distinct — dim() would
    // re-shuffle for a redundant distinct
    assignIds(newRows, naturalKeys, idCol)
      .withColumn(idCol, col(idCol) + lit(maxId))
  }

  /** Incremental append — the one inherently sequential CombinationLookup
    * semantic: new natural keys get ids above the current max. Anti-join
    * finds the new tuples; the offset is a scalar agg. Existing ids are
    * never reassigned.
    */
  def dimAppend(existing: DataFrame, incoming: DataFrame,
      naturalKeys: Seq[String], idCol: String): DataFrame = {
    val newKeys = unseenKeys(existing,
      incoming.select(naturalKeys.map(col): _*).distinct(), naturalKeys)
    existing.unionByName(
      appendIdsAboveMax(existing, newKeys, naturalKeys, idCol))
  }

  /** Replace natural keys in a fact stream with the dim's surrogate key —
    * dims are broadcast (they are small relative to facts by
    * construction), so no fact-side shuffle happens. Keys compare
    * null-safely (`<=>`): PDI's CombinationLookup treats null as a
    * value — a null natural key gets (and later matches) its own dim
    * row — and BroadcastHashJoin supports EqualNullSafe keys, so this
    * costs nothing. */
  def resolve(facts: DataFrame, dimension: DataFrame,
      naturalKeys: Seq[String], idCol: String): DataFrame = {
    val d = dimension.select((naturalKeys :+ idCol)
      .map(c => col(c).as(s"__d_$c")): _*)
    val cond = naturalKeys.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _)
    facts.join(broadcast(d), cond, "left")
      .withColumn(idCol, col(s"__d_$idCol"))
      .drop((naturalKeys :+ idCol).map(c => s"__d_$c"): _*)
  }
}
