package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval range join: left rows with a point column join
  * right rows with [start, end] interval columns where
  * start ≤ point ≤ end (optionally also equi-keyed).
  *
  * Catalyst plans a raw `l.t BETWEEN r.s AND r.e` predicate as a
  * BroadcastNestedLoop (or worse, a cartesian) — O(|L|·|R|) row
  * comparisons, a non-starter at scale. This operator bucketizes time:
  * each left point maps to exactly one bucket of `bucketWidth`; each
  * right interval explodes to the buckets it overlaps (expansion
  * factor = interval/bucketWidth + 1, caller-tuned); the join becomes
  * a plain shuffled equi-join on (keys…, bucket) followed by the exact
  * interval predicate. Each (left, right) pair meets in at most one
  * bucket — the left point's — so no dedup pass is needed.
  *
  * Pick `bucketWidth` near the typical interval length: much smaller
  * multiplies the right side; much larger degrades bucket selectivity
  * toward the nested loop.
  */
object RangeJoin {

  /** @param leftPoint   numeric/timestamp-as-numeric point column on `left`
    * @param rightStart/rightEnd inclusive interval bounds on `right`
    * @param equiKeys    additional equality keys present on BOTH sides
    * @param bucketWidth bucket size in the point column's units
    */
  def pointInInterval(left: DataFrame, leftPoint: String,
      right: DataFrame, rightStart: String, rightEnd: String,
      equiKeys: Seq[String], bucketWidth: Long,
      joinType: String = "inner"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // Left-preserving types only: the right side is EXPLODED one row
    // per overlapped bucket, so right/full outer would emit an
    // unmatched right interval once per bucket (with left-side keys
    // null) — unfixable without a dedup pass that has no stable key.
    val supported = Set("inner", "cross", "left", "leftouter", "left_outer",
      "leftsemi", "left_semi", "semi", "leftanti", "left_anti", "anti")
    require(supported.contains(joinType.toLowerCase),
      s"pointInInterval supports left-preserving join types only, got $joinType")
    // The interval predicate lives INSIDE the join condition, not a
    // post-join filter: a filter after a left-outer join would discard
    // the null-extended unmatched rows (degrading "left" to "inner"),
    // and semi/anti joins don't expose right columns to filter on at all.
    val l = left.withColumn("__bucket",
      floor(col(leftPoint) / bucketWidth).cast("long")).as("__rjl")
    // An inverted right interval (end < start) is empty — no point can
    // fall inside it — but sequence() over it would emit a descending
    // bucket list instead of zero buckets. Dropping those rows is
    // safe for every supported (left-preserving) join type.
    val r = right.filter(col(rightStart) <= col(rightEnd))
      .withColumn("__bucket",
        explode(sequence(
          floor(col(rightStart) / bucketWidth).cast("long"),
          floor(col(rightEnd) / bucketWidth).cast("long")))).as("__rjr")
    val cond = (equiKeys.map(k => col(s"__rjl.$k") === col(s"__rjr.$k")) ++ Seq(
      col("__rjl.__bucket") === col("__rjr.__bucket"),
      col(s"__rjl.$leftPoint") >= col(s"__rjr.$rightStart"),
      col(s"__rjl.$leftPoint") <= col(s"__rjr.$rightEnd"))).reduce(_ && _)
    val joined = l.join(r, cond, joinType)
    joinType.toLowerCase.replace("_", "") match {
      case "leftsemi" | "semi" | "leftanti" | "anti" =>
        // output is left-only; __bucket is the lone synthetic column
        joined.drop("__bucket")
      case _ =>
        // using-join shape: merged equi keys come from the left side,
        // right side contributes its remaining (non-key) columns
        val lCols = left.columns.map(c => col(s"__rjl.$c"))
        val rCols = right.columns.filterNot(equiKeys.contains)
          .map(c => col(s"__rjr.$c"))
        joined.select((lCols ++ rCols).toIndexedSeq: _*)
    }
  }

  /** Interval–interval OVERLAP join: rows whose [start, end] intervals
    * intersect (inclusive bounds: `lStart ≤ rEnd AND rStart ≤ lEnd`),
    * optionally under extra equality keys. The genomics / ad-exposure
    * / session-concurrency shape; Catalyst alone would plan the pure
    * inequality condition as a nested loop.
    *
    * Both sides explode to the `bucketWidth` buckets their interval
    * spans, meeting as a plain shuffled equi-join on (keys…, bucket).
    * An overlapping pair co-occurs in EVERY bucket both spans, so the
    * join keeps a pair only in its canonical bucket — the one
    * containing `greatest(lStart, rStart)`, i.e. the overlap's first
    * instant, which both sides provably span. No dedup pass, no
    * double counting, and the dedup-free trick is what lets this stay
    * a single shuffle at scale.
    *
    * Inner join only (either side is exploded, so outer/semi
    * variants would need a dedup with no stable key). Non-key columns
    * sharing a name across sides should be renamed by the caller
    * (same contract as [[pointInInterval]]).
    */
  def intervalOverlap(left: DataFrame, lStart: String, lEnd: String,
      right: DataFrame, rStart: String, rEnd: String,
      equiKeys: Seq[String], bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def spanned(s: String, e: String): Column =
      explode(sequence(
        floor(col(s) / bucketWidth).cast("long"),
        floor(col(e) / bucketWidth).cast("long")))
    // Inverted intervals (end < start) are mathematically empty: they
    // can never satisfy the overlap predicate, but an unguarded
    // sequence() would emit a DESCENDING bucket list for them and the
    // canonical-bucket trick could still leak pairs. Drop them first.
    val l = left.filter(col(lStart) <= col(lEnd))
      .withColumn("__bucket", spanned(lStart, lEnd)).as("__ojl")
    val r = right.filter(col(rStart) <= col(rEnd))
      .withColumn("__bucket", spanned(rStart, rEnd)).as("__ojr")
    val cond = (equiKeys.map(k => col(s"__ojl.$k") === col(s"__ojr.$k")) ++ Seq(
      col("__ojl.__bucket") === col("__ojr.__bucket"),
      col(s"__ojl.$lStart") <= col(s"__ojr.$rEnd"),
      col(s"__ojr.$rStart") <= col(s"__ojl.$lEnd"),
      col("__ojl.__bucket") ===
        floor(greatest(col(s"__ojl.$lStart"), col(s"__ojr.$rStart"))
          / bucketWidth).cast("long"))).reduce(_ && _)
    val lCols = left.columns.map(c => col(s"__ojl.$c"))
    val rCols = right.columns.filterNot(equiKeys.contains)
      .map(c => col(s"__ojr.$c"))
    l.join(r, cond, "inner").select((lCols ++ rCols).toIndexedSeq: _*)
  }
}
