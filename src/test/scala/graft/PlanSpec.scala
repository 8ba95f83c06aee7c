package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression net: the scale properties argued in the
  * module docs (pushdown reaching the scan, dims broadcast, no
  * accidental nested loops) are asserted here so a future edit that
  * silently degrades a plan fails loudly. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: both the range predicate and the equality reach the parquet scan") {
    val plan = planOf("q02_filter")
    assert(plan.contains("PushedFilters:"), plan)
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("l_returnflag"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") ||
      pushed.contains("l_shipdate"), pushed)
  }

  test("q03: all three dimension joins broadcast; no sort-merge join") {
    val plan = planOf("q03_star")
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 3, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q36: ETL end-to-end plans no cartesian product or nested loop") {
    val plan = planOf("q36_esi_etl")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q45: range join is an equi-join, never a nested loop") {
    val plan = planOf("q45_range")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q52: indexed ANN probe prunes bucket partitions at planning time") {
    val plan = planOf("q52_ann_indexed")
    // the INDEX scan must carry a non-empty bucket partition filter
    // (the 1-row probe scan legitimately has none)
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters: [bucket")), s"no bucket pruning:\n$plan")
  }

  test("q53: indexed IVF probe prunes cell partitions at planning time") {
    val plan = planOf("q53_ivf_indexed")
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters: [cell")), s"no cell pruning:\n$plan")
  }

  test("q60: decontamination is a broadcast semi join — the corpus side never shuffles for the match") {
    val plan = planOf("q60_decontaminate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q67: vocabulary-sized count tables broadcast to the doc-bigram stream") {
    val plan = planOf("q67_lm_score")
    // both the bigram-count and unigram-count joins must be broadcast
    // (the corpus-side relation is the big one); AQE or static sizing
    // may pick either, so assert no SMJ rather than an exact count
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q01: aggregation is two-phase (partial before the exchange)") {
    val plan = planOf("q01_pricing")
    // partial_ aggregate functions appear below the exchange
    assert(plan.contains("partial_"), plan)
  }

  test("q91: CDC merge anti-probes the snapshot — AQE broadcasts the change keys") {
    val df = SparkEntry.queries("q91_cdc_merge")(spark, sf)
    df.collect() // materialize so AQE's FINAL plan is inspectable
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    // the runtime-small change-key side must end up broadcast: the
    // snapshot is probed map-side, never shuffled for the anti join
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"anti join did not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q93: heavy-hitter verify pass pushes the candidate In-filter to the scan") {
    val df = SparkEntry.queries("q93_heavy_hitters")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // phase 2 reads only candidate rows: the isin probe must reach the
    // parquet scan as a pushed In filter on user_id
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("In(user_id"), s"no pushed In filter:\n$plan")
  }
}
