package graft.olap

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Mondrian-cube query semantics (`Schema_Trabajo_Final.xml:2-91`) over
  * a star-joined DataFrame: drill-down hierarchies are ordered column
  * lists; the "All" member and level subtotals come from `rollup` +
  * `grouping`; measures are plain aggregates (count / avg in the
  * reference; any `Column` aggregate here).
  *
  * All of this is pure Catalyst: `rollup` compiles to an Expand +
  * partial/final HashAggregate, which map-side combines before the
  * shuffle — the right plan at any scale.
  */
object Cube {

  final case class Hierarchy(name: String, levels: Seq[String])

  /** Slice at explicit levels: a plain groupBy (no subtotals). */
  def slice(wide: DataFrame, levels: Seq[String], measures: Seq[Column],
      slicers: Seq[Column] = Nil): DataFrame = {
    val base = slicers.foldLeft(wide)(_.filter(_))
    base.groupBy(levels.map(col): _*).agg(measures.head, measures.tail: _*)
  }

  /** Drill-down with subtotals + grand total ("All" member): rollup over
    * the hierarchy prefix. `level_mask` identifies the subtotal depth
    * (0 = leaf row, higher bits = rolled-up levels), mirroring
    * Mondrian's member levels. */
  def drillDown(wide: DataFrame, hierarchy: Hierarchy, measures: Seq[Column],
      depth: Int): DataFrame = {
    val levels = hierarchy.levels.take(depth)
    // grouping_id() is only resolvable inside the rollup's own agg list
    // (not a downstream projection); its bitmask has the first rollup
    // column as the most significant bit — exactly the level mask.
    val aggs = measures :+ grouping_id().cast("long").as("level_mask")
    wide.rollup(levels.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Cross-hierarchy cube (every subtotal combination). */
  def cube2(wide: DataFrame, a: String, b: String, measures: Seq[Column]): DataFrame = {
    val aggs = measures :+ grouping_id().cast("long").as("level_mask")
    wide.cube(col(a), col(b)).agg(aggs.head, aggs.tail: _*)
  }

  /** The WHOLE Mondrian serving surface in one pass: every prefix of
    * every hierarchy (each drill-down's member set) plus the `hasAll`
    * grand total, as a single GROUPING SETS aggregate keyed by
    * `grouping_id()` (`gid`). `always` columns (the cube/fact tag) are
    * grouped in EVERY set, so one call serves several cubes
    * member-for-member. Mondrian answers each MDX drill with its own
    * generated SQL — one scan and one shuffle per slice; this
    * materializes the entire member space with ONE scan + ONE
    * partial/final aggregate. The Expand replicates each fact row once
    * per grouping set map-side, but partial aggregation collapses to
    * member cardinality before the exchange, so shuffle bytes stay
    * dim-sized at any fact scale — the same argument as
    * [[graft.etl.EsiEtl.buildWarehouse]]'s five-distincts-in-one-pass.
    * `gid` bit order: `always ++ hierarchy levels` left-to-right, most
    * significant bit first (Spark's grouping_id contract), `always`
    * bits always 0. */
  def memberSets(wide: DataFrame, hierarchies: Seq[Hierarchy],
      measures: Seq[Column], always: Seq[String] = Nil): DataFrame = {
    val prefixes: Seq[Seq[String]] =
      Seq.empty[String] +: hierarchies.flatMap(h =>
        (1 to h.levels.size).map(h.levels.take(_)))
    val groupCols = (always ++ hierarchies.flatMap(_.levels)).distinct
    val sets = prefixes.map(p => (always ++ p).map(col))
    val aggs = measures :+ grouping_id().cast("long").as("gid")
    wide.groupingSets(sets, groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** DRILL-THROUGH — from one member-space cell back to the FACT ROWS
    * behind it (Mondrian's DrillThrough / MDX DRILLTHROUGH: the
    * analyst double-clicks an aggregate cell and gets the underlying
    * transactions). The cell is identified exactly as [[memberSets]] /
    * [[graft.olap.AggNavigator.navigateSets]] emit it: the full level
    * list, the cell's `gid`, and the cell row's level values — because
    * a NULL level value is AMBIGUOUS on its own: the gid bit says
    * whether the level was ROLLED UP in this cell (no predicate at
    * all) or grouped with a GENUINE null member (an `IS NULL`
    * predicate). Getting that wrong silently returns the wrong rows —
    * the whole reason drill-through takes the gid, not just the
    * values.
    *
    * Aggregate tables can never answer this (they hold partials, not
    * rows), so drill-through always reads the fact — but as a pure
    * conjunctive filter the predicate pushes to the scan
    * (PushedFilters when the levels are physical columns;
    * PartitionFilters under a level-partitioned layout), so one cell's
    * rows cost a pruned scan, not a corpus pass. Gid bit order is the
    * [[memberSets]] contract: first level = most significant bit. */
  def drillThrough(fact: DataFrame, allLevels: Seq[String], gid: Long,
      values: Map[String, Any]): DataFrame = {
    val n = allLevels.size
    require(gid >= 0 && gid < (1L << n), s"gid $gid out of range for $n levels")
    // the grouped levels must ALL be present in `values` (an explicit
    // null meaning the null member) and no unknown keys may ride along
    // — a forgotten or typo'd level key would otherwise silently turn
    // into an IS NULL predicate and return the wrong transactions,
    // exactly the bug class this API exists to prevent
    val unknown = values.keySet -- allLevels.toSet
    require(unknown.isEmpty,
      s"values for unknown levels: ${unknown.toSeq.sorted.mkString(", ")}")
    val grouped = allLevels.zipWithIndex.collect {
      case (c, i) if (gid & (1L << (n - 1 - i))) == 0 => c
    }
    val missing = grouped.filterNot(values.contains)
    require(missing.isEmpty,
      s"cell values missing for grouped levels: ${missing.mkString(", ")} " +
        "— pass an explicit null for a genuine null member")
    // a NON-NULL value for a rolled-up level contradicts the gid (a
    // member-space cell row always carries null there): the caller's
    // gid is stale or miscomputed, and silently ignoring the value
    // would return a SUPERSET of the cell they think they drilled
    val contradicted = allLevels.zipWithIndex.collect {
      case (c, i) if (gid & (1L << (n - 1 - i))) != 0 &&
        values.get(c).exists(_ != null) => c
    }
    require(contradicted.isEmpty,
      s"non-null values supplied for levels rolled up by gid $gid: " +
        s"${contradicted.mkString(", ")} — the gid and the cell values disagree")
    grouped.map { c =>
      values(c) match {
        case null => col(c).isNull // genuine null member
        case v => col(c) === lit(v)
      }
    }.foldLeft(fact)(_.filter(_))
  }

  /** INCREMENTAL maintenance of a [[memberSets]] result — the
    * materialized-cube counterpart of the q82 base⊕delta pattern:
    * each input is a member-set relation of MERGEABLE partial stats
    * (counts and decimal sums add; an avg re-derives from sum/count
    * at the read edge), typically the served base plus one append
    * batch's partials. The merge re-groups on the member identity —
    * every grouping column PLUS `gid` — so a level value that is
    * genuinely NULL in the data can never collide with the
    * same-position rolled-up NULL (their gid bits differ). Per append
    * this costs O(batch + member space): the batch's own
    * grouping-sets pass collapses map-side to member cardinality and
    * the merge shuffles only member-sized relations — the fact table
    * is never rescanned, which at a 100 TB cube is the difference
    * between touching one arriving batch and touching the corpus. */
  def mergeMemberSets(partials: Seq[DataFrame], groupCols: Seq[String],
      mergeAggs: Seq[Column]): DataFrame = {
    require(partials.nonEmpty, "nothing to merge")
    partials.reduce(_.unionByName(_))
      .groupBy((groupCols :+ "gid").map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
  }
}
