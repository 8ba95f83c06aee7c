package graft.olap

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, ExprId, Expression, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** TRANSPARENT aggregate-table rewrite for plain SQL — the half of
  * Mondrian's aggregate-navigation contract that [[AggNavigator]]
  * alone doesn't cover. The reference's serving stack has TWO query
  * doors: MDX (Mondrian routes each drill to a registered rollup) and
  * raw SQL (Grafana → the warehouse, `docker-compose.yaml:20-47`) —
  * and real SQL rewrite engines (Mondrian's aggregate tables, Oracle
  * `QUERY REWRITE`, BigQuery/Databricks materialized views) answer
  * the SECOND door from rollups too, without the client changing its
  * SQL. [[CubeQuery.registerSql]] serves a PRE-compiled plan by view
  * name; this rule serves ANY `spark.sql` aggregate a BI tool writes
  * against the fact table itself:
  *
  * {{{
  * AggRoute.route(factPath, registry)      // once, after register()
  * spark.sql("SELECT anio, count(*) FROM fact_view GROUP BY anio")
  *   // plan now scans the dim-sized rollup — zero fact lineage
  * }}}
  *
  * Spark-first mechanics: a Catalyst optimizer rule (injected by
  * [[graft.GraftExtensions]], which every [[graft.Sessions]] session
  * carries) matches a logical `Aggregate` whose child scans a ROUTED
  * fact parquet path and rewrites it onto the smallest covering
  * [[AggNavigator.AggTable]],
  * re-aggregating the stored partials with each measure's `merge` —
  * the same bit-identical partial algebra `navigate` uses, so the
  * rewritten answer equals the fact answer exactly, not
  * approximately. The rewrite preserves the Aggregate's output
  * attributes (names, exprIds; a cast re-establishes the datatype if
  * partial widening changed it), so it is a drop-in subtree and the
  * rest of the plan never knows.
  *
  * WHAT MATCHES (everything else silently falls through to the fact —
  * wrong-rewrite risk is taken on NO query):
  *  - the Aggregate's child is the routed parquet relation, under any
  *    stack of column-pruning Projects and Filters;
  *  - Filters reference ONLY grain columns of the chosen rollup (a
  *    filter on grain columns selects whole fact groups at the
  *    rollup's grain, so it commutes with the partial aggregation —
  *    `WHERE anio >= 1996 GROUP BY anio` routes; `WHERE edad > 30`
  *    does not), are deterministic, and carry no subquery;
  *  - grouping expressions are plain fact columns (levels are stored
  *    columns, the star-schema contract);
  *  - every aggregate function in the output matches a DECLARED
  *    measure's `direct` expression (canonicalized-tree equality, so
  *    alias names and attribute ids don't matter) — scalar arithmetic
  *    ON TOP of matched measures and grouping columns is fine
  *    (`round(x) / y`, a renamed alias, a reordered projection), an
  *    UNDECLARED aggregate (`count(DISTINCT x)`, `max(edad)`) is not;
  *  - a pure `GROUP BY` with no aggregates (SELECT DISTINCT over
  *    levels) routes to `select(levels).distinct()` — the rollup
  *    holds every live member combination.
  *
  * Staleness is the navigator's existing contract: rollups absorb
  * loads through [[AggNavigator.refresh]] and [[AggNavigator.audit]]
  * verifies; this rule adds no new failure mode (it reads the same
  * tables `navigate` reads). Routing is process-global and path-keyed
  * — [[unroute]] (or [[clear]]) detaches a fact, e.g. before an
  * ad-hoc session that must measure the raw fact plan. */
object AggRoute {

  /** One declared measure's match signature: the canonicalized
    * `direct` expression (what user SQL must compute), its result
    * type, and the measure itself (whose `merge` re-derives it from
    * stored partials). */
  private final case class Sig(name: String,
      direct: Expression, dataType: org.apache.spark.sql.types.DataType,
      measure: AggNavigator.Measure)

  private final case class Route(reg: AggNavigator.Registry, sigs: Seq[Sig])

  /** Path-keyed routing table (the key is the scan's own root-path
    * string, extracted from an analyzed read of the fact so it
    * matches whatever qualification the scan applies). */
  private val routes =
    new java.util.concurrent.ConcurrentHashMap[String, Route]()

  /** The root path the scan of `path` (read as `df`) resolves to —
    * registration and match must agree on qualification ('file:/…'),
    * so both sides derive it the same way: from the relation. */
  private def scanRoot(df: DataFrame, path: String): String = {
    val rel = df.queryExecution.analyzed
      .collectFirst { case r: LogicalRelation => r }
      .getOrElse(throw new IllegalArgumentException(
        s"'$path' did not resolve to a file relation"))
    rootOf(rel).getOrElse(throw new IllegalArgumentException(
      s"'$path' resolved to a multi-root relation — route a single " +
        "table path"))
  }

  private def rootOf(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths match {
        case Seq(p) => Some(p.toString)
        case _ => None
      }
      case _ => None
    }

  /** Attach `reg`'s rollups to the fact table at `factPath`: every
    * eligible `spark.sql` aggregate over that path is rewritten onto
    * the smallest covering rollup from now on. The fact is read once
    * (its one footer-inference job is the whole cost of a route): the
    * routing key and the measure signatures both come from that
    * frame. Signatures are extracted from an OPTIMIZED probe plan so
    * they sit at the same fixpoint the user's expressions reach when
    * the rule compares them. Rewritten plans scan each rollup with
    * its [[AggNavigator.AggTable.schema]] from `reg`, so a routed
    * query reads no footer. A refresh never changes those schemas
    * (partials are stored at their fold type), so a route stays valid
    * across refreshes; re-route with the registry a refresh returns to
    * rank by its new row counts. Re-routing the same path replaces
    * the entry; the path is detached while signatures re-extract, so
    * the probe itself can never be answered from a rollup. */
  def route(factPath: String, reg: AggNavigator.Registry): Unit = {
    val fact = reg.spark.read.parquet(factPath)
    val key = scanRoot(fact, factPath)
    routes.remove(key)
    val sigs = reg.measures.map { m =>
      val plan = fact.groupBy().agg(m.direct).queryExecution.optimizedPlan
      val e = plan.collectFirst {
        case Aggregate(_, Seq(a: Alias), _, _) => a.child
      }.getOrElse(throw new IllegalStateException(
        s"measure '${m.name}' did not optimize to a single aggregate " +
          "expression — cannot build its rewrite signature"))
      Sig(m.name, norm(e), e.dataType, m)
    }
    val dup = sigs.groupBy(_.direct).filter(_._2.size > 1)
    require(dup.isEmpty,
      "measures " + dup.values.flatten.map(_.name).toSeq.sorted
        .mkString("[", ", ", "]") +
        " share one direct expression — the rewrite could not pick one")
    routes.put(key, Route(reg, sigs)): Unit
  }

  /** Detach the fact at `factPath` — subsequent queries plan against
    * the fact again. */
  def unroute(spark: SparkSession, factPath: String): Unit =
    routes.remove(scanRoot(spark.read.parquet(factPath), factPath)): Unit

  /** Detach every routed fact (test teardown, bulk re-registration). */
  def clear(): Unit = routes.clear()

  /** Attribute-id/name/case-blind canonical form: measure matching
    * must survive alias renames and fresh exprIds, and Spark's
    * session resolution is case-insensitive by default. Nullability
    * is erased too — the fact relation's column nullability varies
    * with how the view was built, never with what the measure means. */
  private def norm(e: Expression): Expression = e.transformUp {
    case a: AttributeReference =>
      AttributeReference(a.name.toLowerCase(Locale.ROOT), a.dataType,
        nullable = true)(ExprId(0L), Nil)
  }.canonicalized

  /** The optimizer rule. Runs inside the operator-optimization
    * fixpoint: a user expression that matches a signature only after
    * constant folding is caught on a later iteration; once rewritten,
    * the routed relation is gone from the subtree, so the rule is
    * idempotent by construction. */
  object Rewrite extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (routes.isEmpty) plan
      else plan.transformUp {
        case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
      }
  }

  /** Aggregate child → (filters, routed relation), through pruning
    * Projects. Renaming/computing Projects end the match — levels
    * are stored columns by contract. */
  private def decompose(p: LogicalPlan)
      : Option[(Seq[Expression], LogicalRelation)] = p match {
    case r: LogicalRelation => Some((Nil, r))
    case Project(list, c) if list.forall(_.isInstanceOf[AttributeReference]) =>
      decompose(c)
    case Filter(cond, c) =>
      decompose(c).map { case (cs, r) => (cond +: cs, r) }
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (conds, rel) = decompose(agg.child) match {
      case Some(x) => x
      case None => return None
    }
    val route = rootOf(rel).flatMap(r => Option(routes.get(r))) match {
      case Some(r) => r
      case None => return None
    }
    // grouping: plain stored columns only
    val groupAttrs: Seq[AttributeReference] =
      agg.groupingExpressions.map {
        case a: AttributeReference => a
        case _ => return None
      }
    // filters: deterministic, subquery-free, and over columns the
    // chosen rollup must carry in its grain (checked below)
    if (conds.exists(c => !c.deterministic ||
        c.exists(_.isInstanceOf[PlanExpression[_]]))) return None
    val filterCols = conds.flatMap(_.collect {
      case a: AttributeReference => a.name.toLowerCase(Locale.ROOT)
    }).distinct
    // output walk: replace maximal measure-matching subtrees with
    // placeholders; whatever remains must be scalar arithmetic over
    // grouping columns and placeholders
    val needed = scala.collection.mutable.LinkedHashMap.empty[String, Sig]
    val placeholders = scala.collection.mutable.Map.empty[ExprId, Sig]
    def replace(e: Expression): Expression =
      route.sigs.find(_.direct == norm(e)) match {
        case Some(sig) =>
          needed(sig.name) = sig
          val ph = AttributeReference(s"__m_${sig.name}", sig.dataType,
            nullable = true)()
          placeholders(ph.exprId) = sig
          ph
        case None => e.mapChildren(replace)
      }
    val groupIds = groupAttrs.map(_.exprId).toSet
    sealed trait Out
    final case class PassThrough(a: AttributeReference) extends Out
    final case class Rewritten(al: Alias, replaced: Expression) extends Out
    val outs: Seq[Out] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupIds.contains(a.exprId) =>
        PassThrough(a)
      case al: Alias =>
        val replaced = replace(al.child)
        val ok = !replaced.exists(_.isInstanceOf[AggregateExpression]) &&
          replaced.deterministic &&
          replaced.references.forall(r => groupIds.contains(r.exprId) ||
            placeholders.contains(r.exprId))
        if (!ok) return None
        Rewritten(al, replaced)
      case _ => return None
    }
    // smallest rollup whose grain covers grouping ∪ filter columns —
    // the navigator's own routing order
    val need = (groupAttrs.map(_.name.toLowerCase(Locale.ROOT)) ++
      filterCols).distinct
    val table = route.reg.aggs
      .filter(a => need.forall(n => a.grain.exists(_.equalsIgnoreCase(n))))
      .sortBy(a => (a.rows, a.name)).headOption match {
      case Some(t) => t
      case None => return None
    }
    // ---- build the replacement: rollup scan → filters → merge ----
    val spark = route.reg.spark
    val base = table.read(spark)
    val byName: Map[String, Attribute] = base.queryExecution.analyzed
      .output.map(a => a.name.toLowerCase(Locale.ROOT) -> a).toMap
    def onRollup(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => byName(a.name.toLowerCase(Locale.ROOT))
    }
    val filtered = conds.foldLeft(base)((df, c) =>
      df.filter(org.apache.spark.sql.graft.Bridge.column(onRollup(c))))
    val distinctGroups = groupAttrs.map(_.name).distinct
    val merges = needed.values.toSeq.map(s =>
      s.measure.merge.as(s"__m_${s.name}"))
    val rep: LogicalPlan =
      if (merges.isEmpty) {
        // pure GROUP BY (SELECT DISTINCT over levels): built as an
        // Aggregate NODE directly — a Dataset.distinct() would inject
        // a Deduplicate, whose replace-with-Aggregate rule lives in
        // an EARLIER optimizer batch and never runs again for a
        // subtree introduced mid-optimization
        val child = filtered.select(distinctGroups.map(col): _*)
          .queryExecution.analyzed
        Aggregate(child.output, child.output, child)
      } else {
        val grouped =
          if (distinctGroups.isEmpty) filtered.agg(merges.head, merges.tail: _*)
          else filtered.groupBy(distinctGroups.map(col): _*)
            .agg(merges.head, merges.tail: _*)
        grouped.queryExecution.analyzed
      }
    val repByName: Map[String, Attribute] =
      rep.output.map(a => a.name.toLowerCase(Locale.ROOT) -> a).toMap
    // ---- re-establish the original output contract: same names,
    // same exprIds (a drop-in subtree), a cast where partial
    // widening changed a type ----
    def pin(child: Expression, orig: NamedExpression): NamedExpression = {
      val typed =
        if (child.dataType == orig.dataType) child
        else Cast(child, orig.dataType)
      Alias(typed, orig.name)(exprId = orig.exprId)
    }
    val projections: Seq[NamedExpression] = outs.map {
      case PassThrough(a) =>
        pin(repByName(a.name.toLowerCase(Locale.ROOT)), a)
      case Rewritten(al, replaced) =>
        val sub = replaced.transformUp {
          case p: AttributeReference if placeholders.contains(p.exprId) =>
            repByName(p.name.toLowerCase(Locale.ROOT))
          case g: AttributeReference =>
            repByName(g.name.toLowerCase(Locale.ROOT))
        }
        pin(sub, al)
    }
    Some(Project(projections, rep))
  }
}
