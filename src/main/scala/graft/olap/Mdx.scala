package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A minimal MDX front end over [[CubeQuery]] — the TEXT-language
  * face the reference's users actually type: Mondrian compiles MDX
  * against the cube declarations of `Schema_Trabajo_Final.xml:2-91`
  * (hierarchies fecha/frontera/transporte/…, measures
  * cantidad_movimientos/promedio_edades). [[CubeQuery.fromJson]]
  * (r15) closed the wire for programmatic clients; this closes the
  * human/BI-tool side for the drill shape. NO new execution
  * machinery: an MDX statement parses into a [[CubeQuery.Query]] and
  * lowers through the same routed/direct plans every cube test pins —
  * a registry-backed cube answers an MDX drill with zero fact lineage
  * exactly like its JSON twin (spec-asserted).
  *
  * The SUBSET, stated precisely (everything else is rejected loudly,
  * never mis-served):
  *
  * {{{
  * ( WITH ( MEMBER [Measures].[alias] AS '<expr>' )+ )?
  * SELECT <axis> ON COLUMNS, <axis> ON ROWS
  * FROM [cube]
  * ( WHERE ( [Hier].[level].[value] (, [Hier].[level].[value])* ) )?
  *
  * <axis>    := ( NON EMPTY )? <setexpr>        -- NON EMPTY: ROWS only
  * <setexpr> := TOPCOUNT( <setexpr> , <int> , <mexpr> )
  *            | BOTTOMCOUNT( <setexpr> , <int> , <mexpr> )
  *            | ORDER( <setexpr> , <mexpr> (, ASC|DESC|BASC|BDESC)? )
  *            | FILTER( <setexpr> , '<condition>' )
  *            | CROSSJOIN( <rowset>, <rowset> )
  *            | { <item> (, <item>)* }
  * <item>    := [Hier].[level].Members          -- all members
  *            | [Hier].[level].[member]         -- one member literal
  *            | [Measures].[alias]              -- COLUMNS only
  * <mexpr>   := [Measures].[alias] | '<expression>'
  *
  * DRILLTHROUGH ( MAXROWS <int> )?
  * SELECT { [Measures].[alias], … } ON COLUMNS,
  *        { [Hier].[level].[member] (, …)* } ON ROWS   -- ONE cell
  * FROM [cube] ( WHERE ( <member>+ ) )?
  * ( RETURN [col] (, [col])* )?
  * }}}
  *
  *  - `DRILLTHROUGH` is Mondrian's other statement type: from one
  *    CELL back to the fact rows behind it (the Scala sibling is
  *    [[Cube.drillThrough]], which additionally validates a gid
  *    against a member-space row). The cell is the conjunction of
  *    the axis member literals and the WHERE tuple — each value
  *    typed by the cube column with the slicer rules; `.Members`,
  *    set unions, set functions and NON EMPTY are rejected (they
  *    name many cells). `RETURN` projects fact columns; `MAXROWS`
  *    caps the row count. This is the ONE statement that always
  *    reads the fact — row-level retrieval cannot be served from
  *    stored partials, so a routed cube's fact thunk is forced here
  *    by design. The COLUMNS measure list is accepted for
  *    Mondrian-shape compatibility and does not change the returned
  *    rows (a drill-through returns transactions, not aggregates).
  *
  *  - `[Hier].[level].Members` groups by the hierarchy's level PREFIX
  *    down to `level` (member identity in a hierarchy includes its
  *    ancestors — `[fecha].[mes_movi].Members` is per (anio, mes),
  *    which is exactly what Mondrian's generated SQL groups by for a
  *    snowflaked level).
  *  - `[Hier].[level].[member]` on an AXIS selects individual CELLS:
  *    the drill still runs at the level's prefix grain and the
  *    selection is a POST-AGGREGATION filter on the level column —
  *    so a ROUTED cube serves it from stored partials with zero fact
  *    lineage (cell selection, unlike a slicer, never refilters the
  *    fact). Several literals of one level in a braced set are one
  *    member set restricted to those values; a literal beside the
  *    same level's `.Members` is absorbed (all members ⊇ any
  *    literal). Values type by the CUBE COLUMN, exactly like slicer
  *    values. Literals are only accepted when the ROWS axis lowers
  *    to a SINGLE member set (a drill, possibly crossjoined) — in a
  *    set UNION they are rejected loudly.
  *  - a ROWS axis of ONE set is a drill ([[CubeQuery.Query]]'s
  *    `grain`); a set UNION (`{a.Members, b.Members}`) is several
  *    member sets, lowered to the `sets` face — ONE GROUPING SETS
  *    pass direct, or per-set aggregate-table routing when the cube
  *    carries a registry — with the [[Cube.memberSets]] `gid` column
  *    riding in the output as the cell identity. CROSSJOIN
  *    distributes over unions the MDX way: each operand's sets pair
  *    off into concatenated grains.
  *  - the COLUMNS axis names a SUBSET of the cube's measures by
  *    output alias — selection happens on the aggregated result, so
  *    routed cubes keep serving stored partials untouched.
  *  - `WITH MEMBER [Measures].[x] AS '<expr>'` declares a CALCULATED
  *    member: a post-aggregation projection over the cube's measure
  *    aliases, applied AFTER the aggregate (so it works identically
  *    on direct, routed, drill and set-union queries — a ratio of
  *    stored partials never touches the fact). The expression is
  *    SQL, with `[Measures].[alias]` references rewritten to the
  *    alias first so MDX-style text reads naturally; it is GATED
  *    through the same function allowlist as the JSON wire
  *    ([[CubeQuery.DefaultWireFunctions]]) — MDX arrives as untrusted
  *    text, and a calculated member must shape cells, not execute
  *    code. Calculated members are selectable on COLUMNS like any
  *    measure; names must not collide with existing columns (checked
  *    with the SESSION's resolver — under default case-insensitive
  *    resolution `[N]` collides with measure `n`, because
  *    `withColumn` would silently REPLACE it otherwise).
  *  - `TOPCOUNT`/`BOTTOMCOUNT`/`ORDER`/`FILTER` are SET FUNCTIONS
  *    over the aggregated cells — post-aggregation sorts/filters, so
  *    they too are routed-safe and may reference calculated members.
  *    They must wrap the WHOLE ROWS axis (not a CROSSJOIN operand —
  *    inside an operand their measure context is undefined in this
  *    subset and they are rejected loudly). Applied innermost-first.
  *    Determinism: TOPCOUNT sorts the measure DESC (BOTTOMCOUNT ASC),
  *    null measures LAST either way, then breaks ties by the grain
  *    columns ascending — the selected top-n is a function of the
  *    data, never of partitioning. ORDER accepts ASC/DESC/BASC/BDESC
  *    (the B-variants equal the plain ones here — this subset has no
  *    hierarchical display order to break) and appends the same
  *    tie-break. FILTER's condition is a QUOTED expression (the WITH
  *    MEMBER convention; unquoted MDX conditions are outside the
  *    subset) over measure references, gated like every other wire
  *    expression.
  *  - `NON EMPTY` before the ROWS set drops cells where EVERY
  *    SELECTED measure (calculated members included) is null —
  *    Mondrian's empty-tuple pruning. Applied AFTER set functions
  *    (a TOPCOUNT keeps its rank-n cells, then empties drop).
  *  - the WHERE tuple is a slicer: equality on the named level's
  *    column, applied pre-aggregation. On a routed cube it is served
  *    from stored partials when the covering table's grain carries
  *    the slicer's level ([[CubeQuery.run]]'s commute, r16 — exactly
  *    Mondrian's sliced-query-from-agg-tables behavior), and from
  *    the navigator's fact fallback otherwise. The
  *    value types by the CUBE COLUMN — cast to its type, with a named
  *    error when a numeric column gets a non-numeric value — never by
  *    the value's shape (an all-digits literal against a string level
  *    stays a string: '7' and '007' are distinct members).
  *
  * Axes may appear in either order; keywords are case-insensitive;
  * axis numbers (`ON 0`/`ON 1`) are not supported.
  *
  * The CATALOG split mirrors Mondrian's: `catalog` maps cube names to
  * fact/measure/registry bindings (the schema file's role, lives in
  * code) and `schema` declares each cube's hierarchies — the MDX
  * document is only ever the QUERY. */
object Mdx {

  /** One `[Hier].[level].[value]` slicer member. */
  final case class Member(hierarchy: String, level: String, value: String)

  /** A parsed `DRILLTHROUGH` statement: the ONE cell named by the
    * axis/slicer member literals, an optional row cap, and the
    * optional RETURN projection. */
  final case class DrillParsed(cube: String, maxRows: Option[Int],
      cell: Seq[Member], ret: Seq[String])

  /** One axis selection: a hierarchy level with either ALL members
    * (`members = None`, the `.Members` form) or an explicit literal
    * list (`Some(values)`). */
  final case class LevelSel(hierarchy: String, level: String,
      members: Option[Seq[String]])

  /** A post-aggregation set operation on the ROWS axis, applied
    * innermost-first. `expr` fields hold the raw expression TEXT
    * (measure references unrewritten) — gated at run time. */
  sealed trait PostOp
  final case class TopCountOp(n: Int, expr: String,
      bottom: Boolean) extends PostOp
  final case class OrderByOp(expr: String, desc: Boolean) extends PostOp
  final case class FilterOp(expr: String) extends PostOp

  /** The parsed statement, pre-validation: calculated members
    * (alias → SQL-ish expression text), measures by alias, the ROWS
    * axis as a UNION of sets — each set a crossjoined list of
    * [[LevelSel]]s — plus its set functions and NON EMPTY flag, and
    * slicer members. A single-element union is a plain drill. */
  final case class Parsed(cube: String, calc: Seq[(String, String)],
      measures: Seq[String], rows: Seq[Seq[LevelSel]],
      slicers: Seq[Member], postOps: Seq[PostOp] = Nil,
      nonEmpty: Boolean = false)

  /** `[Measures].[alias]` references inside a calculated member's /
    * set function's expression, rewritten to the bare alias before
    * SQL parsing. */
  private val MeasureRefRe = """\[Measures\]\.\[([^\]]+)\]""".r

  /** Parse + compile + run + select the requested measures (plus the
    * `gid` cell identity when the ROWS axis is a set union).
    * Calculated-member / set-function expressions are gated through
    * `allowedFunctions` exactly like JSON-wire expressions.
    *
    * Post-aggregation pipeline order (each step routed-safe):
    * member-literal cell selection → calculated members → measure
    * validation → set functions (innermost-first) → NON EMPTY →
    * measure projection. */
  def run(mdx: String, catalog: Map[String, CubeQuery.CubeRef],
      schema: Map[String, Seq[Cube.Hierarchy]],
      allowedFunctions: Set[String] = CubeQuery.DefaultWireFunctions)
      : DataFrame = {
    val toks = tokenize(mdx)
    if (toks.headOption.exists {
      case TIdent(s) => s.equalsIgnoreCase("DRILLTHROUGH")
      case _ => false
    }) return runDrill(new Parser(toks).drillthrough(), catalog, schema)
    val p = new Parser(toks).statement()
    val q = toQuery(p, catalog, schema)
    def gate(text: String, where: String): Column = {
      val sql = MeasureRefRe.replaceAllIn(text,
        m => scala.util.matching.Regex.quoteReplacement(m.group(1)))
      CubeQuery.safeWireExpr(sql, where, allowedFunctions)
    }
    val agg0 = CubeQuery.run(q)
    // member-literal cell selection: typed by the aggregated OUTPUT's
    // own column (never the fact's — a routed drill's fact plan is
    // not even built), with the same driver-side legacy-Cast check as
    // slicer values so a malformed literal is a named error, not a
    // silently empty selection
    val constrained = p.rows.flatten.filter(_.members.isDefined)
    val agg = if (constrained.isEmpty) agg0 else {
      val resolver = agg0.sparkSession.sessionState.analyzer.resolver
      val tz = agg0.sparkSession.sessionState.conf.sessionLocalTimeZone
      constrained.foldLeft(agg0) { (df, sel) =>
        val field = agg0.schema.find(f => resolver(f.name, sel.level))
          .getOrElse(throw new IllegalArgumentException(
            s"level '[${sel.level}]' is not a column of the " +
              s"aggregated result (columns: " +
              s"${agg0.schema.fieldNames.mkString(", ")})"))
        val vals = sel.members.get
        vals.foreach { v =>
          val casted = org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(v),
            field.dataType, Option(tz),
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
          require(casted.eval(null) != null,
            s"member value '[$v]' does not cast to " +
              s"${field.dataType.simpleString} for level '[${sel.level}]'")
        }
        df.filter(col(field.name).isin(
          vals.map(v => lit(v).cast(field.dataType)): _*))
      }
    }
    val withCalc = p.calc.foldLeft(agg) { case (df, (alias, exprText)) =>
      // the SESSION's resolver, not string equality: under default
      // case-insensitive resolution withColumn REPLACES a column
      // differing only in case — [Cantidad] must collide with
      // measure cantidad, never silently overwrite it
      val resolver = df.sparkSession.sessionState.analyzer.resolver
      require(!df.columns.exists(c => resolver(c, alias)),
        s"calculated member [$alias] collides with an existing " +
          s"column of cube '${p.cube}'")
      df.withColumn(alias, gate(exprText, s"calculated member [$alias]"))
    }
    val keyCols =
      if (q.sets.nonEmpty) q.sets.flatten.distinct :+ "gid" else q.grain
    val missing = p.measures.filterNot(withCalc.columns.contains)
    require(missing.isEmpty,
      s"measure(s) ${missing.mkString("[", "], [", "]")} are not " +
        s"produced by cube '${p.cube}' (available: " +
        s"${withCalc.columns.filterNot(keyCols.contains).mkString(", ")})")
    // set functions: post-aggregation, innermost-first, deterministic
    // via the grain-column tie-break (and gid for a set union)
    val tieBreak = keyCols.map(c => col(c).asc_nulls_first)
    val shaped = p.postOps.foldLeft(withCalc) { (df, op) =>
      op match {
        case FilterOp(cond) =>
          df.filter(gate(cond, "FILTER condition"))
        case OrderByOp(e, desc) =>
          val m = gate(e, "ORDER expression")
          df.orderBy((if (desc) m.desc else m.asc) +: tieBreak: _*)
        case TopCountOp(n, e, bottom) =>
          val name = if (bottom) "BOTTOMCOUNT" else "TOPCOUNT"
          val m = gate(e, s"$name expression")
          // null measures sort LAST both ways: a cell with no value
          // is never "top" and only reaches a BOTTOMCOUNT after
          // every valued cell
          val primary = if (bottom) m.asc_nulls_last else m.desc_nulls_last
          df.orderBy(primary +: tieBreak: _*).limit(n)
      }
    }
    val pruned =
      if (!p.nonEmpty) shaped
      else shaped.filter(
        p.measures.map(m => col(m).isNotNull).reduce(_ || _))
    pruned.select((keyCols ++ p.measures).map(col): _*)
  }

  /** Compile a [[Parsed]] statement onto the declarative front door,
    * validating every hierarchy/level against the cube's schema.
    * Member literals do not shape the [[CubeQuery.Query]] — they are
    * applied by [[run]] as post-aggregation cell selection. */
  def toQuery(p: Parsed, catalog: Map[String, CubeQuery.CubeRef],
      schema: Map[String, Seq[Cube.Hierarchy]]): CubeQuery.Query = {
    val ref = catalog.getOrElse(p.cube, throw new IllegalArgumentException(
      s"cube '[${p.cube}]' is not in the catalog (available: " +
        s"${catalog.keys.toSeq.sorted.mkString(", ")})"))
    val hiers = schema.getOrElse(p.cube, throw new IllegalArgumentException(
      s"cube '[${p.cube}]' has no hierarchy schema (declared: " +
        s"${schema.keys.toSeq.sorted.mkString(", ")})"))
    val byName = hiers.map(h => h.name -> h).toMap
    def resolve(hn: String, lvl: String): Cube.Hierarchy = {
      val h = byName.getOrElse(hn, throw new IllegalArgumentException(
        s"hierarchy '[$hn]' is not declared for cube '${p.cube}' " +
          s"(declared: ${hiers.map(_.name).mkString(", ")})"))
      require(h.levels.contains(lvl),
        s"level '[$lvl]' is not in hierarchy '[$hn]' (levels: " +
          s"${h.levels.mkString(", ")})")
      h
    }
    // each (hierarchy, level) expands to its level PREFIX; a
    // single-set ROWS axis is a drill (grain), a union is the
    // explicit-sets face with its per-set grains
    val expanded: Seq[Seq[String]] = p.rows.map(_.flatMap { sel =>
      val h = resolve(sel.hierarchy, sel.level)
      h.levels.take(h.levels.indexOf(sel.level) + 1)
    }.distinct)
    require(expanded.nonEmpty && expanded.forall(_.nonEmpty),
      "the ROWS axis produced an empty grain")
    // member literals select cells of ONE set's member space; in a
    // union the selection would need the per-set gid discriminator —
    // outside this subset, rejected rather than mis-served
    require(p.rows.size == 1 ||
      !p.rows.exists(_.exists(_.members.isDefined)),
      "member literals on the ROWS axis are only supported on a " +
        "single-set axis (a drill, possibly crossjoined) — a set " +
        "UNION selects whole member sets")
    val (grain, sets) =
      if (expanded.size == 1) (expanded.head, Nil)
      else (Nil, expanded)
    // slicers on a ROUTED cube serve from stored partials when a
    // registered table's grain carries the slicer's level (the
    // CubeQuery.run commute, r16), and from the navigator's fact
    // fallback otherwise.
    // memoize the fact thunk: the slicer typing below may read its
    // schema and CubeQuery.run forces it again — unmemoized, every
    // sliced MDX query would build the (possibly warehouse-sized)
    // fact plan twice on the driver
    val memoRef = { lazy val df = ref.fact(); ref.copy(fact = () => df) }
    // slicer values type by the CUBE COLUMN, not by the value's shape:
    // guessing "all digits → number" would CAST a string-typed level
    // for the comparison and conflate distinct members ('7' vs '007')
    // — silent mis-service. The literal is cast to the column's own
    // type instead, and the SAME legacy-mode Cast the comparison
    // will run is evaluated driver-side first: any value it would
    // silently null out — out-of-range integers, malformed dates,
    // non-numeric decimals, garbled booleans — is a NAMED error here
    // instead of a silently empty drill. The type comes from the
    // REGISTRY's written rollup schemas when the cube is routed and a
    // rollup carries the level (so a partials-served sliced drill
    // never constructs the fact lineage, not even for its schema);
    // only a level no rollup carries falls back to the fact schema —
    // the same lazy-resolution contract as navigateSets' null slots.
    val slicers =
      if (p.slicers.isEmpty) Nil
      else {
        val spark = ref.registry.map(_.spark)
          .getOrElse(org.apache.spark.sql.SparkSession.active)
        // the session's resolution rules, not bare string equality —
        // under default case-insensitive resolution a level declared
        // 'Anio' must find column 'anio' exactly as col() would
        val resolver = spark.sessionState.analyzer.resolver
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val grainFields = ref.registry.toSeq.flatMap(_.aggs.flatMap(_.grainFields))
        lazy val factSchema = memoRef.fact().schema
        p.slicers.map { m =>
          resolve(m.hierarchy, m.level): Unit
          val (colName, dt) = grainFields.find(f => resolver(f.name, m.level))
            .orElse(factSchema.find(f => resolver(f.name, m.level)))
            .map(f => f.name -> f.dataType)
            .getOrElse(throw new IllegalArgumentException(
              s"slicer level '[${m.level}]' is not a column of cube " +
                s"'${p.cube}' (columns: " +
                s"${factSchema.fieldNames.mkString(", ")})"))
          val casted = org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(m.value),
            dt, Option(tz),
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
          require(casted.eval(null) != null,
            s"slicer value '[${m.value}]' does not cast to " +
              s"${dt.simpleString} for level '[${m.level}]'")
          col(colName) === lit(m.value).cast(dt)
        }
      }
    CubeQuery.Query(cube = memoRef, grain = grain, sets = sets,
      slicers = slicers)
  }

  // ------------------------------------------------------------------
  // lexer + recursive-descent parser
  // ------------------------------------------------------------------

  private sealed trait Tok
  private final case class TBracket(s: String) extends Tok // [x]
  private final case class TIdent(s: String) extends Tok // bare word
  private final case class TSym(c: Char) extends Tok // { } ( ) , .
  private final case class TStr(s: String) extends Tok // '...'
  private final case class TNum(s: String) extends Tok // 123

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '[') {
        val j = s.indexOf(']', i + 1)
        require(j >= 0, s"unterminated '[' at offset $i")
        out += TBracket(s.substring(i + 1, j)); i = j + 1
      } else if (c == '\'') {
        // calculated-member expression text; no escape sequences —
        // SQL string literals inside would need doubling, which the
        // gate's parser does not see anyway (wire exprs are over
        // measure aliases and numbers)
        val j = s.indexOf('\'', i + 1)
        require(j >= 0, s"unterminated quote at offset $i")
        out += TStr(s.substring(i + 1, j)); i = j + 1
      } else if ("{}(),.".indexOf(c.toInt) >= 0) {
        out += TSym(c); i += 1
      } else if (c.isDigit) {
        var j = i
        while (j < s.length && s(j).isDigit) j += 1
        out += TNum(s.substring(i, j)); i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < s.length && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
        out += TIdent(s.substring(i, j)); i = j
      } else throw new IllegalArgumentException(
        s"unexpected character '$c' at offset $i in MDX")
    }
    out.result()
  }

  /** Parse one SELECT statement of the documented subset. */
  def parse(mdx: String): Parsed = new Parser(tokenize(mdx)).statement()

  /** Parse one DRILLTHROUGH statement of the documented subset. */
  def parseDrillthrough(mdx: String): DrillParsed =
    new Parser(tokenize(mdx)).drillthrough()

  /** Execute a parsed DRILLTHROUGH: filter the FACT to the named
    * cell (typed member equality, the slicer rules), project the
    * RETURN columns, cap at MAXROWS. Reads the fact by definition —
    * row-level retrieval is the one statement stored partials can
    * never answer, so a routed cube's fact thunk IS forced here. */
  private def runDrill(d: DrillParsed,
      catalog: Map[String, CubeQuery.CubeRef],
      schema: Map[String, Seq[Cube.Hierarchy]]): DataFrame = {
    val ref = catalog.getOrElse(d.cube, throw new IllegalArgumentException(
      s"cube '[${d.cube}]' is not in the catalog (available: " +
        s"${catalog.keys.toSeq.sorted.mkString(", ")})"))
    val hiers = schema.getOrElse(d.cube, throw new IllegalArgumentException(
      s"cube '[${d.cube}]' has no hierarchy schema (declared: " +
        s"${schema.keys.toSeq.sorted.mkString(", ")})"))
    val byName = hiers.map(h => h.name -> h).toMap
    d.cell.foreach { m =>
      val h = byName.getOrElse(m.hierarchy,
        throw new IllegalArgumentException(
          s"hierarchy '[${m.hierarchy}]' is not declared for cube " +
            s"'${d.cube}' (declared: ${hiers.map(_.name).mkString(", ")})"))
      require(h.levels.contains(m.level),
        s"level '[${m.level}]' is not in hierarchy " +
          s"'[${m.hierarchy}]' (levels: ${h.levels.mkString(", ")})")
    }
    // two coordinates for one level either repeat (noise) or
    // contradict (an always-empty cell) — both are caller mistakes,
    // named rather than mis-served
    val dup = d.cell.groupBy(_.level).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"duplicate cell coordinate(s) for level(s) ${dup.toSeq.sorted
        .mkString("[", "], [", "]")}")
    val fact = ref.fact()
    val resolver = fact.sparkSession.sessionState.analyzer.resolver
    val tz = fact.sparkSession.sessionState.conf.sessionLocalTimeZone
    val filtered = d.cell.foldLeft(fact) { (df, m) =>
      val field = fact.schema.find(f => resolver(f.name, m.level))
        .getOrElse(throw new IllegalArgumentException(
          s"cell level '[${m.level}]' is not a column of cube " +
            s"'${d.cube}' (columns: " +
            s"${fact.schema.fieldNames.mkString(", ")})"))
      val casted = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(m.value),
        field.dataType, Option(tz),
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
      require(casted.eval(null) != null,
        s"cell value '[${m.value}]' does not cast to " +
          s"${field.dataType.simpleString} for level '[${m.level}]'")
      df.filter(col(field.name) === lit(m.value).cast(field.dataType))
    }
    val projected =
      if (d.ret.isEmpty) filtered
      else filtered.select(d.ret.map { c =>
        val field = fact.schema.find(f => resolver(f.name, c))
          .getOrElse(throw new IllegalArgumentException(
            s"RETURN column '[$c]' is not a column of cube " +
              s"'${d.cube}' (columns: " +
              s"${fact.schema.fieldNames.mkString(", ")})"))
        col(field.name)
      }: _*)
    d.maxRows.fold(projected)(projected.limit)
  }

  private val SetFns = Seq("TOPCOUNT", "BOTTOMCOUNT", "ORDER", "FILTER")

  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0

    private def peek: Option[Tok] = toks.lift(pos)
    private def next(): Tok = {
      val t = toks.lift(pos).getOrElse(throw new IllegalArgumentException(
        "unexpected end of MDX statement"))
      pos += 1; t
    }
    private def keyword(kw: String): Unit = next() match {
      case TIdent(s) if s.equalsIgnoreCase(kw) => ()
      case t => throw new IllegalArgumentException(
        s"expected '$kw', found $t")
    }
    private def atKeyword(kw: String): Boolean = peek match {
      case Some(TIdent(s)) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    private def sym(c: Char): Unit = next() match {
      case TSym(`c`) => ()
      case t => throw new IllegalArgumentException(
        s"expected '$c', found $t")
    }
    private def atSym(c: Char): Boolean = peek.contains(TSym(c))
    private def bracket(what: String): String = next() match {
      case TBracket(s) => s
      case t => throw new IllegalArgumentException(
        s"expected [$what], found $t")
    }

    def statement(): Parsed = {
      val calc =
        if (atKeyword("WITH")) { keyword("WITH"); withMembers() } else Nil
      val dupCalc = calc.groupBy(_._1).filter(_._2.size > 1).keys
      require(dupCalc.isEmpty,
        s"duplicate calculated member(s) ${dupCalc.toSeq.sorted
          .mkString("[", "], [", "]")}")
      val (measures, rows, cube, slicers) = selectCore()
      peek.foreach(t => throw new IllegalArgumentException(
        s"trailing content after the statement: $t"))
      val (rowSets, postOps, nonEmpty) =
        rows.getOrElse(throw new IllegalArgumentException(
          "missing ROWS axis (the drill levels)"))
      Parsed(cube, calc,
        measures.getOrElse(throw new IllegalArgumentException(
          "missing COLUMNS axis (the measure list)")),
        rowSets, slicers, postOps, nonEmpty)
    }

    /** `DRILLTHROUGH (MAXROWS n)? SELECT … (RETURN [col], …)?` —
      * the statement must name ONE cell: every ROWS level carries a
      * single member literal, slicer members add coordinates, set
      * functions / NON EMPTY / unions are rejected. */
    def drillthrough(): DrillParsed = {
      keyword("DRILLTHROUGH")
      val maxRows =
        if (!atKeyword("MAXROWS")) None
        else {
          keyword("MAXROWS")
          next() match {
            case TNum(s) =>
              val n = scala.util.Try(s.toInt).getOrElse(
                throw new IllegalArgumentException(
                  s"MAXROWS '$s' is out of range"))
              require(n > 0, s"MAXROWS must be positive, got $n")
              Some(n)
            case t => throw new IllegalArgumentException(
              s"expected a literal count after MAXROWS, found $t")
          }
        }
      val (measures, rows, cube, slicers) = selectCore()
      val ret =
        if (!atKeyword("RETURN")) Vector.empty[String]
        else {
          keyword("RETURN")
          var acc = Vector(bracket("column"))
          while (atSym(',')) { sym(','); acc = acc :+ bracket("column") }
          acc
        }
      peek.foreach(t => throw new IllegalArgumentException(
        s"trailing content after the statement: $t"))
      // the COLUMNS axis is required for Mondrian-shape statements
      // but does not change the returned fact rows
      measures.getOrElse(throw new IllegalArgumentException(
        "missing COLUMNS axis (the measure list)")): Unit
      val (rowSets, postOps, nonEmpty) =
        rows.getOrElse(throw new IllegalArgumentException(
          "missing ROWS axis (the cell coordinates)"))
      require(postOps.isEmpty && !nonEmpty,
        "set functions and NON EMPTY do not apply to DRILLTHROUGH — " +
          "the statement names ONE cell")
      require(rowSets.size == 1,
        "DRILLTHROUGH names ONE cell — the ROWS axis must be a " +
          "single member tuple, not a set union")
      val axisMembers = rowSets.head.map { sel =>
        sel.members match {
          case Some(Seq(v)) => Member(sel.hierarchy, sel.level, v)
          case Some(vs) => throw new IllegalArgumentException(
            s"DRILLTHROUGH names ONE cell — level '[${sel.level}]' " +
              s"carries ${vs.size} member literals")
          case None => throw new IllegalArgumentException(
            s"DRILLTHROUGH names ONE cell — " +
              s"'[${sel.hierarchy}].[${sel.level}].Members' selects a " +
              "whole level; use a [member] literal")
        }
      }
      DrillParsed(cube, maxRows, axisMembers ++ slicers, ret)
    }

    /** The shared `SELECT … ON … FROM cube (WHERE tuple)?` core. */
    private def selectCore(): (Option[Seq[String]],
        Option[(Seq[Seq[LevelSel]], Seq[PostOp], Boolean)], String,
        Seq[Member]) = {
      keyword("SELECT")
      var measures: Option[Seq[String]] = None
      var rows: Option[(Seq[Seq[LevelSel]], Seq[PostOp], Boolean)] = None
      var more = true
      while (more) {
        val nonEmpty =
          if (atKeyword("NON")) { keyword("NON"); keyword("EMPTY"); true }
          else false
        val (set, ops) = setExpr()
        keyword("ON")
        next() match {
          case TIdent(a) if a.equalsIgnoreCase("COLUMNS") =>
            require(measures.isEmpty, "duplicate COLUMNS axis")
            require(!nonEmpty,
              "NON EMPTY applies to the ROWS axis in this subset")
            require(ops.isEmpty,
              "set functions (TOPCOUNT/BOTTOMCOUNT/ORDER/FILTER) " +
                "apply to the ROWS axis")
            measures = Some(set match {
              case Left(ms) => ms
              case Right(_) => throw new IllegalArgumentException(
                "the COLUMNS axis must be a set of [Measures].[alias]")
            })
          case TIdent(a) if a.equalsIgnoreCase("ROWS") =>
            require(rows.isEmpty, "duplicate ROWS axis")
            rows = Some((set match {
              case Right(ls) => ls
              case Left(_) => throw new IllegalArgumentException(
                "the ROWS axis must be level sets " +
                  "([Hier].[level].Members / CROSSJOIN), not measures")
            }, ops, nonEmpty))
          case t => throw new IllegalArgumentException(
            s"expected COLUMNS or ROWS, found $t")
        }
        if (atSym(',')) { sym(',') } else more = false
      }
      keyword("FROM")
      val cube = next() match {
        case TBracket(s) => s
        case TIdent(s) => s
        case t => throw new IllegalArgumentException(
          s"expected the cube name after FROM, found $t")
      }
      val slicers =
        if (atKeyword("WHERE")) { keyword("WHERE"); tuple() } else Nil
      (measures, rows, cube, slicers)
    }

    /** `MEMBER [Measures].[alias] AS '<expr>'`, one or more (MDX
      * separates WITH declarations by juxtaposition, not commas). */
    private def withMembers(): Seq[(String, String)] = {
      var acc = Vector.empty[(String, String)]
      while (atKeyword("MEMBER")) {
        keyword("MEMBER")
        val head = bracket("Measures")
        require(head.equalsIgnoreCase("Measures"),
          s"calculated members live in [Measures], found [$head]")
        sym('.')
        val alias = bracket("alias")
        keyword("AS")
        val e = next() match {
          case TStr(s) => s
          case t => throw new IllegalArgumentException(
            s"expected a quoted expression after AS, found $t")
        }
        acc = acc :+ (alias -> e)
      }
      require(acc.nonEmpty, "WITH requires at least one MEMBER declaration")
      acc
    }

    /** One axis expression: a measure set, a rowset, or a set
      * function wrapping a rowset. Set-function ops accumulate
      * innermost-first. */
    private def setExpr()
        : (Either[Seq[String], Seq[Seq[LevelSel]]], Seq[PostOp]) =
      if (atKeyword("TOPCOUNT") || atKeyword("BOTTOMCOUNT")) {
        val bottom = atKeyword("BOTTOMCOUNT")
        val name = if (bottom) "BOTTOMCOUNT" else "TOPCOUNT"
        next(): Unit
        sym('(')
        val (inner, innerOps) = rowsArg(name)
        sym(',')
        val n = next() match {
          case TNum(s) => scala.util.Try(s.toInt).getOrElse(
            throw new IllegalArgumentException(
              s"$name count '$s' is out of range"))
          case t => throw new IllegalArgumentException(
            s"expected a literal count in $name, found $t")
        }
        require(n > 0, s"$name count must be positive, got $n")
        sym(',')
        val m = measureExpr(name)
        sym(')')
        (Right(inner), innerOps :+ TopCountOp(n, m, bottom))
      } else if (atKeyword("ORDER")) {
        keyword("ORDER")
        sym('(')
        val (inner, innerOps) = rowsArg("ORDER")
        sym(',')
        val m = measureExpr("ORDER")
        val desc =
          if (!atSym(',')) false
          else {
            sym(',')
            next() match {
              case TIdent(d) if d.equalsIgnoreCase("ASC") ||
                  d.equalsIgnoreCase("BASC") => false
              case TIdent(d) if d.equalsIgnoreCase("DESC") ||
                  d.equalsIgnoreCase("BDESC") => true
              case t => throw new IllegalArgumentException(
                s"expected ASC, DESC, BASC or BDESC in ORDER, found $t")
            }
          }
        sym(')')
        (Right(inner), innerOps :+ OrderByOp(m, desc))
      } else if (atKeyword("FILTER")) {
        keyword("FILTER")
        sym('(')
        val (inner, innerOps) = rowsArg("FILTER")
        sym(',')
        val cond = next() match {
          case TStr(s) => s
          case t => throw new IllegalArgumentException(
            "FILTER's condition must be a quoted expression " +
              s"('[Measures].[x] > 0' — the WITH MEMBER convention), " +
              s"found $t")
        }
        sym(')')
        (Right(inner), innerOps :+ FilterOp(cond))
      } else if (atKeyword("CROSSJOIN")) (Right(crossjoin()), Nil)
      else braceSet()

    /** A set function's set argument: another set expression whose
      * rowset is required (ops from nested set functions pass
      * through — `TOPCOUNT(FILTER(...), …)` applies FILTER first). */
    private def rowsArg(fn: String)
        : (Seq[Seq[LevelSel]], Seq[PostOp]) = setExpr() match {
      case (Right(ls), ops) => (ls, ops)
      case (Left(_), _) => throw new IllegalArgumentException(
        s"$fn's set argument must be hierarchy level sets, not measures")
    }

    /** A set-function measure argument: `[Measures].[alias]` or a
      * quoted expression; returned as raw text for the gate. */
    private def measureExpr(fn: String): String = next() match {
      case TStr(s) => s
      case TBracket(head) =>
        require(head.equalsIgnoreCase("Measures"),
          s"$fn's measure argument must be [Measures].[alias] or a " +
            s"quoted expression, found [$head]")
        sym('.')
        s"[Measures].[${bracket("alias")}]"
      case t => throw new IllegalArgumentException(
        s"$fn's measure argument must be [Measures].[alias] or a " +
          s"quoted expression, found $t")
    }

    private def crossjoin(): Seq[Seq[LevelSel]] = {
      keyword("CROSSJOIN")
      sym('(')
      val a = rowsOnly()
      sym(',')
      val b = rowsOnly()
      sym(')')
      for (sa <- a; sb <- b) yield sa ++ sb
    }

    /** A CROSSJOIN operand: a rowset WITHOUT set functions — inside
      * an operand their measure context is undefined in this subset,
      * so they are rejected rather than mis-served. */
    private def rowsOnly(): Seq[Seq[LevelSel]] = {
      SetFns.find(atKeyword).foreach(fn =>
        throw new IllegalArgumentException(
          s"$fn must wrap the whole ROWS axis, not a CROSSJOIN operand"))
      setExpr() match {
        case (Right(ls), _) => ls
        case (Left(_), _) => throw new IllegalArgumentException(
          "CROSSJOIN operands must be hierarchy level sets")
      }
    }

    /** A braced set. Level items group by (hierarchy, level) in
      * first-appearance order: `.Members` absorbs literals of the
      * same level (all ⊇ any), literal lists merge distinct; each
      * surviving group is ONE member set in the union. */
    private def braceSet()
        : (Either[Seq[String], Seq[Seq[LevelSel]]], Seq[PostOp]) = {
      sym('{')
      val first = pathItem()
      var acc = Vector(first)
      while (atSym(',')) { sym(','); acc = acc :+ pathItem() }
      sym('}')
      val (measures, levels) = acc.partition(_.isLeft)
      if (measures.nonEmpty && levels.nonEmpty)
        throw new IllegalArgumentException(
          "a set cannot mix [Measures] members with hierarchy levels")
      if (measures.nonEmpty)
        (Left(measures.collect { case Left(m) => m }), Nil)
      else {
        val sels = levels.collect { case Right(s) => s }
        val merged = sels.map(s => (s.hierarchy, s.level)).distinct
          .map { case (h, l) =>
            val same = sels.filter(s => s.hierarchy == h && s.level == l)
            if (same.exists(_.members.isEmpty)) LevelSel(h, l, None)
            else LevelSel(h, l,
              Some(same.flatMap(_.members.toSeq.flatten).distinct))
          }
        (Right(merged.map(Seq(_))), Nil)
      }
    }

    /** `[Measures].[alias]` → Left(alias);
      * `[Hier].[level].Members` → Right(all members);
      * `[Hier].[level].[value]` → Right(one member literal). */
    private def pathItem(): Either[String, LevelSel] = {
      val head = bracket("Measures] or [Hierarchy")
      sym('.')
      val second = bracket("alias] or [level")
      if (head.equalsIgnoreCase("Measures")) Left(second)
      else {
        sym('.')
        next() match {
          case TIdent(m) if m.equalsIgnoreCase("Members") =>
            Right(LevelSel(head, second, None))
          case TBracket(v) =>
            Right(LevelSel(head, second, Some(Seq(v))))
          case t => throw new IllegalArgumentException(
            s"expected .Members or a [member] literal after " +
              s"[$head].[$second] on an axis, found $t")
        }
      }
    }

    private def tuple(): Seq[Member] = {
      sym('(')
      var acc = Vector(member())
      while (atSym(',')) { sym(','); acc = acc :+ member() }
      sym(')')
      acc
    }

    private def member(): Member = {
      val h = bracket("Hierarchy")
      sym('.')
      val l = bracket("level")
      sym('.')
      val v = bracket("value")
      Member(h, l, v)
    }
  }
}
