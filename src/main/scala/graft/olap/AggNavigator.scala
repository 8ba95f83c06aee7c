package graft.olap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, StructField, StructType}

/** Mondrian-style AGGREGATE NAVIGATION — the serving-layer feature the
  * reference's OLAP stack ships as "aggregate tables" (Mondrian reads
  * `Schema_Trabajo_Final.xml:2-91` cubes and, when the DBA registers
  * pre-aggregated rollups, silently rewrites each MDX slice to the
  * smallest one that covers it). Same contract here, Spark-first:
  *
  *  - `register` materializes each rollup ONCE (one fact scan per
  *    grain, map-side combine, dim-sized parquet output) and records
  *    its row count — the offline build, like a signature store.
  *  - `navigate` answers a group-by at grain L from the SMALLEST
  *    registered aggregate whose grain ⊇ L, re-aggregating MERGEABLE
  *    partials; when nothing covers, it falls back to the fact table.
  *
  * The partials are chosen so the navigated answer is BIT-IDENTICAL to
  * the fact-table answer, not merely close: counts add; sums are kept
  * in exact DECIMAL (never re-rounded at rest); an average is stored
  * as (decimal sum, non-null count) and re-derived with ONE double
  * division at the read edge — the same exact-grid idiom as the q203
  * member-set serve. At 100 TB this is the difference between a drill
  * that scans the corpus and one that scans a few thousand rows: the
  * fact table is touched only at registration time.
  */
object AggNavigator {

  /** A measure that can be answered either directly from the fact
    * table or by merging stored partials — the two faces MUST agree
    * exactly (the navigator's whole contract). */
  sealed trait Measure {
    def name: String
    /** Aggregate over raw fact rows. */
    def direct: Column
    /** Partial columns stored in an aggregate table (names are
      * namespaced by the measure name so measures never collide). */
    def partials: Seq[Column]
    /** Aggregate over stored partials, re-deriving [[direct]]. */
    def merge: Column
    /** Re-aggregate partials INTO partials (same names) — the
      * incremental-refresh combiner: stored partials ∪ a delta
      * batch's partials collapse back to one row per grain key. */
    def combine: Seq[Column]
  }

  /** The type an exact decimal-sum partial is STORED at: the fixed
    * point of Spark's sum widening (`decimal(p,s)` sums to
    * `decimal(min(38, p+10), s)`), so [[Measure.combine]] — a sum of
    * stored sums — writes back exactly the type it read, and a table's
    * schema never changes after registration. Widening an exact
    * decimal is lossless, and the merge already summed to this type,
    * so served answers are unchanged. */
  private def storedSum(dt: DecimalType): DecimalType =
    DecimalType(DecimalType.MAX_PRECISION, dt.scale)

  /** count(*) — partial is a long count, merge is its sum. */
  final case class CountAll(name: String) extends Measure {
    def direct: Column = count(lit(1)).as(name)
    def partials: Seq[Column] = Seq(count(lit(1)).as(s"__p_cnt_$name"))
    def merge: Column = sum(col(s"__p_cnt_$name")).as(name)
    def combine: Seq[Column] =
      Seq(sum(col(s"__p_cnt_$name")).as(s"__p_cnt_$name"))
  }

  /** Exact cross-engine mean of a numeric column, rounded at `scale`:
    * stored as (exact decimal sum, non-null count). Both routes cast
    * the EXACT decimal sum to double FIRST and then do the one lossy
    * double division (the q207 merge idiom) — the direct and merged
    * decimal sums are equal exactly, so the double operands are
    * bit-identical regardless of which route answered. */
  final case class ExactAvg(name: String, column: String,
      dt: DecimalType = DecimalType(18, 2), scale: Int = 6) extends Measure {
    def direct: Column =
      round(sum(col(column).cast(dt)).cast("double") / count(col(column)),
        scale).as(name)
    def partials: Seq[Column] = Seq(
      sum(col(column).cast(dt)).cast(storedSum(dt)).as(s"__p_sum_$name"),
      count(col(column)).as(s"__p_cnt_$name"))
    def merge: Column =
      round(sum(col(s"__p_sum_$name")).cast("double") /
        sum(col(s"__p_cnt_$name")), scale).as(name)
    def combine: Seq[Column] = Seq(
      sum(col(s"__p_sum_$name")).as(s"__p_sum_$name"),
      sum(col(s"__p_cnt_$name")).as(s"__p_cnt_$name"))
  }

  /** Exact decimal sum surfaced as double (the q01 `dsum` idiom). */
  final case class ExactSum(name: String, column: String,
      dt: DecimalType = DecimalType(18, 2)) extends Measure {
    def direct: Column = sum(col(column).cast(dt)).cast("double").as(name)
    def partials: Seq[Column] =
      Seq(sum(col(column).cast(dt)).cast(storedSum(dt)).as(s"__p_sum_$name"))
    def merge: Column = sum(col(s"__p_sum_$name")).cast("double").as(name)
    def combine: Seq[Column] =
      Seq(sum(col(s"__p_sum_$name")).as(s"__p_sum_$name"))
  }

  /** DISTINCT COUNT via a mergeable HLL++ sketch — THE measure that
    * historically breaks aggregate tables (distinct is not additive:
    * you cannot sum per-month unique users into yearly uniques). A
    * stored HLL sketch IS additive: registers union with max, so the
    * union of sub-sketches is REGISTER-IDENTICAL to the sketch of the
    * unioned data — the routed estimate equals the direct estimate
    * exactly (same sketch, same estimator), not just approximately
    * (AggNavigatorSpec asserts equality). Estimate error vs the TRUE
    * distinct count is the usual HLL ±~1.6% at lgK=12 — declared
    * approximate; use it where a 100 TB exact distinct is the thing
    * you're buying your way out of. */
  final case class DistinctSketch(name: String, column: String,
      lgK: Int = 12) extends Measure {
    def direct: Column =
      hll_sketch_estimate(hll_sketch_agg(col(column), lit(lgK))).as(name)
    def partials: Seq[Column] =
      Seq(hll_sketch_agg(col(column), lit(lgK)).as(s"__p_hll_$name"))
    def merge: Column =
      hll_sketch_estimate(hll_union_agg(col(s"__p_hll_$name"))).as(name)
    def combine: Seq[Column] =
      Seq(hll_union_agg(col(s"__p_hll_$name")).as(s"__p_hll_$name"))
  }

  /** A registered aggregate table: its grain, its materialized size
    * (the navigator's cost model, same as Mondrian's row-count
    * heuristic), where it lives, and the schema of the frame the
    * engine wrote there — captured at register/registerShared/refresh
    * and made nullable, exactly as a parquet read reports it. Every
    * partial is stored at the type its refresh fold produces (see
    * `storedSum`), so a refresh rewrites the same schema and a
    * registry from before it still reads the new files.
    * Every engine read of the table goes through [[read]], which hands
    * Spark this schema, so no read pays a footer-inference job; grain
    * column types (MDX slicer typing, null level slots) come from it
    * too. The engine wrote the schema, so it needs no invalidation. */
  final case class AggTable(name: String, grain: Seq[String], rows: Long,
      path: String, schema: StructType) {
    /** The stored table, planned without touching its files. */
    def read(spark: SparkSession): DataFrame =
      spark.read.schema(schema).parquet(path)
    /** The grain columns, typed as written. */
    def grainFields: Seq[StructField] =
      schema.filter(f => grain.contains(f.name))
  }

  /** The schema a parquet read of `written`'s output reports: the
    * same fields, all nullable (file sources never trust writer
    * nullability). */
  private def asRead(written: DataFrame): StructType =
    org.apache.spark.sql.graft.Bridge.asNullable(written.schema)

  final case class Registry(spark: SparkSession, measures: Seq[Measure],
      aggs: Seq[AggTable]) {
    /** Smallest covering aggregate, or None → fact fallback. A grain
      * covers a query iff every group-by column is a grain column
      * (partials then re-aggregate losslessly). */
    def choose(groupCols: Seq[String]): Option[AggTable] =
      aggs.filter(a => groupCols.forall(a.grain.contains))
        .sortBy(a => (a.rows, a.name)).headOption
  }

  /** One grain's partial relation: one scan, partial/final hash
    * aggregate (map-side combine), dim-cardinality output. */
  def partialsFor(fact: DataFrame, grain: Seq[String],
      measures: Seq[Measure]): DataFrame = {
    val cols = measures.flatMap(_.partials)
    fact.groupBy(grain.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Offline build: materialize every grain under `root` and record
    * row counts (the count is an action over the already-tiny agg,
    * not the fact). Grains are built independently — each is one
    * fact scan. Prefer [[registerShared]] when registering several
    * grains over a large fact: same stored bytes, one scan total. */
  def register(fact: DataFrame, grains: Seq[(String, Seq[String])],
      measures: Seq[Measure], root: String): Registry = {
    val spark = fact.sparkSession
    // independent per-grain builds (disjoint outputs) run concurrently
    // — guide §2.6; prefer [[registerShared]]'s one-scan build for a
    // large fact regardless
    val aggs = graft.operators.Par.mapSeq(grains) { case (name, grain) =>
      val path = s"$root/agg_$name"
      val partials = partialsFor(fact, grain, measures)
      partials.write.mode("overwrite").parquet(path)
      val written = AggTable(name, grain, 0L, path, asRead(partials))
      written.copy(rows = written.read(spark).count())
    }
    Registry(spark, measures, aggs)
  }

  /** Every grain's partials from ONE fact pass: a GROUPING SETS
    * aggregate (Catalyst's Expand — the q203 member-space idiom) with
    * `grouping_id()` tagging which grain each output row belongs to.
    * The gid weighting mirrors Spark's GROUPING() contract: first
    * level in the union = most significant bit, bit set ⇔ the level
    * is NOT grouped in that set. Exposed for the build-plan spec
    * (exactly one fact relation in this plan) and reused by
    * [[registerShared]]. */
  def sharedPartials(fact: DataFrame, grains: Seq[(String, Seq[String])],
      measures: Seq[Measure]): DataFrame = {
    require(grains.map(_._2.toSet).distinct.size == grains.size,
      "shared registration needs distinct grain column sets " +
        "(equal sets would share one grouping_id)")
    val allLevels = grains.flatMap(_._2).distinct
    val cols = measures.flatMap(_.partials) :+
      grouping_id().cast("long").as("__gid")
    fact.groupingSets(grains.map(_._2.map(col)), allLevels.map(col): _*)
      .agg(cols.head, cols.tail: _*)
  }

  /** The grouping_id [[sharedPartials]] assigns to one grain. */
  private def gidOf(allLevels: Seq[String], grain: Seq[String]): Long =
    allLevels.zipWithIndex.map { case (c, i) =>
      if (grain.contains(c)) 0L else 1L << (allLevels.size - 1 - i)
    }.sum

  /** [[register]] from ONE fact scan — at 100 TB, N grains cost one
    * corpus pass instead of N. The shared pass is staged partitioned
    * by `__gid`, then each grain's table is carved from its gid
    * partition (a partition-pruned, dim-sized read — no fact bytes)
    * and written exactly where [[register]] would have put it. The
    * stored rows are bit-identical to the per-grain build
    * (spec-asserted, HLL sketch bytes included): every partial is an
    * order-insensitive fold (counts and decimal sums add, sketch
    * registers max), so the Expand route groups the same underlying
    * rows into the same partials. The registry it returns serves,
    * refreshes and audits exactly like [[register]]'s — the shared
    * scan couples nothing but the build. */
  def registerShared(fact: DataFrame, grains: Seq[(String, Seq[String])],
      measures: Seq[Measure], root: String): Registry = {
    val spark = fact.sparkSession
    val allLevels = grains.flatMap(_._2).distinct
    val pNames = partialsFor(fact.limit(0), grains.head._2, measures)
      .schema.map(_.name).filterNot(grains.head._2.contains)
    // r17 (guide §5 reuse): the shared pass used to round-trip through
    // a __gid-partitioned parquet STAGING dir — one extra write job,
    // then one partition-pruned read PLUS one count read per grain
    // (2N+1 actions). The relation is dim-sized by the rollup contract
    // (distinct grain tuples, not facts), so a lazy local checkpoint
    // holds it instead: ONE job materializes it (the per-gid count
    // collect below), the N carve writes read executor-local blocks,
    // and the row counts all come from that single count job — N+1
    // actions, no staging I/O. Stored rows are bit-identical (the
    // carve is the same filter+projection of the same shared rows;
    // spec-asserted against register()). localCheckpoint trade:
    // executor-local unreplicated blocks — acceptable for a dim-sized
    // relation inside one offline build; a lost executor fails the
    // build, which simply re-runs.
    val shared = sharedPartials(fact, grains, measures)
      .localCheckpoint(false)
    val gidRows: Map[Long, Long] = shared.groupBy(col("__gid"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the per-grain carves are independent (disjoint output paths) —
    // submit them concurrently so one carve's write latency overlaps
    // the next's (guide §2.6); result order stays the caller's grain
    // order
    val aggs = graft.operators.Par.mapSeq(grains) { case (name, grain) =>
      val path = s"$root/agg_$name"
      val carved = shared
        .filter(col("__gid") === gidOf(allLevels, grain))
        .select((grain ++ pNames).map(col): _*)
      carved.write.mode("overwrite").parquet(path)
      AggTable(name, grain,
        gidRows.getOrElse(gidOf(allLevels, grain), 0L), path, asRead(carved))
    }
    Registry(spark, measures, aggs)
  }

  /** INCREMENTAL REFRESH under a fact APPEND — the reason real
    * warehouses abandon aggregate tables is that a naive refresh
    * rescans the fact corpus per load; here each stored table absorbs
    * the delta in O(delta + table): the batch's own partials collapse
    * map-side to grain cardinality, union with the stored relation,
    * and [[Measure.combine]] folds partials into partials (counts and
    * decimal sums add; HLL sketches union) — exactly the q207
    * member-set merge argument, applied to the whole registry. Each
    * rewrite publishes via atomic rename-swap
    * ([[graft.sources.Warehouse.publish]]), so no reader ever lists a
    * half-written directory. That is not full reader isolation: a
    * drill planned before the swap and run after it can fail with
    * FILE_NOT_EXIST, because Spark lists files at planning time and
    * opens them later (see `Warehouse.installBuilt`, ROADMAP item 2).
    * Returns the refreshed registry: row counts re-measured (they are
    * the navigator's cost model) and each table's schema taken from
    * the planned fold. The fold is type-stable (partials are stored at
    * their combine type), so that schema equals the one passed in,
    * and a registry from before the refresh still reads the new files
    * — only its row counts are stale.
    *
    * REPLAY SAFETY: pass the source's batch identity as `batchId`
    * when deliveries are at-least-once (foreachBatch retries, a crash
    * mid-registry, a checkpoint reset re-delivering an OLD batch) —
    * each table keeps an `_applied/<batchId>` ledger of every batch it
    * has absorbed, and a redelivered batch skips the tables that
    * already absorbed it. Double-absorbing a batch would silently
    * inflate every count and sum — the stale-table failure [[audit]]
    * exists to catch, created by the refresh itself. The ledger RIDES
    * THE PUBLISH: prior markers plus the new batch's are written into
    * the temp directory BEFORE [[graft.sources.Warehouse.publish]]'s
    * atomic rename, so (a) the full ledger survives every swap — a
    * replay of ANY previously-absorbed batch is skipped, not just the
    * latest — and (b) marker and data commit in the same rename: a
    * crash anywhere in the refresh leaves either the old table (no
    * marker, retry re-absorbs into the OLD rows — correct) or the new
    * table with its marker (retry skips) — exactly-once by
    * construction, no audit-only window. The skip path re-measures
    * `rows` from the committed table so a replayed batch still returns
    * the registry with the cost model the navigator ranks by — also
    * when the retry is handed the registry from before the crash. Omit
    * batchId only for one-shot batch use (ledger then stays empty). */
  def refresh(reg: Registry, delta: DataFrame,
      batchId: Option[Long] = None): Registry = {
    val spark = reg.spark
    val conf = spark.sessionState.newHadoopConf()
    // r17 (guide §1.2 / the registerShared argument): the delta's
    // partials used to be computed once PER TABLE — N full delta scans
    // per refresh. One shared GROUPING SETS pass now computes every
    // grain's delta partials (lazily local-checkpointed, grain-sized —
    // see the cluster-trade note in registerShared; never materialized
    // when every table skips on the replay ledger), and each table
    // carves its gid. Partials are order-insensitive folds, so the
    // carved rows are bit-identical to the per-table build
    // (spec-asserted: refresh ≡ rebuild, streamed ≡ batch, replay
    // idempotence). Falls back to per-table partials for a
    // single-table registry (no sharing to win) or duplicate grain
    // sets (grouping_id could not discriminate them).
    val grainSets = reg.aggs.map(_.grain.toSet)
    val sharedDelta: Option[(DataFrame, Seq[String])] =
      if (reg.aggs.size > 1 && grainSets.distinct.size == grainSets.size) {
        val allLevels = reg.aggs.flatMap(_.grain).distinct
        Some((sharedPartials(delta, reg.aggs.map(a => a.name -> a.grain),
          reg.measures).localCheckpoint(false), allLevels))
      } else None
    def deltaPartials(agg: AggTable): DataFrame = sharedDelta match {
      case Some((shared, allLevels)) =>
        val pNames = shared.schema.map(_.name)
          .filterNot(c => c == "__gid" || allLevels.contains(c))
        shared.filter(col("__gid") === gidOf(allLevels, agg.grain))
          .select((agg.grain ++ pNames).map(col): _*)
      case None => partialsFor(delta, agg.grain, reg.measures)
    }
    // ledger checks up front (driver-side fs metadata), so the shared
    // delta pass can be materialized EXACTLY ONCE before the concurrent
    // folds — a lazy checkpoint first touched by N concurrent jobs
    // would race its own materialization and each racer would recompute
    // the full delta lineage, the very scan this exists to share. When
    // every table skips (a full replay), nothing materializes at all.
    def appliedOf(agg: AggTable): Boolean = batchId.exists { id =>
      val ledger = new org.apache.hadoop.fs.Path(s"${agg.path}/_applied")
      ledger.getFileSystem(conf)
        .exists(new org.apache.hadoop.fs.Path(ledger, id.toString))
    }
    val applied = reg.aggs.map(a => a.name -> appliedOf(a)).toMap
    if (reg.aggs.exists(a => !applied(a.name)))
      sharedDelta.foreach(_._1.count(): Unit)
    // each table absorbs the delta independently (its own path, its
    // own ledger, its own publish rename) — refresh them concurrently
    // (guide §2.6) so the registry-wide refresh costs one table's
    // latency, not the sum; registry order preserved by Par's
    // index-ordered results
    val aggs = graft.operators.Par.mapSeq(reg.aggs) { agg =>
      val ledger = new org.apache.hadoop.fs.Path(s"${agg.path}/_applied")
      val fs = ledger.getFileSystem(conf)
      val fold = reg.measures.flatMap(_.combine)
      val merged = agg.read(spark)
        .unionByName(deltaPartials(agg))
        .groupBy(agg.grain.map(col): _*).agg(fold.head, fold.tail: _*)
      if (!applied(agg.name))
        graft.sources.Warehouse.publish(spark, agg.path) { tmp =>
          merged.write.parquet(tmp)
          // the ledger rides the swap: carry every prior marker (they
          // are empty files — name IS the record) and add this batch's
          // INSIDE the temp dir, before the atomic rename. Parquet
          // readers ignore the `_`-prefixed subdirectory.
          val tmpLedger = new org.apache.hadoop.fs.Path(s"$tmp/_applied")
          fs.mkdirs(tmpLedger)
          if (fs.exists(ledger))
            fs.listStatus(ledger).foreach { st =>
              fs.create(new org.apache.hadoop.fs.Path(tmpLedger,
                st.getPath.getName), true).close()
            }
          batchId.foreach { id =>
            fs.create(new org.apache.hadoop.fs.Path(tmpLedger,
              id.toString), true).close()
          }
        }
      // both paths describe the committed files: the fold's schema is
      // the stored one (a replayed batch skips the publish, but the
      // planned merge still types its table), and rows stay the
      // navigator's cost model even on the skip path — a stale
      // pre-absorb count would let `choose` mis-rank tables
      val written = agg.copy(schema = asRead(merged))
      written.copy(rows = written.read(spark).count())
    }
    reg.copy(aggs = aggs)
  }

  /** Persist the registry's metadata — grains, row counts (the cost
    * model), table paths, table schemas — as one JSON relation
    * under `root/registry_meta`. Measures are CODE, not data: the
    * caller re-supplies them at [[load]], the same way a Mondrian
    * schema file defines measures while the database holds the
    * tables. The serving process that restarts can then route
    * immediately — without this, a restart loses `choose`'s cost
    * model and every grain definition, and the only recovery is a
    * full re-register (one fact scan per registry it didn't need).
    * Each table's schema travels as one `DataType.json` string —
    * inference-proof, unlike a nested JSON value (which the reader
    * would re-infer as a row-dependent struct). The write rides
    * [[graft.sources.Warehouse.publish]]'s atomic rename-swap: a
    * crash mid-save leaves the PREVIOUS metadata intact — an in-place
    * overwrite would corrupt exactly the serving-restart path this
    * file exists for. */
  def save(reg: Registry, root: String): Unit = {
    import reg.spark.implicits._
    val meta = reg.aggs.zipWithIndex.map { case (a, i) =>
      (i, a.name, a.grain, a.rows, a.path, a.schema.json)
    }.toDF("idx", "name", "grain", "rows", "path", "schema")
    graft.sources.Warehouse.publish(reg.spark, s"$root/registry_meta") {
      tmp => meta.coalesce(1).write.mode("overwrite").json(tmp)
    }
  }

  /** Rebuild a [[Registry]] from [[save]]d metadata plus the caller's
    * measures (which must match the ones the tables were built with —
    * the stored partial column names are the contract, and [[audit]]
    * catches a mismatch loudly). */
  def load(spark: SparkSession, measures: Seq[Measure],
      root: String): Registry = {
    val meta = spark.read.json(s"$root/registry_meta")
    require(meta.columns.contains("schema"),
      s"$root/registry_meta has no 'schema' column (columns: " +
        s"${meta.columns.mkString(", ")}) — re-save the registry")
    val aggs = meta.orderBy(col("idx")).collect().toSeq.map { r =>
      AggTable(
        r.getAs[String]("name"),
        r.getAs[scala.collection.Seq[String]]("grain").toSeq,
        r.getAs[Long]("rows"),
        r.getAs[String]("path"),
        DataType.fromJson(r.getAs[String]("schema")).asInstanceOf[StructType])
    }
    Registry(spark, measures, aggs)
  }

  /** AGGREGATE ADVISOR — which rollups are WORTH registering (the
    * tooling gap Mondrian filled with AggGen): given candidate grains
    * and a drill workload, price every candidate from ONE
    * grouping-sets fact pass and rank by scanned-rows saved.
    *
    * Cost model, all exact integers so any engine reproduces it:
    *  - `grain_rows(g)` = the candidate's member cardinality (what a
    *    routed drill would scan instead of the fact) — counted as
    *    groups per grouping_id in the shared pass;
    *  - a workload drill credits ONLY its best covering candidate —
    *    smallest `(grain_rows, name)`, exactly the [[Registry.choose]]
    *    routing order — because that is where the navigator would
    *    actually send it;
    *  - `benefit(g)` = Σ over credited drills of
    *    `(fact_rows − grain_rows(g))`.
    *
    * Returns one row per candidate: (agg_name, grain_rows, fact_rows,
    * n_drills, benefit), benefit-descending — register the head
    * entries, skip the zeros (covered by nothing, or always out-ranked
    * by a smaller candidate). Driver-side work is bounded by
    * |candidates| × |workload|; the cluster does one Expand pass over
    * the fact and a member-space-sized count. */
  def advise(fact: DataFrame, candidates: Seq[(String, Seq[String])],
      workload: Seq[Seq[String]]): DataFrame = {
    val spark = fact.sparkSession
    import spark.implicits._
    val priced = priceCandidates(fact, candidates)
    val credit = creditBest(priced, workload)
    priced.map { case (name, _, gRows, fRows) =>
      val n = credit.getOrElse(name, 0L)
      (name, gRows, fRows, n, n * (fRows - gRows))
    }.toDF("agg_name", "grain_rows", "fact_rows", "n_drills", "benefit")
      .orderBy(col("benefit").desc, col("agg_name"))
  }

  /** Shared pricing pass for [[advise]]/[[adviseBudget]]: ONE
    * grouping-sets fact scan → per candidate (name, grain,
    * grain_rows = member cardinality, fact_rows). */
  private def priceCandidates(fact: DataFrame,
      candidates: Seq[(String, Seq[String])])
      : Seq[(String, Seq[String], Long, Long)] = {
    require(candidates.map(_._2.toSet).distinct.size == candidates.size,
      "advisor candidates need distinct grain column sets")
    val allLevels = candidates.flatMap(_._2).distinct
    // one fact pass: per-gid group count (= grain cardinality) and
    // per-gid row sum (= fact row count, identical for every gid)
    val gs = fact
      .groupingSets(candidates.map(_._2.map(col)), allLevels.map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        grouping_id().cast("long").as("__gid"))
    val perGid = gs.groupBy(col("__gid"))
      .agg(count(lit(1)).as("grain_rows"), sum(col("__cnt")).as("fact_rows"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    candidates.map { case (name, grain) =>
      // an empty fact yields no grouping-sets rows at all: every
      // candidate prices at zero rows / zero benefit, not a crash
      val (gRows, fRows) =
        perGid.getOrElse(gidOf(allLevels, grain), (0L, 0L))
      (name, grain, gRows, fRows)
    }
  }

  /** Each drill's credit goes to its best covering candidate — the
    * smallest (grain_rows, name), exactly [[Registry.choose]]'s
    * routing order. Driver-side, |candidates| × |workload|. */
  private def creditBest(priced: Seq[(String, Seq[String], Long, Long)],
      workload: Seq[Seq[String]]): Map[String, Long] =
    workload.flatMap { drill =>
      priced.filter { case (_, grain, _, _) => drill.forall(grain.contains) }
        .sortBy { case (name, _, gRows, _) => (gRows, name) }
        .headOption.map { case (name, _, _, _) => name }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap

  /** BUDGET-CONSTRAINED advisor — the decision Mondrian's AggGen
    * actually makes: a DBA materializes at most `budgetRows` stored
    * rows, so the output is a chosen SET, not a ranking. Greedy
    * selection in [[advise]]'s benefit order (the greedy of
    * Harinarayan/Rajaraman/Ullman, "Implementing Data Cubes
    * Efficiently", SIGMOD '96, over an explicit candidate list with
    * row-count costs): walk candidates by (initial benefit desc,
    * name); admit each whose grain_rows still fits the remaining
    * budget and whose initial benefit is positive; a skipped
    * candidate does not end the walk — a smaller later one may still
    * fit. The workload is then RE-CREDITED within the chosen set
    * (each drill routes to its smallest covering CHOSEN candidate —
    * what the navigator will actually do once exactly this set is
    * registered), so the reported n_drills/benefit describe the
    * selection, not the unconstrained ranking.
    *
    * Cost model is stored ROWS (the same quantity [[Registry.choose]]
    * ranks by and [[register]] measures); all arithmetic is exact
    * integers, so an oracle replays the greedy deterministically.
    * One row per candidate ordered by name: (agg_name, grain_rows,
    * fact_rows, chosen, pick — 1-based admission order, 0 if not
    * chosen — n_drills, benefit). Same single fact pass as [[advise]];
    * everything after it is driver arithmetic over |candidates|. */
  def adviseBudget(fact: DataFrame, candidates: Seq[(String, Seq[String])],
      workload: Seq[Seq[String]], budgetRows: Long): DataFrame = {
    val spark = fact.sparkSession
    import spark.implicits._
    require(budgetRows >= 0, "budget must be non-negative")
    val priced = priceCandidates(fact, candidates)
    val credit0 = creditBest(priced, workload)
    val ranked = priced.map { case (name, grain, gRows, fRows) =>
      (name, grain, gRows, fRows,
        credit0.getOrElse(name, 0L) * (fRows - gRows))
    }.sortBy { case (name, _, _, _, b) => (-b, name) }
    var remaining = budgetRows
    var picks = 0L
    val chosen = scala.collection.mutable.LinkedHashMap[String, Long]()
    ranked.foreach { case (name, _, gRows, _, b) =>
      if (b > 0 && gRows <= remaining) {
        remaining -= gRows
        picks += 1
        chosen(name) = picks
      }
    }
    val credit1 = creditBest(priced.filter(p => chosen.contains(p._1)),
      workload)
    priced.sortBy(_._1).map { case (name, _, gRows, fRows) =>
      val n = credit1.getOrElse(name, 0L)
      (name, gRows, fRows, chosen.contains(name),
        chosen.getOrElse(name, 0L), n, n * (fRows - gRows))
    }.toDF("agg_name", "grain_rows", "fact_rows", "chosen", "pick",
        "n_drills", "benefit")
      .orderBy("agg_name")
  }

  /** Consistency audit — the navigator's "trust but verify": an agg
    * table that missed a load (or absorbed one twice) serves WRONG
    * drills silently, the classic operational failure of aggregate
    * tables. One fact scan total: the fact's grand-total measures are
    * computed once, then each table's merged grand totals (tiny scans)
    * are compared value-for-value — exact for counts/decimal-sum
    * measures; sketch estimates compare equal when registers match,
    * the register-identity the refresh fold preserves. Returns one row
    * per table with a `consistent` verdict; run it on the cadence
    * staleness costs you (per load, per day — it prices at one
    * aggregation pass over the fact). */
  def audit(reg: Registry, fact: DataFrame): DataFrame = {
    import reg.spark.implicits._
    val direct = reg.measures.map(_.direct)
    val want = fact.agg(direct.head, direct.tail: _*).head()
    val rows = reg.aggs.map { agg =>
      val merged = reg.measures.map(_.merge)
      val got = agg.read(reg.spark)
        .agg(merged.head, merged.tail: _*).head()
      val ok = reg.measures.indices.forall(i => want.get(i) == got.get(i))
      (agg.name, agg.rows, ok)
    }
    rows.toDF("agg_table", "rows", "consistent")
  }

  /** Answer `groupCols` × `measures` through the navigator. `fact` is
    * by-name: when an aggregate covers, the fact lineage is never
    * constructed, so the physical plan reads ONLY the agg parquet
    * (PlanSpec-assertable).
    *
    * SLICERS from stored partials (r16 — the Mondrian behavior: a
    * sliced MDX query is still served from an aggregate table when
    * the table carries the slicer's level): a deterministic predicate
    * that references ONLY grain columns of the chosen table selects
    * WHOLE fact groups at that table's grain, so filtering the stored
    * partials before the merge is exactly `filter(fact) → aggregate`
    * — the same commute [[AggRoute]] proves for SQL WHERE clauses.
    * Coverage therefore requires grain ⊇ groupCols ∪ `slicerCols`
    * (the caller names the columns its predicates touch — predicates
    * arrive as unresolved `Column`s, so the navigator cannot derive
    * them itself); when nothing covers, the fallback applies the
    * slicers to the FACT pre-aggregation, which is correct at fact
    * cost. Passing a `slicerCols` that under-reports the predicate's
    * columns would mis-serve — [[CubeQuery]] derives it from the
    * expression tree, never by hand. */
  def navigate(reg: Registry, fact: => DataFrame, groupCols: Seq[String],
      slicers: Seq[Column] = Nil, slicerCols: Seq[String] = Nil)
      : DataFrame = {
    require(slicers.isEmpty || slicerCols.nonEmpty,
      "slicers without their referenced columns cannot be routed safely")
    reg.choose((groupCols ++ slicerCols).distinct) match {
      case Some(agg) =>
        val merged = reg.measures.map(_.merge)
        slicers.foldLeft(agg.read(reg.spark))(_.filter(_))
          .groupBy(groupCols.map(col): _*).agg(merged.head, merged.tail: _*)
      case None =>
        val direct = reg.measures.map(_.direct)
        slicers.foldLeft(fact)(_.filter(_))
          .groupBy(groupCols.map(col): _*).agg(direct.head, direct.tail: _*)
    }
  }

  /** Serve a whole GROUPING SETS member space through the navigator —
    * the actual Mondrian serving path with aggregate tables: each MDX
    * drill is one member set, and each set routes INDEPENDENTLY to its
    * smallest covering rollup (the grand total reads the smallest
    * table of all; an uncovered set alone pays the fact scan). Output
    * is union-compatible with a plain grouping-sets aggregate:
    * `allLevels` columns (null where a set doesn't group them) plus a
    * `gid` whose bits mark the non-grouped levels — computed as a
    * LITERAL per set, first level = most significant bit, exactly
    * Spark's/SQL's GROUPING() weighting, so the result is
    * hash-comparable with a `GROUP BY GROUPING SETS` oracle. Level
    * types for the null slots come from the rollups' written schemas,
    * and each set reads its rollup through [[AggTable.read]] with that
    * schema: building a fully-routed member space starts no Spark job
    * and never touches the fact lineage. */
  def navigateSets(reg: Registry, fact: => DataFrame,
      allLevels: Seq[String], sets: Seq[Seq[String]],
      slicers: Seq[Column] = Nil, slicerCols: Seq[String] = Nil)
      : DataFrame = {
    require(sets.nonEmpty, "need at least one member set")
    val levelType: Map[String, DataType] =
      reg.aggs.flatMap(_.grainFields).map(f => f.name -> f.dataType).toMap
    // a level carried by NO rollup: its null slots must still be
    // typed (NullType won't write to parquet), and only the fact
    // knows the type — resolved lazily so a fully-covered member
    // space never touches the fact lineage
    lazy val factType: Map[String, DataType] =
      fact.schema.map(f => f.name -> f.dataType).toMap
    val branches = sets.map { groupCols =>
      val gid = gidOf(allLevels, groupCols)
      val levelCols = allLevels.map { c =>
        if (groupCols.contains(c)) col(c)
        else lit(null).cast(levelType.getOrElse(c, factType(c))).as(c)
      }
      // each set routes INDEPENDENTLY: a set whose covering table
      // carries the slicer levels serves sliced partials; one that
      // doesn't pays its own fact fallback — never the whole space
      navigate(reg, fact, groupCols, slicers, slicerCols)
        .select(levelCols ++ (lit(gid).as("gid") +:
          reg.measures.map(m => col(m.name))): _*)
    }
    branches.reduce(_.unionByName(_))
  }
}
