package graft.olap

import graft.{TestSpark, Trace}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Aggregate navigation: route choice, plan-level proof that a routed
  * drill never touches the fact lineage, and the bit-identity contract
  * between the routed and direct answers. */
class AggNavigatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // a small fact with a nullable measure (exercises the ExactAvg
  // non-null-count partial) — the orders table in star-ish shape
  private lazy val fact = TestSpark.table("orders")
    .select(col("o_orderstatus").as("status"),
      col("o_orderpriority").as("prio"),
      year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
      when(col("o_orderkey") % 7 =!= 0, col("o_totalprice")).as("price"))

  private val measures = Seq(
    AggNavigator.CountAll("n"),
    AggNavigator.ExactAvg("avg_price", "price"),
    AggNavigator.ExactSum("sum_price", "price"))

  private lazy val root =
    java.nio.file.Files.createTempDirectory("aggnav_spec").toString

  private lazy val reg = AggNavigator.register(fact, Seq(
    "ym" -> Seq("y", "m"),
    "yearly" -> Seq("y"),
    "status_prio" -> Seq("status", "prio")), measures, root)

  test("choose picks the smallest covering aggregate") {
    assert(reg.choose(Seq("y")).map(_.name) === Some("yearly"))
    assert(reg.choose(Seq("y", "m")).map(_.name) === Some("ym"))
    assert(reg.choose(Seq("status")).map(_.name) === Some("status_prio"))
    // nothing carries both a date and a status column → fact fallback
    assert(reg.choose(Seq("y", "status")) === None)
  }

  test("routed plan reads ONLY the aggregate parquet — no fact lineage") {
    var factBuilt = false
    val routed = AggNavigator.navigate(reg, { factBuilt = true; fact }, Seq("y"))
    assert(!factBuilt, "covered drill must not construct the fact lineage")
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("agg_yearly"), s"expected agg_yearly scan in:\n$plan")
    assert(!plan.contains("orders.parquet"),
      s"routed drill must not scan the fact table:\n$plan")
  }

  private def rows(df: DataFrame, keys: Seq[String]): Seq[Seq[Any]] =
    df.orderBy(keys.map(col): _*).collect().toSeq.map(_.toSeq)

  /** Each table's recorded schema is the one a plain parquet read of
    * its files infers — what lets every engine read skip inference. */
  private def assertSchemasAsRead(reg: AggNavigator.Registry): Unit =
    for (a <- reg.aggs)
      assert(a.schema === spark.read.parquet(a.path).schema,
        s"recorded schema of ${a.name} differs from its files")

  test("routed answers are bit-identical to the direct fact aggregate") {
    for (groupCols <- Seq(Seq("y"), Seq("y", "m"), Seq("status"),
        Seq("prio"), Seq("status", "prio"))) {
      val routed = AggNavigator.navigate(reg, fact, groupCols)
      val direct = fact.groupBy(groupCols.map(col): _*)
        .agg(measures.map(_.direct).head, measures.map(_.direct).tail: _*)
      assert(rows(routed, groupCols) === rows(direct, groupCols),
        s"route for $groupCols diverged from the direct aggregate")
      // stored partial types never leak into what a measure serves
      assert(routed.schema.map(_.dataType) === direct.schema.map(_.dataType))
    }
  }

  test("fallback drill answers from the fact table and still agrees") {
    val fb = AggNavigator.navigate(reg, fact, Seq("y", "status"))
    val plan = fb.queryExecution.executedPlan.toString
    assert(plan.contains("orders.parquet"),
      s"uncovered drill must fall back to the fact scan:\n$plan")
    val direct = fact.groupBy(col("y"), col("status"))
      .agg(measures.map(_.direct).head, measures.map(_.direct).tail: _*)
    assert(rows(fb, Seq("y", "status")) === rows(direct, Seq("y", "status")))
  }

  test("incremental refresh ≡ rebuild from the full fact, bit for bit") {
    val r1 = java.nio.file.Files.createTempDirectory("aggnav_inc").toString
    val r2 = java.nio.file.Files.createTempDirectory("aggnav_full").toString
    val base = fact.filter(col("y") < 1997)
    val delta = fact.filter(col("y") >= 1997)
    val grains = Seq("ym" -> Seq("y", "m"), "status" -> Seq("status"))
    val reg0 = AggNavigator.register(base, grains, measures, r1)
    val incr = AggNavigator.refresh(reg0, delta)
    val full = AggNavigator.register(fact, grains, measures, r2)
    for (groupCols <- Seq(Seq("y"), Seq("y", "m"), Seq("status"))) {
      assert(rows(AggNavigator.navigate(incr, fact, groupCols), groupCols) ===
        rows(AggNavigator.navigate(full, fact, groupCols), groupCols),
        s"incrementally-refreshed route for $groupCols diverged from rebuild")
    }
    // cost model re-measured: refreshed tables carry post-append counts
    assert(incr.aggs.map(_.rows) === full.aggs.map(_.rows))
    // the refresh re-sums stored decimal partials; they are stored at
    // the type that fold produces, so the files keep the registered
    // schema and the pre-refresh registry still describes them
    assertSchemasAsRead(incr)
    assert(incr.aggs.map(_.schema) === reg0.aggs.map(_.schema))
    assert(incr.aggs.map(_.schema) === full.aggs.map(_.schema))
    assert(full.aggs.head.schema("__p_sum_avg_price").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 2))
  }

  test("sketch distinct-count: routed estimate EQUALS the direct estimate") {
    // HLL registers union with max, so the union of per-grain
    // sub-sketches is register-identical to the sketch over the raw
    // rows — same sketch, same estimator, same number.
    val m = Seq[AggNavigator.Measure](
      AggNavigator.CountAll("n"),
      AggNavigator.DistinctSketch("approx_custs", "cust"))
    val f = TestSpark.table("orders").select(
      year(col("o_orderdate")).as("y"), col("o_custkey").as("cust"))
    val r = java.nio.file.Files.createTempDirectory("aggnav_hll").toString
    val reg = AggNavigator.register(f, Seq("ym" ->
      Seq("y")), m, r)
    val routed = rows(AggNavigator.navigate(reg, f, Seq("y")), Seq("y"))
    val direct = rows(f.groupBy(col("y"))
      .agg(m.map(_.direct).head, m.map(_.direct).tail: _*), Seq("y"))
    assert(routed === direct)
    // and the estimate survives an incremental refresh (sketch-fold)
    val reg2 = AggNavigator.refresh(
      AggNavigator.register(f.filter(col("y") < 1997),
        Seq("ym" -> Seq("y")), m,
        java.nio.file.Files.createTempDirectory("aggnav_hll2").toString),
      f.filter(col("y") >= 1997))
    assert(rows(AggNavigator.navigate(reg2, f, Seq("y")), Seq("y")) === direct)
  }

  test("foreachBatch registry maintenance: streamed appends ≡ full rebuild") {
    // the agg tables' production lifecycle: fact files arrive, each
    // micro-batch folds its partials into every registered table —
    // the base fact is never rescanned (the CubeSpec q207 pattern,
    // applied to the whole registry)
    val base = java.nio.file.Files.createTempDirectory("aggnav_stream").toString
    val src = s"$base/src"
    (0 until 3).foreach(i => fact.filter(pmod(col("y"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(src))
    val grains = Seq("ym" -> Seq("y", "m"), "status" -> Seq("status"))
    // seed: an empty registry (zero-row tables, correct schema)
    var reg = AggNavigator.register(fact.filter(lit(false)), grains,
      measures, s"$base/aggs")
    val q = spark.readStream.schema(fact.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // batchId makes the fold replay-safe under foreachBatch's
        // at-least-once redelivery
        reg = AggNavigator.refresh(reg, batch, Some(id))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "maintenance stream timed out")
    val full = AggNavigator.register(fact, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_full2").toString)
    for (groupCols <- Seq(Seq("y"), Seq("y", "m"), Seq("status"))) {
      assert(rows(AggNavigator.navigate(reg, fact, groupCols), groupCols) ===
        rows(AggNavigator.navigate(full, fact, groupCols), groupCols),
        s"stream-maintained route for $groupCols diverged from rebuild")
    }
    assert(reg.aggs.map(_.rows) === full.aggs.map(_.rows))
  }

  test("a redelivered batch is absorbed once: refresh is replay-safe per table") {
    val base = fact.filter(col("y") < 1997)
    val b42 = fact.filter(col("y") === 1997)
    val b43 = fact.filter(col("y") > 1997)
    val grains = Seq("yearly" -> Seq("y"), "status" -> Seq("status"))
    val reg0 = AggNavigator.register(base, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_replay").toString)
    val once = AggNavigator.refresh(reg0, b42, Some(42L))
    // the at-least-once retry: same batch id, delivered again
    val twice = AggNavigator.refresh(once, b42, Some(42L))
    val upTo97 = fact.filter(col("y") <= 1997)
    val want = rows(AggNavigator.navigate(once, upTo97, Seq("y")), Seq("y"))
    assert(rows(AggNavigator.navigate(twice, upTo97, Seq("y")), Seq("y"))
      === want, "a replayed batch must not double-count")
    assert(AggNavigator.audit(twice, upTo97).collect()
      .forall(_.getBoolean(2)))
    // a crash BETWEEN tables: table 1 carries batch 43's marker (its
    // publish landed) but table 2 does not — redelivering 43 must
    // skip table 1 and absorb into table 2 only
    val m = new org.apache.hadoop.fs.Path(
      s"${twice.aggs.head.path}/_applied/43")
    val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(m.getParent); fs.create(m, true).close()
    val after = AggNavigator.refresh(twice, b43, Some(43L))
    val verdicts = AggNavigator.audit(after, fact).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    // table 1 never actually absorbed 43 (the marker lied, as it does
    // in the publish-then-crash window) → stale, which audit catches;
    // table 2 absorbed it exactly once → consistent
    assert(!verdicts(after.aggs.head.name) && verdicts(after.aggs(1).name),
      s"marker must skip exactly the marked table: $verdicts")
  }

  test("a retry handed the pre-refresh registry serves and audits like the rebuild") {
    // at-least-once after a crash part-way through the registry: the
    // crashed refresh returned nothing, so the retry holds only the
    // registry it started from, while table files already moved on
    val base = fact.filter(col("y") < 1997)
    val b7 = fact.filter(col("y") >= 1997)
    val grains = Seq("yearly" -> Seq("y"), "status" -> Seq("status"))
    val reg0 = AggNavigator.register(base, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_retry").toString)
    val once = AggNavigator.refresh(reg0, b7, Some(7L))
    val retried = AggNavigator.refresh(reg0, b7, Some(7L))
    assertSchemasAsRead(retried)
    assert(retried.aggs.map(_.rows) === once.aggs.map(_.rows))
    val full = AggNavigator.register(fact, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_retry_full").toString)
    // the retried registry, and the stale one itself, read the
    // refreshed files and answer like the rebuild
    for (r <- Seq(retried, reg0); groupCols <- Seq(Seq("y"), Seq("status"))) {
      assert(rows(AggNavigator.navigate(r, fact, groupCols), groupCols) ===
        rows(AggNavigator.navigate(full, fact, groupCols), groupCols),
        s"route for $groupCols diverged from rebuild")
      assert(AggNavigator.audit(r, fact).collect().forall(_.getBoolean(2)))
    }
  }

  test("registerShared ≡ register bit-for-bit (sketch bytes included) from ONE fact scan") {
    val grains = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
      "status_prio" -> Seq("status", "prio"))
    // DistinctSketch included: the shared Expand route must produce
    // REGISTER-identical sketch bytes, not just equal estimates
    val ms = measures :+ AggNavigator.DistinctSketch("uprio", "prio")
    // build-plan proof: the one fact-touching job in registerShared
    // writes sharedPartials, whose plan reads the fact EXACTLY once
    // (one Expand over one scan — not one scan per grain)
    val gsPlan = AggNavigator.sharedPartials(fact, grains, ms)
      .queryExecution.optimizedPlan
    val factScans = gsPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(factScans.size === 1,
      s"shared build must read the fact once, saw ${factScans.size} scans")
    assert(gsPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }.nonEmpty, "shared build should go through one GROUPING SETS Expand")
    val rootA = java.nio.file.Files.createTempDirectory("aggnav_sep").toString
    val rootB = java.nio.file.Files.createTempDirectory("aggnav_shared").toString
    val sep = AggNavigator.register(fact, grains, ms, rootA)
    val shared = AggNavigator.registerShared(fact, grains, ms, rootB)
    assert(shared.aggs.map(a => (a.name, a.grain, a.rows)) ===
      sep.aggs.map(a => (a.name, a.grain, a.rows)))
    assertSchemasAsRead(sep)
    assertSchemasAsRead(shared)
    for ((a, b) <- sep.aggs.zip(shared.aggs)) {
      val left = spark.read.parquet(a.path)
      val cols = left.columns.sorted.toSeq
      def dump(p: String) = spark.read.parquet(p)
        .select(cols.map(c => col(c).cast("string").as(c)): _*)
        .orderBy(cols.map(col): _*).collect().toSeq.map(_.toSeq)
      assert(dump(a.path) === dump(b.path),
        s"stored rows diverge for grain ${a.name}")
      // sketch partials compared as raw bytes, not stringified
      val sk = (p: String) => spark.read.parquet(p)
        .select(col("__p_hll_uprio"))
        .collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
      assert(sk(a.path) === sk(b.path),
        s"sketch bytes diverge for grain ${a.name}")
    }
    // the staging directory does not outlive the build
    assert(!new java.io.File(s"$rootB/__gs_stage").exists())
    // and the shared registry serves/refreshes like the per-grain one
    val delta = fact.filter(col("y") === 1997)
    val r1 = AggNavigator.refresh(sep, delta)
    val r2 = AggNavigator.refresh(shared, delta)
    for (groupCols <- Seq(Seq("y"), Seq("status", "prio")))
      assert(rows(AggNavigator.navigate(r2, fact, groupCols), groupCols)
        === rows(AggNavigator.navigate(r1, fact, groupCols), groupCols))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rootA))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rootB))
  }

  test("the applied-ledger survives later publishes: an OLD batch replayed after a NEWER one is still skipped") {
    val base = fact.filter(col("y") < 1996)
    val b1 = fact.filter(col("y") === 1996)
    val b2 = fact.filter(col("y") === 1997)
    val grains = Seq("yearly" -> Seq("y"))
    val reg0 = AggNavigator.register(base, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_ledger").toString)
    val r1 = AggNavigator.refresh(reg0, b1, Some(1L))
    val r2 = AggNavigator.refresh(r1, b2, Some(2L))
    // batch 2's publish rename-swapped the table directory — batch 1's
    // marker must have ridden the swap (checkpoint reset / second
    // writer redelivers ARBITRARY old batches, not just the latest)
    val ledger = new org.apache.hadoop.fs.Path(
      s"${r2.aggs.head.path}/_applied")
    val fs = ledger.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(ledger, "1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(ledger, "2")),
      "ledger must accumulate across publishes, not hold only the latest batch")
    val replayed = AggNavigator.refresh(r2, b1, Some(1L))
    val upTo97 = fact.filter(col("y") <= 1997)
    assert(rows(AggNavigator.navigate(replayed, upTo97, Seq("y")), Seq("y"))
      === rows(AggNavigator.navigate(r2, upTo97, Seq("y")), Seq("y")),
      "an old batch redelivered after newer publishes must not double-count")
    assert(AggNavigator.audit(replayed, upTo97).collect()
      .forall(_.getBoolean(2)))
    // the skip path still refreshes the cost model from the table
    assert(replayed.aggs.head.rows === r2.aggs.head.rows)
  }

  test("advise: grain cardinalities are exact, each drill credits its smallest cover, benefit-ordered") {
    val candidates = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
      "status_prio" -> Seq("status", "prio"))
    val workload = Seq(Seq("y"), Seq("y", "m"), Seq("status"), Seq("m"))
    val out = AggNavigator.advise(fact, candidates, workload).collect()
    val byName = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byName("yearly")._1 === fact.select("y").distinct().count())
    assert(byName("ym")._1 === fact.select("y", "m").distinct().count())
    assert(byName.values.map(_._2).toSet === Set(fact.count()))
    // (y) credits yearly (smaller than ym); (y,m) and (m) credit ym;
    // (status) credits status_prio
    assert(byName("yearly")._3 === 1L)
    assert(byName("ym")._3 === 2L)
    assert(byName("status_prio")._3 === 1L)
    // benefit = credited drills × (fact − grain) rows, sorted desc
    for ((g, f, n, b) <- byName.values) assert(b === n * (f - g))
    assert(out.map(_.getLong(4)).toSeq ===
      out.map(_.getLong(4)).toSeq.sorted(Ordering[Long].reverse))
  }

  test("registerShared and advise degrade to empty registries / zero reports on an empty fact") {
    val root = java.nio.file.Files.createTempDirectory("aggnav_empty").toString
    val empty = fact.filter(lit(false))
    val grains = Seq("yearly" -> Seq("y"), "status_prio" -> Seq("status", "prio"))
    val reg = AggNavigator.registerShared(empty, grains, measures, root)
    assert(reg.aggs.map(_.rows) === Seq(0L, 0L))
    assert(AggNavigator.navigate(reg, empty, Seq("y")).count() === 0)
    val advice = AggNavigator.advise(empty, grains, Seq(Seq("y")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(advice.toSet === Set(("yearly", 0L, 0L), ("status_prio", 0L, 0L)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("save/load: a restarted serving process routes identically without re-registering") {
    val root = java.nio.file.Files.createTempDirectory("aggnav_persist").toString
    val grains = Seq("yearly" -> Seq("y"), "status_prio" -> Seq("status", "prio"))
    val reg0 = AggNavigator.registerShared(fact, grains, measures, root)
    AggNavigator.save(reg0, root)
    // "restart": a registry rebuilt from disk metadata + code measures
    val loaded = AggNavigator.load(spark, measures, root)
    assert(loaded.aggs.map(a => (a.name, a.grain, a.rows, a.path)) ===
      reg0.aggs.map(a => (a.name, a.grain, a.rows, a.path)))
    assert(loaded.aggs.map(_.schema) === reg0.aggs.map(_.schema))
    assertSchemasAsRead(loaded)
    var built = false
    for (groupCols <- Seq(Seq("y"), Seq("status")))
      assert(rows(AggNavigator.navigate(loaded, { built = true; fact },
        groupCols), groupCols) ===
        rows(AggNavigator.navigate(reg0, fact, groupCols), groupCols))
    assert(!built, "loaded registry must route without the fact lineage")
    // and the loaded registry still absorbs deltas correctly (the
    // routed answer equals a direct aggregate over base ∪ delta)
    val delta = fact.filter(col("y") === 1998)
    val r1 = AggNavigator.refresh(loaded, delta)
    val want = fact.unionByName(delta)
    for (groupCols <- Seq(Seq("y"), Seq("status", "prio")))
      assert(rows(AggNavigator.navigate(r1, fact, groupCols), groupCols) ===
        rows(want.groupBy(groupCols.map(col): _*)
          .agg(measures.map(_.direct).head, measures.map(_.direct).tail: _*),
          groupCols))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("load of a registry_meta without the schema column fails naming it") {
    val root = java.nio.file.Files.createTempDirectory("aggnav_oldmeta").toString
    import spark.implicits._
    // the earlier layout: grain types as parallel arrays, no schema
    Seq((0, "yearly", Seq("y"), 3L, s"$root/agg_yearly", Seq("y"),
      Seq("\"integer\""))).toDF("idx", "name", "grain", "rows", "path",
      "grain_type_cols", "grain_type_json")
      .write.json(s"$root/registry_meta")
    val e = intercept[IllegalArgumentException](
      AggNavigator.load(spark, measures, root))
    assert(e.getMessage.contains("'schema'"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("routed navigate, navigateSets and sliced Mdx.run build with 0 Spark jobs; AggRoute.route costs 1") {
    val root = java.nio.file.Files.createTempDirectory("aggnav_jobs").toString
    val factPath = s"$root/fact"
    fact.write.parquet(factPath)
    val staged = spark.read.parquet(factPath)
    val reg = AggNavigator.registerShared(staged,
      Seq("ym" -> Seq("y", "m"), "status" -> Seq("status")), measures, root)
    var built = false
    def factOf = { built = true; staged }
    try {
      val (nav, navWin) = Trace.window(spark, "routed/navigate")(
        AggNavigator.navigate(reg, factOf, Seq("y")))
      assert(navWin.jobs.size === 0)
      assert(rows(nav, Seq("y")) === rows(staged.groupBy(col("y"))
        .agg(measures.map(_.direct).head, measures.map(_.direct).tail: _*),
        Seq("y")))
      val (_, setsWin) = Trace.window(spark, "routed/navigateSets")(
        AggNavigator.navigateSets(reg, factOf, Seq("y", "m", "status"),
          Seq(Seq("y", "m"), Seq("status"), Nil)))
      assert(setsWin.jobs.size === 0)
      val mdx =
        """SELECT {[Measures].[n]} ON COLUMNS,
          | {[fecha].[m].Members} ON ROWS
          |FROM [orders] WHERE ([fecha].[y].[1996])""".stripMargin
      val (_, mdxWin) = Trace.window(spark, "routed/mdx")(Mdx.run(mdx,
        Map("orders" -> CubeQuery.CubeRef(() => factOf, registry = Some(reg))),
        Map("orders" -> Seq(Cube.Hierarchy("fecha", Seq("y", "m"))))))
      assert(mdxWin.jobs.size === 0)
      assert(!built, "routed reads must not construct the fact lineage")
      val (_, routeWin) = Trace.window(spark, "routed/route")(
        AggRoute.route(factPath, reg))
      assert(routeWin.jobs.size === 1)
    } finally {
      AggRoute.unroute(spark, factPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("audit passes fresh/refreshed tables and catches a stale one") {
    val base = fact.filter(col("y") < 1997)
    val delta = fact.filter(col("y") >= 1997)
    val grains = Seq("ym" -> Seq("y", "m"), "status" -> Seq("status"))
    val reg0 = AggNavigator.register(base, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_audit").toString)
    // stale: registered on the base, audited against the full fact
    val stale = AggNavigator.audit(reg0, fact).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(stale.values.forall(_ == false),
      s"a table that missed a load must audit inconsistent: $stale")
    // ...but consistent against the fact it actually reflects
    val selfOk = AggNavigator.audit(reg0, base).collect()
    assert(selfOk.forall(_.getBoolean(2)))
    // after absorbing the delta, consistent with the full fact again
    val reg = AggNavigator.refresh(reg0, delta)
    val fresh = AggNavigator.audit(reg, fact).collect()
    assert(fresh.forall(_.getBoolean(2)))
  }

  test("navigateSets ≡ one-pass grouping sets, gid included, per-set routing") {
    val grains = Seq("ym" -> Seq("y", "m"), "status_prio" ->
      Seq("status", "prio"))
    val reg = AggNavigator.register(fact, grains, measures,
      java.nio.file.Files.createTempDirectory("aggnav_sets").toString)
    val levels = Seq("y", "m", "status", "prio")
    val sets = Seq(Seq.empty[String], Seq("y"), Seq("y", "m"),
      Seq("status"), Seq("y", "status"))
    var factBuilt = 0
    val served = AggNavigator.navigateSets(reg,
      { factBuilt += 1; fact }, levels, sets)
    // only the uncovered (y, status) set may construct the fact lineage
    assert(factBuilt === 1,
      s"exactly one set is uncovered, fact built $factBuilt times")
    val direct = measures.map(_.direct)
    val want = fact.groupingSets(sets.map(_.map(col)), levels.map(col): _*)
      .agg((direct :+ grouping_id().cast("long").as("gid")).head,
        (direct.tail :+ grouping_id().cast("long").as("gid")): _*)
      .select((levels.map(col) :+ col("gid")) ++
        measures.map(m => col(m.name)): _*)
    def canon(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
      .sortBy(_.mkString("|"))
    assert(canon(served) === canon(want))
  }

  test("all-null measure groups agree across routes (NULL, not 0/NaN)") {
    // force a grain where some member has zero non-null prices:
    // synthesize a tiny fact where one year is entirely null-priced
    val tiny = spark.range(10).selectExpr(
      "cast(id % 2 as int) + 1990 as y",
      "case when id % 2 = 0 then cast(id as double) end as price")
    val r = java.nio.file.Files.createTempDirectory("aggnav_null").toString
    val m = Seq(AggNavigator.CountAll("n"),
      AggNavigator.ExactAvg("avg_price", "price"))
    val reg2 = AggNavigator.register(tiny, Seq("yearly" -> Seq("y")), m, r)
    val routed = rows(AggNavigator.navigate(reg2, tiny, Seq("y")), Seq("y"))
    val direct = rows(tiny.groupBy(col("y"))
      .agg(m.map(_.direct).head, m.map(_.direct).tail: _*), Seq("y"))
    assert(routed === direct)
    // the all-null year's average is NULL on both routes
    val nullRow = routed.find(_.head == 1991).get
    assert(nullRow(2) == null)
  }

  test("adviseBudget: greedy admits by initial benefit, skips what doesn't fit without stopping, re-credits within the chosen set") {
    val candidates = Seq("ym" -> Seq("y", "m"), "yearly" -> Seq("y"),
      "status_prio" -> Seq("status", "prio"))
    val workload = Seq(Seq("y"), Seq("y", "m"), Seq("status"), Seq("m"))
    val gYm = fact.select("y", "m").distinct().count()
    val gY = fact.select("y").distinct().count()
    val gSp = fact.select("status", "prio").distinct().count()
    // initial benefits (from the advise test): ym credits 2 drills,
    // yearly 1, status_prio 1 → ym ranks first. Budget fits yearly +
    // status_prio but NOT ym: the greedy must SKIP ym and admit both
    // smaller candidates (skip ≠ stop).
    val budget = gY + gSp
    assert(budget < gYm, "fixture: ym alone must overflow the budget")
    val out = AggNavigator.adviseBudget(fact, candidates, workload, budget)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(out("ym")._2 === false && out("ym")._3 === 0L)
    assert(out("yearly")._2 === true)
    assert(out("status_prio")._2 === true)
    // pick order follows the INITIAL benefit ranking among admitted
    // candidates: 2·(F−gY) [yearly after re-rank]... initial benefit:
    // yearly 1·(F−gY), status_prio 1·(F−gSp); gY < gSp ⇒ yearly's
    // benefit larger ⇒ picked first
    assert(out("yearly")._3 === 1L && out("status_prio")._3 === 2L)
    // re-credit within the CHOSEN set: (y) and (y,m) both route to
    // yearly — wait, (y,m) is NOT covered by yearly; with ym unchosen,
    // (y,m) and (m) fall to the fact: yearly credits only (y),
    // status_prio credits (status)
    assert(out("yearly")._4 === 1L)
    assert(out("status_prio")._4 === 1L)
    assert(out("ym")._4 === 0L && out("ym")._5 === 0L)
    val f = fact.count()
    assert(out("yearly")._5 === 1L * (f - gY))
    assert(out("status_prio")._5 === 1L * (f - gSp))
    // zero budget chooses nothing, reports all candidates anyway
    val none = AggNavigator.adviseBudget(fact, candidates, workload, 0L)
      .collect()
    assert(none.length === 3 && none.forall(!_.getBoolean(3)))
  }

  test("save publishes atomically: a crashed save leaves the previous metadata intact") {
    val root = java.nio.file.Files.createTempDirectory("aggnav_atomic").toString
    val grains = Seq("yearly" -> Seq("y"))
    val reg0 = AggNavigator.register(fact, grains, measures, root)
    AggNavigator.save(reg0, root)
    val metaDir = new java.io.File(s"$root/registry_meta")
    val before = metaDir.listFiles().map(f =>
      f.getName -> f.length()).toMap
    // the publish idiom: the new build lands in a hidden temp sibling
    // and swaps in by rename — simulate the crash window by asserting
    // that DURING a save the committed dir is never a partial write:
    // save again and verify load-after-save parity plus no temp debris
    AggNavigator.save(reg0, root)
    val loaded = AggNavigator.load(spark, measures, root)
    assert(loaded.aggs.map(a => (a.name, a.grain, a.rows, a.path)) ===
      reg0.aggs.map(a => (a.name, a.grain, a.rows, a.path)))
    // temp siblings are swept/consumed: nothing but the committed dir
    val siblings = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.contains("registry_meta")).toSeq
    assert(siblings === Seq("registry_meta"),
      s"publish left debris: $siblings")
    // a rewrite REPLACED the files (rename-swap), not appended in place
    val after = metaDir.listFiles().map(f => f.getName -> f.length()).toMap
    assert(after.values.sum === before.values.sum,
      "same metadata bytes after an idempotent re-save")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
