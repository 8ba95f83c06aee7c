package graft.etl

import graft.{TestSpark, Trace}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-scoped view refresh on snapshot generations: untouched
  * buckets keep their generation dirs and files; the refreshed view
  * equals the full recompute. */
class ViewRefreshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val n = 8

  private lazy val facts = TestSpark.table("orders")
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  private lazy val dimV1 = TestSpark.table("customer")
    .select(col("c_custkey"), col("c_mktsegment"))

  private def view(dim: DataFrame): DataFrame =
    facts.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("c_custkey"),
        col("c_mktsegment"))

  // the committed manifest's bucket → generation dir mapping, read
  // from disk (the highest-numbered manifest, header lines skipped)
  private def liveGenerations(path: String): Map[Int, String] = {
    val snap = new java.io.File(path, ViewRefresh.SnapDir)
    val latest = snap.listFiles().filter(f => f.isFile &&
      f.getName.matches("v\\d+")).maxBy(_.getName)
    val body = new String(java.nio.file.Files.readAllBytes(latest.toPath),
      "UTF-8")
    body.split("\n").filterNot(l => l.isEmpty || l.startsWith("#")).map {
      l => val Array(b, d) = l.split(" ", 2); b.toInt -> d
    }.toMap
  }

  // per live bucket: its generation dir and files, name → (length, mtime)
  private def fileState(path: String)
      : Map[Int, (String, Map[String, (Long, Long)])] =
    liveGenerations(path).map { case (b, dir) =>
      val d = new java.io.File(s"$path/${ViewRefresh.SnapDir}/$dir")
      b -> (dir -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap)
    }

  test("refresh rewrites only the affected buckets, byte-identically elsewhere") {
    val root = java.nio.file.Files.createTempDirectory("vr_spec").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
    val before = fileState(path)

    val dimV2 = dimV1.withColumn("c_mktsegment",
      when(col("c_custkey") % 29 === 0, lit("UPDATED"))
        .otherwise(col("c_mktsegment")))
    val changed = dimV1.filter(col("c_custkey") % 29 === 0)
      .select(col("c_custkey"))
    val buckets = ViewRefresh.affectedBuckets(changed, col("c_custkey"), n)
    assert(buckets.nonEmpty && buckets.size < n,
      s"fixture must leave some buckets untouched, got $buckets")
    ViewRefresh.refreshSnapshot(view(dimV2), col("c_custkey"), n, buckets,
      path)
    val after = fileState(path)

    assert(after.keySet === before.keySet)
    for ((b, state) <- before if !buckets.contains(b))
      assert(after(b) === state, s"untouched bucket $b changed")
    assert(buckets.forall(b => after(b)._1 != before(b)._1),
      "affected buckets should have been published as new generations")
    // the previous generation's dirs are still on disk (no vacuum ran):
    // a reader of the old snapshot keeps every file it listed
    buckets.foreach { b =>
      assert(new java.io.File(
        s"$path/${ViewRefresh.SnapDir}/${before(b)._1}").isDirectory)
    }

    // the refreshed view IS the full recompute
    val got = ViewRefresh.readSnapshot(spark, path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)"))
        .as("rev"))
      .orderBy("c_mktsegment").collect().toSeq.map(_.toSeq)
    val want = view(dimV2)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)"))
        .as("rev"))
      .orderBy("c_mktsegment").collect().toSeq.map(_.toSeq)
    assert(got === want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("co-bucketed source layout: the refresh filter prunes the fact SCAN, cost scales with affected buckets") {
    val root = java.nio.file.Files.createTempDirectory("vr_prune").toString
    val factPath = s"$root/fact"
    val path = s"$root/view"
    // the fact laid out co-bucketed on ITS dim key copy
    ViewRefresh.materializeSource(facts, col("o_custkey"), n, factPath)
    // view built FROM the layout, carrying the partition column
    def viewFrom(dim: DataFrame): DataFrame =
      spark.read.parquet(factPath)
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("c_custkey"),
          col("c_mktsegment"), col(ViewRefresh.BucketCol))
    ViewRefresh.materializeSnapshot(viewFrom(dimV1), col("c_custkey"), n,
      path)

    val dimV2 = dimV1.withColumn("c_mktsegment",
      when(col("c_custkey") === 1, lit("UPDATED"))
        .otherwise(col("c_mktsegment")))
    val changed = dimV1.filter(col("c_custkey") === 1).select(col("c_custkey"))
    val buckets = ViewRefresh.affectedBuckets(changed, col("c_custkey"), n)
    assert(buckets.size === 1)

    // plan assert: the scoped frame's fact scan carries the bucket
    // predicate as a PARTITION filter, not a post-join filter
    val scoped = viewFrom(dimV2)
      .filter(col(ViewRefresh.BucketCol).isin(buckets: _*))
    val planText = scoped.queryExecution.executedPlan.toString
    val partFilters =
      "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(planText)
        .map(_.group(1)).toSeq
    assert(partFilters.exists(_.contains(ViewRefresh.BucketCol)),
      s"bucket filter must prune the fact scan:\n$planText")

    // cost probe: rows actually read scale with affected buckets
    def rowsScanned(df: DataFrame): Long = {
      df.collect()
      val top = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      top.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val total = facts.count()
    val pruned = rowsScanned(spark.read.parquet(factPath)
      .filter(col(ViewRefresh.BucketCol).isin(buckets: _*)))
    assert(pruned < total / 2,
      s"1 of $n buckets should read a fraction of the fact: $pruned of $total")

    // and the refresh through the carried column lands the same state
    // as a full recompute — the carried-scoped fast path is EARNED by
    // declaring the co-bucketed source, whose sidecar pins the count
    ViewRefresh.refreshSnapshot(viewFrom(dimV2), col("c_custkey"), n, buckets,
      path, sourceLayout = Some(factPath))
    val got = ViewRefresh.readSnapshot(spark, path)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment").collect().map(r => r.getString(0) -> r.getLong(1))
    val want = view(dimV2)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq === want.toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a carried bucket column from a MISMATCHED layout fails the refresh loudly") {
    val root = java.nio.file.Files.createTempDirectory("vr_mismatch").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
    // the source was bucketed on the WRONG key (orderkey, not the dim
    // key) — refreshing through that carried column would replace the
    // wrong buckets; the verify pass must reject it instead
    val wrong = view(dimV1).withColumn(ViewRefresh.BucketCol,
      ViewRefresh.bucketOf(col("o_orderkey"), n))
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(wrong, col("c_custkey"), n, Seq(0, 1), path)
    }
    assert(e.getMessage.contains("bucketed on a different key"))
    assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(1L),
      "a refused refresh must not publish")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a deletion that empties a bucket removes its stale partition") {
    import spark.implicits._
    // 3 keys spread over 64 buckets → each key alone in its bucket
    val nb = 64
    val dimA = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "seg")
    val factsT = Seq((1L, 10.0), (2L, 20.0), (2L, 21.0), (3L, 30.0))
      .toDF("k", "amount")
    def v(d: org.apache.spark.sql.DataFrame) = factsT.join(d, Seq("k"))
    val root = java.nio.file.Files.createTempDirectory("vr_del").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(v(dimA), col("k"), nb, path)
    assert(ViewRefresh.readSnapshot(spark, path)
      .filter(col("k") === 2L).count() === 2)
    // member k=2 is DELETED from the dimension: the inner join drops
    // its rows, its bucket's recomputed content is empty — the refresh
    // writes nothing for it, so only leaving the manifest removes it
    val dimB = dimA.filter(col("k") =!= 2L)
    val changed = Seq(Tuple1(2L)).toDF("k")
    val buckets = ViewRefresh.affectedBuckets(changed, col("k"), nb)
    ViewRefresh.refreshSnapshot(v(dimB), col("k"), nb, buckets, path)
    val left = ViewRefresh.readSnapshot(spark, path)
    assert(left.filter(col("k") === 2L).count() === 0,
      "deleted member's rows must not survive the refresh")
    assert(left.count() === 2)
    assert(buckets.forall(b => !liveGenerations(path).contains(b)),
      "the emptied bucket must leave the manifest")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a FINER carried layout (multiple of nBuckets) is caught — computed scoping sees the rows carried scoping would exclude") {
    val root = java.nio.file.Files.createTempDirectory("vr_finer").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
    // the ADVICE scenario: carried = pmod(hash, 2n) — rows whose carried
    // value is in [n, 2n) have a TRUE bucket in [0, n); a carried-scoped
    // refresh would silently drop them from the rewritten buckets.
    // Computed scoping selects them, and the disagreement check fires.
    val finer = view(dimV1).withColumn(ViewRefresh.BucketCol,
      ViewRefresh.bucketOf(col("c_custkey"), 2 * n))
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(finer, col("c_custkey"), n, (0 until n),
        path)
    }
    assert(e.getMessage.contains("disagrees with bucketOf"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("materialize verifies a carried bucket column in the write pass") {
    val root = java.nio.file.Files.createTempDirectory("vr_matguard").toString
    val path = s"$root/view"
    val wrong = view(dimV1).withColumn(ViewRefresh.BucketCol,
      ViewRefresh.bucketOf(col("o_orderkey"), n))
    val e = intercept[Exception] {
      ViewRefresh.materializeSnapshot(wrong, col("c_custkey"), n, path)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("disagrees with bucketOf")),
      s"want the in-pass guard message, got: ${messages(e)}")
    assert(ViewRefresh.snapshotGenerations(spark, path).isEmpty,
      "a failed build must not commit a manifest")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("refresh refuses a bucket count that contradicts the table's layout sidecar") {
    val root = java.nio.file.Files.createTempDirectory("vr_sidecar").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(view(dimV1), col("c_custkey"), 2 * n,
        Seq(0), path)
    }
    assert(e.getMessage.contains(s"materialized with $n"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("snapshot refresh: a concurrent reader NEVER errors and never sees torn data") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_snap").toString
    val path = s"$root/view"
    val dims = Seq(
      Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "seg"),
      Seq((1L, "A2"), (2L, "B2"), (3L, "C2")).toDF("k", "seg"))
    val factsT = (1L to 3L).flatMap(k => (1 to 40).map(i =>
      (k, k * 100.0 + i))).toDF("k", "amount")
    def v(d: DataFrame) = factsT.join(broadcast(d), Seq("k"))
    ViewRefresh.materializeSnapshot(v(dims(0)), col("k"), nb, path)
    val buckets = ViewRefresh.affectedBuckets(dims(0).select("k"),
      col("k"), nb)

    @volatile var stop = false
    val torn = new java.util.concurrent.atomic.AtomicLong
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reads = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val rows = ViewRefresh.readSnapshot(spark, path)
            .groupBy("seg").agg(count(lit(1)).as("n")).collect()
          val total = rows.map(_.getLong(1)).sum
          // a snapshot is ALL-old or ALL-new: one manifest, one list
          val segs = rows.map(_.getString(0)).toSet
          if (total != 120 ||
            !(segs == Set("A", "B", "C") || segs == Set("A2", "B2", "C2")))
            torn.incrementAndGet(): Unit
          reads.incrementAndGet(): Unit
        } catch { case t: Throwable => errs.add(t): Unit }
      }
    })
    reader.start()
    try {
      (1 to 10).foreach { i =>
        ViewRefresh.refreshSnapshot(v(dims(i % 2)), col("k"), nb, buckets,
          path)
      }
    } finally {
      stop = true
      reader.join(30000)
    }
    assert(errs.isEmpty, s"reader errored: ${Option(errs.peek()).orNull}")
    assert(torn.get() === 0, s"reader observed ${torn.get()} torn snapshots")
    assert(reads.get() > 0, "reader never completed a read")

    // a direct parquet read of a snapshot view fails LOUDLY (no silent
    // union of generations)
    intercept[Exception] { spark.read.parquet(path).count() }

    // vacuum with a zero horizon drops everything the current manifest
    // doesn't reference; the view still reads whole afterwards
    val removed = ViewRefresh.vacuumSnapshot(spark, path, horizonMs = 0L)
    assert(removed > 0, "10 refreshes must leave unreferenced generations")
    assert(ViewRefresh.readSnapshot(spark, path).count() === 120)
    // and every surviving generation dir is referenced
    val snap = new java.io.File(s"$path/${ViewRefresh.SnapDir}")
    val gens = snap.listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("."))
    assert(gens.toSet.size === buckets.size,
      s"expected exactly one live generation per affected bucket: ${gens.toSeq}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("bucketOf is stable across calls (refresh targets the right partition)") {
    val a = ViewRefresh.affectedBuckets(dimV1.limit(50).select("c_custkey"),
      col("c_custkey"), n)
    val b = ViewRefresh.affectedBuckets(dimV1.limit(50).select("c_custkey"),
      col("c_custkey"), n)
    assert(a === b)
  }

  test("a NULL carried bucket is a loud disagreement, not a silent Hive-default row") {
    val root = java.nio.file.Files.createTempDirectory("vr_null").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
    // an outer-join view can carry NULL pbucket on unmatched rows;
    // non-null-safe =!= would let them slip through the verify and
    // land in __HIVE_DEFAULT_PARTITION__
    val withNull = view(dimV1).withColumn(ViewRefresh.BucketCol,
      when(col("c_custkey") === 1L, lit(null).cast("int"))
        .otherwise(ViewRefresh.bucketOf(col("c_custkey"), n)))
    val buckets = ViewRefresh.affectedBuckets(
      dimV1.filter(col("c_custkey") === 1L).select("c_custkey"),
      col("c_custkey"), n)
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(withNull, col("c_custkey"), n, buckets,
        path)
    }
    assert(e.getMessage.contains("disagrees"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("pruned scoping with a wrong-key layout that yields ZERO scoped rows is caught, not treated as emptied buckets") {
    import spark.implicits._
    val nb = 64
    val root = java.nio.file.Files.createTempDirectory("vr_vacuous").toString
    val srcPath = s"$root/src"
    val path = s"$root/view"
    val rows = Seq((1L, 0L, 1.0), (2L, 0L, 2.0)).toDF("k", "wrong", "amt")
    val buckets = ViewRefresh.affectedBuckets(rows.select("k"), col("k"), nb)
    // pick a wrong-key value whose bucket misses every affected bucket
    val wrongVal = (100L to 300L).find { w =>
      val b = ViewRefresh.affectedBuckets(
        Seq(Tuple1(w)).toDF("w"), col("w"), nb)
      b.forall(x => !buckets.contains(x))
    }.get
    val facts2 = rows.withColumn("wrong", lit(wrongVal))
    // the source layout was bucketed on the WRONG column, same count —
    // the sidecar handshake alone cannot see it
    ViewRefresh.materializeSource(facts2.select("k", "wrong", "amt"),
      col("wrong"), nb, srcPath)
    ViewRefresh.materializeSnapshot(facts2.select("k", "amt"), col("k"), nb,
      path)
    val carriedWrong = spark.read.parquet(srcPath) // carries wrong-key pbucket
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(carriedWrong, col("k"), nb, buckets, path,
        sourceLayout = Some(srcPath))
    }
    assert(e.getMessage.contains("does not match this key"))
    // and no manifest dropped the buckets as "emptied"
    assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(1L))
    assert(ViewRefresh.readSnapshot(spark, path).count() === 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("re-materializing a snapshot view publishes ABOVE the current generation — the rebuild is visible") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_snapgen").toString
    val path = s"$root/view"
    val v1 = Seq((1L, "old")).toDF("k", "tag")
    val v2 = Seq((1L, "mid"), (2L, "mid")).toDF("k", "tag")
    val v3 = Seq((3L, "rebuilt")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(v1, col("k"), nb, path)
    ViewRefresh.refreshSnapshot(v2, col("k"), nb,
      ViewRefresh.affectedBuckets(v2.select("k"), col("k"), nb), path)
    // full rebuild with different content
    ViewRefresh.materializeSnapshot(v3, col("k"), nb, path)
    val got = ViewRefresh.readSnapshot(spark, path)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("tag"))).toSet
    assert(got === Set((3L, "rebuilt")),
      "the rebuild must supersede the refreshed generations")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("snapshot reads build with 0 jobs from the manifest schema, as an inferring read would type them") {
    val root = java.nio.file.Files.createTempDirectory("vr_schema").toString
    val path = s"$root/view"
    ViewRefresh.materializeSnapshot(view(dimV1), col("c_custkey"), n, path)
    val gen1 = liveGenerations(path)
    val dimV2 = dimV1.withColumn("c_mktsegment",
      when(col("c_custkey") % 13 === 0, lit("UPDATED"))
        .otherwise(col("c_mktsegment")))
    ViewRefresh.refreshSnapshot(view(dimV2), col("c_custkey"), n,
      ViewRefresh.affectedBuckets(dimV1.filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey")), col("c_custkey"), n), path)
    val gen2 = liveGenerations(path)
    assert(gen2 !== gen1)
    // fewer than 32 dirs: the listing stays on the driver, so any job
    // here would be footer inference
    assert(gen2.size < 32)
    def inferred(gen: Map[Int, String]): DataFrame = spark.read.parquet(
      gen.values.map(d => s"$path/${ViewRefresh.SnapDir}/$d").toSeq: _*)
    for ((read, gen) <- Seq(
        (() => ViewRefresh.readSnapshot(spark, path), gen2),
        (() => ViewRefresh.readSnapshotAsOf(spark, path, 1L), gen1))) {
      val (df, w) = Trace.window(spark, "snapshot/read")(read())
      assert(w.jobs.size === 0, "building a snapshot read started Spark jobs")
      val want = inferred(gen)
      assert(df.schema === want.schema)
      assert(df.exceptAll(want).isEmpty && want.exceptAll(df).isEmpty)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a snapshot view whose every member is deleted reads as a typed EMPTY table") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_snapempty").toString
    val path = s"$root/view"
    val dimA = Seq((1L, "A"), (2L, "B")).toDF("k", "seg")
    val factsT = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amount")
    def v(d: DataFrame) = factsT.join(d, Seq("k"))
    ViewRefresh.materializeSnapshot(v(dimA), col("k"), nb, path)
    val buckets = ViewRefresh.affectedBuckets(dimA.select("k"), col("k"), nb)
    ViewRefresh.refreshSnapshot(v(dimA.filter(lit(false))), col("k"), nb,
      buckets, path)
    val out = ViewRefresh.readSnapshot(spark, path)
    assert(out.count() === 0)
    assert(out.columns.contains("amount") &&
      out.columns.contains(ViewRefresh.BucketCol),
      s"typed empty read, got schema ${out.columns.toSeq}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("snapshot time travel: any retained generation reads whole; vacuum trims from the left, loudly") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_travel").toString
    val path = s"$root/view"
    val v1 = Seq((1L, "g1"), (2L, "g1")).toDF("k", "tag")
    // only k=1 changes in g2 — k=2's generation dir is SHARED between
    // the manifests, the case vacuum's liveness union must respect
    val v2 = Seq((1L, "g2"), (2L, "g1")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(v1, col("k"), nb, path)
    ViewRefresh.refreshSnapshot(v2, col("k"), nb,
      ViewRefresh.affectedBuckets(Seq(Tuple1(1L)).toDF("k"), col("k"), nb),
      path)
    assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(1L, 2L))
    def tags(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("tag"))).toSet
    assert(tags(ViewRefresh.readSnapshot(spark, path)) ===
      Set((1L, "g2"), (2L, "g1")))
    assert(tags(ViewRefresh.readSnapshotAsOf(spark, path, 1L)) ===
      Set((1L, "g1"), (2L, "g1")))
    // an infinite horizon keeps both generations readable
    assert(ViewRefresh.vacuumSnapshot(spark, path, Long.MaxValue) === 0)
    assert(tags(ViewRefresh.readSnapshotAsOf(spark, path, 1L)) ===
      Set((1L, "g1"), (2L, "g1")))
    // a zero horizon trims generation 1 — and the time-travel read
    // fails LOUDLY with the available range, never a partial snapshot
    assert(ViewRefresh.vacuumSnapshot(spark, path, 0L) > 0)
    assert(tags(ViewRefresh.readSnapshot(spark, path)) ===
      Set((1L, "g2"), (2L, "g1")),
      "the latest snapshot must survive the vacuum intact")
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.readSnapshotAsOf(spark, path, 1L)
    }
    assert(e.getMessage.contains("not published"))
    assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(2L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("racing snapshot publishers: every silent success is a DISTINCT generation, losers are loud") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_race").toString
    val path = s"$root/view"
    val base = Seq((1L, "base")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(base, col("k"), nb, path)
    val buckets = ViewRefresh.affectedBuckets(base.select("k"), col("k"), nb)
    // two writers fire together per round. The invariant that forbids
    // SILENT LOSS: manifests added == silent successes (a same-
    // generation double-"success" would add one manifest for two
    // claims — the read-back verify must make one of them throw).
    val frames = Seq(Seq((1L, "w0")).toDF("k", "tag"),
      Seq((1L, "w1")).toDF("k", "tag"))
    (1 to 6).foreach { round =>
      val before = ViewRefresh.snapshotGenerations(spark, path).size
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val winners =
        new java.util.concurrent.ConcurrentLinkedQueue[String]
      val threads = (0 to 1).map { w =>
        new Thread(() => {
          barrier.await()
          try {
            ViewRefresh.refreshSnapshot(frames(w), col("k"), nb, buckets,
              path)
            winners.add(s"w$w"): Unit
          } catch { case _: java.io.IOException => () } // loud loser
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      val added =
        ViewRefresh.snapshotGenerations(spark, path).size - before
      assert(added === winners.size(),
        s"round $round: $added manifests for ${winners.size()} silent " +
          "successes — a racer was silently dropped")
      assert(winners.size() >= 1, s"round $round: both writers failed")
      // the committed snapshot is always a COMPLETE state from one
      // writer, never a mix — and it must be a writer that REPORTED
      // success (the r15 review's empirical failure mode: the manifest
      // winner serving the data of the thread that threw)
      val tags = ViewRefresh.readSnapshot(spark, path)
        .collect().map(_.getAs[String]("tag")).toSet
      assert(tags.size === 1, s"round $round: torn snapshot $tags")
      val okTags = (0 to 1).map(w => s"w$w")
        .filter(t => winners.contains(t)).toSet
      assert(okTags(tags.head),
        s"round $round: served ${tags.head} but the silent successes " +
          s"were $okTags — a successful writer's data was dropped")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("corrupt manifests: GC never wedges, good lines stay live, reads are named-loud") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_corrupt").toString
    val path = s"$root/view"
    val v1 = Seq((1L, "a"), (2L, "a")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(v1, col("k"), nb, path)
    ViewRefresh.refreshSnapshot(Seq((1L, "b"), (2L, "b")).toDF("k", "tag"),
      col("k"), nb,
      ViewRefresh.affectedBuckets(v1.select("k"), col("k"), nb), path)
    val snap = new org.apache.hadoop.fs.Path(s"$path/${ViewRefresh.SnapDir}")
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    // corrupt the RETAINED older manifest v1 by appending one bad line
    // (its well-formed lines must keep their generations alive) and
    // the LATEST v2 by appending an overlong numeral (vacuum must not
    // wedge; reads must throw the NAMED error)
    def append(gen: Long, line: String): Unit = {
      val mp = new org.apache.hadoop.fs.Path(snap, f"v$gen%018d")
      val body = {
        val in = fs.open(mp)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      }
      val out = fs.create(mp, true)
      out.write((body + "\n" + line).getBytes("UTF-8")); out.close()
    }
    append(1L, "not-a-bucket line")
    append(2L, "99999999999 pbucket=9-g9-deadbeef")
    // the READ of a corrupt manifest is a NAMED error, not a raw
    // NumberFormatException / MatchError
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.readSnapshot(spark, path)
    }
    assert(e.getMessage.contains("corrupt snapshot manifest"))
    // vacuum does NOT wedge, and v1's well-formed lines keep their
    // generation dirs alive (an infinite horizon removes nothing)
    assert(ViewRefresh.vacuumSnapshot(spark, path, Long.MaxValue) === 0)
    val dirs = fs.listStatus(snap).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
    // both generations' dirs survive: v1 (corrupt but lenient-parsed)
    // still references its g1 dirs
    assert(dirs.exists(_.contains("-g1-")) && dirs.exists(_.contains("-g2-")),
      s"generation dirs lost under a corrupt manifest: $dirs")
    // time travel to the intact part of history still works after a
    // zero-horizon vacuum trims v1 (the corrupt latest is never
    // deleted — it is the current manifest)
    assert(ViewRefresh.vacuumSnapshot(spark, path, 0L) > 0)
    assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(2L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("vacuum ABORTS on a manifest READ failure — nothing deleted, table intact (never an emptied live set)") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_gcfault").toString
    val path = s"$root/view"
    val v1 = Seq((1L, "g1"), (2L, "g1")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(v1, col("k"), nb, path)
    ViewRefresh.refreshSnapshot(Seq((1L, "g2"), (2L, "g2")).toDF("k", "tag"),
      col("k"), nb,
      ViewRefresh.affectedBuckets(v1.select("k"), col("k"), nb), path)
    def listing(): Set[String] = {
      val d = new java.io.File(s"$path/${ViewRefresh.SnapDir}")
      d.listFiles().map(_.getName).toSet
    }
    val before = listing()
    // the r15 data-loss scenario: a TRANSIENT I/O failure reading a
    // SURVIVING manifest (here: every manifest) — the old code
    // swallowed it, contributed Seq.empty to the live set, and the
    // sweep deleted every generation dir past the horizon. The fix:
    // the whole pass aborts LOUDLY before any deletion.
    val e = intercept[java.io.IOException] {
      ViewRefresh.vacuumSnapshotImpl(spark, path, 0L,
        (_, _) => throw new java.io.IOException("injected read blip"))
    }
    assert(e.getMessage.contains("nothing was deleted"))
    assert(listing() === before,
      "an aborted vacuum must not have deleted ANYTHING")
    assert(ViewRefresh.readSnapshot(spark, path).count() === 2)
    // the blip clears → the next scheduled pass vacuums normally
    assert(ViewRefresh.vacuumSnapshot(spark, path, 0L) > 0)
    assert(ViewRefresh.readSnapshot(spark, path).count() === 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("layout metadata rides the manifest commit: a rebuild that dies mid-write leaves NOTHING a later refresh can trust wrongly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vr_atomic").toString
    val path = s"$root/view"
    val v8 = Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(v8, col("k"), 8, path)
    // a REBUILD at a NEW bucket count that fails during the data
    // write (mid-write crash surrogate: a row-level raise_error) —
    // under the r15 layout the sidecar was already stamped 16 at this
    // point, so a later refresh at 16 passed the handshake and could
    // publish a mixed-layout manifest
    val poison = v8.withColumn("tag",
      when(col("k") === 2L, raise_error(lit("injected mid-write failure")))
        .otherwise(col("tag")))
    intercept[Exception] {
      ViewRefresh.materializeSnapshot(poison, col("k"), 16, path)
    }
    // the commit never happened, so the manifest header still says 8:
    // a refresh at the crashed rebuild's count is REFUSED...
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(v8, col("k"), 16,
        ViewRefresh.affectedBuckets(v8.select("k"), col("k"), 16), path)
    }
    assert(e.getMessage.contains("materialized with 8"))
    // ...and the table still serves + refreshes at its real count
    assert(ViewRefresh.readSnapshot(spark, path).count() === 3)
    ViewRefresh.refreshSnapshot(
      Seq((1L, "b"), (2L, "b"), (3L, "b")).toDF("k", "tag"), col("k"), 8,
      ViewRefresh.affectedBuckets(v8.select("k"), col("k"), 8), path)
    assert(ViewRefresh.readSnapshot(spark, path)
      .filter(col("tag") === "b").count() === 3)
    // a SUCCESSFUL rebuild at 16 commits count+data in one rename;
    // the handshake flips with it
    ViewRefresh.materializeSnapshot(v8, col("k"), 16, path)
    intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(v8, col("k"), 8, Seq(0), path)
    }
    ViewRefresh.refreshSnapshot(v8, col("k"), 16,
      ViewRefresh.affectedBuckets(v8.select("k"), col("k"), 16), path)
    assert(ViewRefresh.readSnapshot(spark, path).count() === 3)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a PARTIALLY-agreeing wrong-key layout cannot silently drop rows: the complement probe fires on every pruned refresh") {
    import spark.implicits._
    val nb = 64
    val root = java.nio.file.Files.createTempDirectory("vr_partial").toString
    val srcPath = s"$root/src"
    val path = s"$root/view"
    // two keys; the "wrong" layout column AGREES with bucketOf(k, nb)
    // for k1 (its row lands in the scoped frame and passes the
    // carried==computed verify) but parks k2 OUTSIDE every affected
    // bucket (computed ∈ buckets, carried ∉ buckets) — the r15 review
    // scenario: the scoped verify is vacuous for k2, the old
    // empty-scope-only cross-probe never fires (the scope is NOT
    // empty), and the rebuilt partitions would omit k2's row.
    val k1 = 1L
    val b1 = ViewRefresh.affectedBuckets(Seq(Tuple1(k1)).toDF("k"),
      col("k"), nb).head
    val k2 = (2L to 400L).find { k =>
      val bk = ViewRefresh.affectedBuckets(Seq(Tuple1(k)).toDF("k"),
        col("k"), nb).head
      bk != b1
    }.get
    val b2 = ViewRefresh.affectedBuckets(Seq(Tuple1(k2)).toDF("k"),
      col("k"), nb).head
    // a "wrong key" whose bucket equals b1 for row1 but misses
    // {b1, b2} for row2
    val w2 = (1000L to 2000L).find { w =>
      val bw = ViewRefresh.affectedBuckets(Seq(Tuple1(w)).toDF("w"),
        col("w"), nb).head
      bw != b1 && bw != b2
    }.get
    val rows = Seq((k1, k1, 1.0), (k2, w2, 2.0)).toDF("k", "wrong", "amt")
    ViewRefresh.materializeSource(rows, col("wrong"), nb, srcPath)
    ViewRefresh.materializeSnapshot(rows.select("k", "amt"), col("k"), nb,
      path)
    val carriedWrong = spark.read.parquet(srcPath)
    val buckets = Seq(b1, b2)
    val e = intercept[IllegalArgumentException] {
      ViewRefresh.refreshSnapshot(carriedWrong, col("k"), nb, buckets, path,
        sourceLayout = Some(srcPath))
    }
    assert(e.getMessage.contains("would DROP rows") &&
      e.getMessage.contains("does not match this key"))
    // no generation was published under the failed refresh
    assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(1L))
    assert(ViewRefresh.readSnapshot(spark, path).count() === 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a manifest missing its #nBuckets or #schema header is a named corrupt-manifest error") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_noheader").toString
    val path = s"$root/view"
    val v1 = Seq((1L, "a"), (2L, "a")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(v1, col("k"), nb, path)
    // rewritten through the Hadoop FS so its checksum file follows
    val mf = new org.apache.hadoop.fs.Path(
      s"$path/${ViewRefresh.SnapDir}/${f"v${1L}%018d"}")
    val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
    def write(text: String): Unit = {
      val out = fs.create(mf, true)
      out.write(text.getBytes("UTF-8")); out.close()
    }
    val body = {
      val in = fs.open(mf)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    Seq("#nBuckets", "#schema").foreach { tag =>
      // the header-less shape: mapping lines intact, one header dropped
      write(body.split("\n").filterNot(_.startsWith(tag + " ")).mkString("\n"))
      val read = intercept[IllegalArgumentException] {
        ViewRefresh.readSnapshot(spark, path)
      }
      assert(read.getMessage.contains("corrupt snapshot manifest") &&
        read.getMessage.contains(s"missing header $tag"), read.getMessage)
      val refresh = intercept[IllegalArgumentException] {
        ViewRefresh.refreshSnapshot(v1, col("k"), nb,
          ViewRefresh.affectedBuckets(v1.select("k"), col("k"), nb), path)
      }
      assert(refresh.getMessage.contains("corrupt snapshot manifest"))
      assert(ViewRefresh.snapshotGenerations(spark, path) === Seq(1L),
        "a refresh over a corrupt manifest must not publish")
    }
    // the intact manifest reads again
    write(body)
    assert(ViewRefresh.readSnapshot(spark, path).count() === 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("FileLeaseCoordinator: cross-process-style racers SERIALIZE — every writer commits, generations chain, zero losers") {
    import spark.implicits._
    val nb = 8
    val root = java.nio.file.Files.createTempDirectory("vr_lease").toString
    val path = s"$root/view"
    val base = Seq((1L, "base")).toDF("k", "tag")
    ViewRefresh.materializeSnapshot(base, col("k"), nb, path)
    val buckets = ViewRefresh.affectedBuckets(base.select("k"), col("k"), nb)
    // one STATELESS coordinator instance per writer — no shared JVM
    // state between them; mutual exclusion must come from the lease
    // FILE alone (exactly what two separate processes would have).
    // Contrast with the same-JVM racing spec above, where lockless
    // same-generation racers produce loud losers: here EVERY writer
    // must succeed, serialized into successive generations.
    val frames = Seq(Seq((1L, "w0")).toDF("k", "tag"),
      Seq((1L, "w1")).toDF("k", "tag"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (1 to 3).foreach { round =>
      val before = ViewRefresh.snapshotGenerations(spark, path).size
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val threads = (0 to 1).map { w =>
        new Thread(() => {
          barrier.await()
          try ViewRefresh.refreshSnapshot(frames(w), col("k"), nb, buckets,
            path, coordinator = new FileLeaseCoordinator())
          catch { case t: Throwable => errs.add(t): Unit }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"round $round: a leased writer failed: " +
        s"${Option(errs.peek()).orNull}")
      val added = ViewRefresh.snapshotGenerations(spark, path).size - before
      assert(added === 2,
        s"round $round: both writers must commit distinct generations, " +
          s"got $added new manifests")
      // the committed snapshot is the LAST writer's complete state
      val tags = ViewRefresh.readSnapshot(spark, path)
        .collect().map(_.getAs[String]("tag")).toSet
      assert(tags === Set("w0") || tags === Set("w1"),
        s"round $round: torn or stale snapshot $tags")
    }
    // a dead holder's stale lease is BROKEN once past the horizon
    val lease = new java.io.File(path, ".graft-publish-lease")
    assert(lease.createNewFile(), "fixture: plant a dead holder's lease")
    assert(lease.setLastModified(System.currentTimeMillis() - 60000))
    val quick = new FileLeaseCoordinator(leaseMs = 1000,
      acquireTimeoutMs = 30000)
    ViewRefresh.refreshSnapshot(frames(0), col("k"), nb, buckets, path,
      coordinator = quick)
    assert(ViewRefresh.readSnapshot(spark, path)
      .collect().map(_.getAs[String]("tag")).toSet === Set("w0"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
