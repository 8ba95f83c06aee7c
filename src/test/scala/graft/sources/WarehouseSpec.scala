package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cached: builds on miss, serves parquet on hit, rebuilds on force") {
    val tmp = java.nio.file.Files.createTempDirectory("cache").toString + "/wide"
    var builds = 0
    def build = { builds += 1; TestSpark.table("nation") }
    val first = Warehouse.cached(spark, tmp)(build)
    assert(builds === 1 && first.count() === 25)
    val second = Warehouse.cached(spark, tmp)(build)
    assert(builds === 1, "hit must not rebuild")
    assert(second.count() === 25)
    Warehouse.cached(spark, tmp, forceReload = true)(build)
    assert(builds === 2, "forceReload must rebuild")
  }

  test("same-bucketed tables join with no shuffle exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("wh").toString
    Warehouse.writeBucketed(TestSpark.table("orders"),
      "b_orders", s"$tmp/b_orders", "o_custkey", 8)
    Warehouse.writeBucketed(
      TestSpark.table("customer").select("c_custkey", "c_mktsegment"),
      "b_customer", s"$tmp/b_customer", "c_custkey", 8)
    // force the shuffle-join path: broadcast would hide the bucketing
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = Warehouse.colocatedJoin(spark, "b_orders", "b_customer",
        "o_custkey", "c_custkey")
      assert(!Warehouse.hasShuffle(j),
        s"expected exchange-free plan:\n${j.queryExecution.executedPlan}")
      // and it still computes the right thing
      val n = j.count()
      val expected = TestSpark.table("orders").join(
        TestSpark.table("customer"),
        col("o_custkey") === col("c_custkey")).count()
      assert(n === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  /** Rows the FINAL executed plan's parquet scan actually produced —
    * file/row-group skipping happens inside the reader, so plan text
    * can't show it; the scan's numOutputRows metric can. */
  private def rowsScanned(df: org.apache.spark.sql.DataFrame): Long = {
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

  test("writeClustered: a range predicate reads a fraction of the rows via min/max skipping") {
    val tmp = java.nio.file.Files.createTempDirectory("clu").toString
    // cluster on a DATE derivation of the NTZ event time — raw
    // TIMESTAMP_NTZ predicates don't stat-skip (see writeClustered doc)
    val li = TestSpark.table("lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"),
        col("l_extendedprice"))
    val total = li.count()

    Warehouse.writeClustered(li, s"$tmp/clustered",
      clusterCols = Seq("ship_day"), files = 16)
    // one month out of the ~7-year shipdate span
    val pred = (col("ship_day") >= lit("1995-03-01").cast("date")) &&
      (col("ship_day") < lit("1995-04-01").cast("date"))

    val clustered = rowsScanned(
      spark.read.parquet(s"$tmp/clustered").filter(pred))
    val matching = li.filter(pred).count()
    assert(matching > 0, "predicate must select something for the test to mean anything")
    // disjoint ranges per file: the reader must skip the files whose
    // min/max can't match — strictly fewer rows than the full table,
    // with comfortable margin (16 files, 1-month window over ~84)
    assert(clustered < total / 4,
      s"skipping ineffective: scanned $clustered of $total")
    assert(clustered >= matching)

    // and the layout is value-complete: same answer as the source
    val got = spark.read.parquet(s"$tmp/clustered").filter(pred).count()
    assert(got === matching)
  }

  // Morton bit-parity against a driver-side reference is pinned in
  // ZOrderSpec (interleave2 / interleaveN) — the engine's single
  // Morton implementation, which writeZOrdered now routes through.

  test("writeZOrdered (3 keys): a range predicate on ANY dimension skips " +
      "files; layoutReport shows per-file boxes") {
    val tmp = java.nio.file.Files.createTempDirectory("zo3").toString
    val li = TestSpark.table("lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val total = li.count()
    Warehouse.writeZOrdered(li,
      s"$tmp/z3", Seq("l_orderkey", "l_partkey", "l_suppkey"), files = 16)
    Warehouse.writeClustered(li, s"$tmp/c1", Seq("l_orderkey"), files = 16)
    // narrow ranges (~1/16 of each key's span, inside one top-bit
    // octant) on each of the three dimensions
    val bounds = li.agg(
      min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    def narrow(c: String, lo: Long, hi: Long) = {
      val span = hi - lo + 1
      // tiny-cardinality keys (l_suppkey has ~10 values at this SF)
      // degrade to a one-value predicate instead of an empty range
      val width = math.max(1L, span / 16)
      col(c).between(lo + span / 16, lo + span / 16 + width - 1)
    }
    def asL(i: Int) = bounds.get(i) match {
      case n: Number => n.longValue()
    }
    val preds = Seq(
      narrow("l_orderkey", asL(0), asL(1)),
      narrow("l_partkey", asL(2), asL(3)),
      narrow("l_suppkey", asL(4), asL(5)))
    def scanned(path: String, pred: org.apache.spark.sql.Column): Long =
      rowsScanned(spark.read.parquet(path).filter(pred))
    // 16 files in 3-D ≈ a 2-3 split per axis: a 1/16 slab on one axis
    // still touches a strict subset of files on EVERY axis, where the
    // 1-D layout skips only on its own key
    preds.foreach { p =>
      assert(scanned(s"$tmp/z3", p) < total * 7 / 10,
        s"3-D z-layout no skip on $p")
    }
    assert(scanned(s"$tmp/z3", preds(1)) < scanned(s"$tmp/c1", preds(1)),
      "3-D z-layout should beat 1-D clustering on a non-leading key")
    assert(scanned(s"$tmp/z3", preds(2)) < scanned(s"$tmp/c1", preds(2)),
      "3-D z-layout should beat 1-D clustering on the third key")
    // values intact, and the per-file boxes are visible to the report
    assert(spark.read.parquet(s"$tmp/z3").count() === total)
    val rep = Warehouse.layoutReport(spark, s"$tmp/z3",
      Seq("l_orderkey", "l_partkey", "l_suppkey")).collect()
    // repartitionByRange samples its bounds — allow a straggler-free
    // lower count, never more files than partitions
    assert(rep.length >= 12 && rep.length <= 16,
      s"expected ~16 files, got ${rep.length}")
  }

  test("writeZOrdered: range predicates on EITHER column skip files; 1-D clustering only helps its own key") {
    val tmp = java.nio.file.Files.createTempDirectory("zo").toString
    val li = TestSpark.table("lineitem")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
    val total = li.count()
    Warehouse.writeZOrdered(li, s"$tmp/z", "l_orderkey", "l_partkey", files = 16)
    Warehouse.writeClustered(li, s"$tmp/c", Seq("l_orderkey"), files = 16)

    // ~1/16 of each key's span, inside one top-2-bit grid quadrant —
    // a range straddling a grid-column boundary would honestly touch
    // two columns (~half the tiles) and blur the assertion
    val predA = col("l_orderkey").between(250L, 340L)
    val predB = col("l_partkey").between(30L, 42L)
    def scanned(path: String, pred: org.apache.spark.sql.Column): Long =
      rowsScanned(spark.read.parquet(path).filter(pred))

    val (zA, zB) = (scanned(s"$tmp/z", predA), scanned(s"$tmp/z", predB))
    val (cA, cB) = (scanned(s"$tmp/c", predA), scanned(s"$tmp/c", predB))
    // the z-layout skips for BOTH dimensions (16 files ≈ 4×4 grid —
    // a 1/8 range on one axis touches about a quarter of the tiles).
    // repartitionByRange SAMPLES its bounds, so tile edges wobble a
    // few percent run-to-run: assert a margin above the ideal ~25%,
    // not a knife-edge 50%
    assert(zA < total * 6 / 10, s"z-layout no skip on $predA: $zA of $total")
    assert(zB < total * 6 / 10, s"z-layout no skip on $predB: $zB of $total")
    // and on the OTHER key the z-layout must beat 1-D clustering,
    // which cannot skip there at all
    assert(zB < cB, s"z-layout ($zB) should beat 1-D layout ($cB) on $predB")
    // 1-D clustering: excellent on its own key, useless on the other
    assert(cA < total / 4, s"1-D layout should excel on its key: $cA")
    assert(cB > total / 2, s"1-D layout should NOT skip on the other key: $cB")
    // values intact
    assert(spark.read.parquet(s"$tmp/z").count() === total)
  }

  test("layoutReport: clustered layout shows disjoint ranges, random layout overlaps") {
    val li = TestSpark.table("lineitem").select("l_orderkey", "l_extendedprice")
    val tmp = java.nio.file.Files.createTempDirectory("layout").toString
    Warehouse.writeClustered(li, s"$tmp/c", Seq("l_orderkey"), files = 8)
    li.repartition(8).write.parquet(s"$tmp/r")
    val cRep = Warehouse.layoutReport(spark, s"$tmp/c", Seq("l_orderkey"))
    val rRep = Warehouse.layoutReport(spark, s"$tmp/r", Seq("l_orderkey"))
    assert(cRep.count() === 8L)
    assert(cRep.agg(sum(col("rows"))).head.getLong(0) === li.count())
    val cOv = Warehouse.overlapFraction(cRep, "l_orderkey")
    val rOv = Warehouse.overlapFraction(rRep, "l_orderkey")
    // range-clustered: each key lands in ~one file; duplicate boundary
    // keys allow a touch of overlap. Round-robin: everything overlaps.
    assert(cOv < 0.3, s"clustered overlap $cOv")
    assert(rOv > 0.9, s"random overlap $rOv")
  }

  test("overlapFraction skips files with all-NULL column stats") {
    // a file whose column is entirely NULL reports null min/max —
    // it must drop out of the pair count, not NPE
    import spark.implicits._
    val rep = Seq[(String, java.lang.Double, java.lang.Double)](
      ("f1", 0.0, 10.0), ("f2", null, null), ("f3", 5.0, 15.0))
      .toDF("file", "x_min", "x_max")
    assert(Warehouse.overlapFraction(rep, "x") === 1.0) // 1 of 1 live pair
    val allNull = Seq[(String, java.lang.Double, java.lang.Double)](
      ("f1", null, null), ("f2", null, null)).toDF("file", "x_min", "x_max")
    assert(Warehouse.overlapFraction(allNull, "x") === 0.0)
  }

  test("compact: small files rewrite into ceil(bytes/target) files with data intact") {
    val tmp = java.nio.file.Files.createTempDirectory("cpt").toString + "/t"
    val li = TestSpark.table("lineitem")
      .select("l_orderkey", "l_extendedprice")
    li.repartition(64).write.parquet(tmp)
    def dataFiles = new java.io.File(tmp).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = dataFiles.length
    assert(before === 64)
    val bytes = dataFiles.map(_.length).sum
    // exact (long) checksum: a double sum is order-dependent and the
    // rewrite legitimately reorders rows
    val checksum = spark.read.parquet(tmp)
      .agg(sum(col("l_orderkey")), count(lit(1))).head()

    val n = Warehouse.compact(spark, tmp, targetFileBytes = bytes / 4 + 1)
    assert(n <= 4 && dataFiles.length === n,
      s"expected $n data files, found ${dataFiles.length}")
    val after = spark.read.parquet(tmp)
      .agg(sum(col("l_orderkey")), count(lit(1))).head()
    assert(after === checksum)
  }
}
