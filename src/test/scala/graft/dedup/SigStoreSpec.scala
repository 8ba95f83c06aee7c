package graft.dedup

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The signature-STORE layout ([[Dedup.writeSignatures]]) and the
  * candidate-id pushdown fetch
  * ([[Dedup.crossNearDupPairsVsSignaturesFetched]]): parity with the
  * lazy semi-join plan on every path (pushdown, over-cap fallback,
  * small-store delegate), plus the physical claims — the store
  * carries a parquet bloom filter on `id`, the fetch's `IN(id)`
  * predicate reaches the scan as a pushed filter, and row groups
  * holding no candidate are skipped (scan output rows ≪ store rows),
  * which is the whole point: per-batch stored-`sh` decode cost
  * follows the candidate count, not the accepted-corpus size. */
class SigStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = TestSpark.table("documents")

  private def withStore[A](numFiles: Int = 0)(f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("sigstore").toString
    try {
      Dedup.writeSignatures(
        Dedup.nearDupSignatures(docs, "doc_id", "text"), tmp, numFiles)
      f(tmp)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Recursive scan collector that sees through AQE stages and reused
    * exchanges — plain SparkPlan.collect stops at query-stage
    * boundaries, which would silently miss the scans under test. */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val here = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(c.relation.cachedPlan)
      case other => other.children
    }
    here ++ kids.flatMap(allScans)
  }

  test("store files carry a bloom filter on id") {
    withStore() { dir =>
      val conf = spark.sessionState.newHadoopConf()
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(conf)
      val files = fs.listStatus(base).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { file =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
        try {
          val blocks = rdr.getFooter.getBlocks
          assert(!blocks.isEmpty)
          (0 until blocks.size()).foreach { i =>
            val idChunk = blocks.get(i).getColumns.stream()
              .filter(_.getPath.toDotString == "id").findFirst().get()
            assert(idChunk.getBloomFilterOffset >= 0,
              s"row group $i of ${file.getName} has no bloom filter on id")
          }
        } finally rdr.close()
      }
      // layout round-trips: same ids, same row count
      val back = spark.read.parquet(dir)
      assert(back.count() === docs.count())
      assert(back.select("id").except(docs.select($"doc_id".as("id")))
        .count() === 0)
    }
  }

  test("fetched pairs equal the lazy semi-join plan on the scale path") {
    withStore() { dir =>
      val sigs = spark.read.parquet(dir)
      // smallRelationBytes = 0 forces the scale path (bucket prune +
      // candidate-id fetch) on the fixture-sized store
      val lazyPairs = pairSet(Dedup.crossNearDupPairsVsSignatures(
        docs, "doc_id", "text", sigs, 0.9, smallRelationBytes = 0L))
      val fetched = pairSet(Dedup.crossNearDupPairsVsSignaturesFetched(
        docs, "doc_id", "text", sigs, 0.9, smallRelationBytes = 0L))
      assert(lazyPairs.nonEmpty, "self-cross must at least match itself")
      assert(fetched === lazyPairs)
    }
  }

  test("over-cap candidate sets fall back to the semi join, same output") {
    withStore() { dir =>
      val sigs = spark.read.parquet(dir)
      val want = pairSet(Dedup.crossNearDupPairsVsSignatures(
        docs, "doc_id", "text", sigs, 0.9, smallRelationBytes = 0L))
      val got = pairSet(Dedup.crossNearDupPairsVsSignaturesFetched(
        docs, "doc_id", "text", sigs, 0.9, smallRelationBytes = 0L,
        maxFetchIds = 1))
      assert(got === want)
    }
  }

  test("past the local-pair bound the result stays distributed, same output") {
    withStore() { dir =>
      val sigs = spark.read.parquet(dir)
      val want = pairSet(Dedup.crossNearDupPairsVsSignatures(
        docs, "doc_id", "text", sigs, 0.9, smallRelationBytes = 0L))
      assert(want.size > 1, "fixture must verify more pairs than the bound")
      val got = Dedup.crossNearDupPairsVsSignaturesFetched(
        docs, "doc_id", "text", sigs, 0.9, smallRelationBytes = 0L,
        maxLocalPairs = 1)
      // over the bound the call must NOT have collected the pairs —
      // the returned plan is the distributed verify, not a local copy
      assert(!got.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(pairSet(got) === want)
    }
  }

  test("small stores delegate to the lazy plan, localized, same output") {
    withStore() { dir =>
      val sigs = spark.read.parquet(dir)
      val want = pairSet(Dedup.crossNearDupPairsVsSignatures(
        docs, "doc_id", "text", sigs, 0.9))
      val got = Dedup.crossNearDupPairsVsSignaturesFetched(
        docs, "doc_id", "text", sigs, 0.9)
      // the default gate sees a fixture-sized store as small; the
      // result must already be a materialized local relation
      assert(got.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(pairSet(got) === want)
    }
  }

  test("a disjoint batch yields no pairs without evaluating stored shingles") {
    withStore() { dir =>
      // poison the store's sh column: any row whose shingle set the
      // fetch actually evaluates blows up the job. Plan-level asserts
      // can't pin this (AQE empty-propagation collapses the no-match
      // plan to EmptyRelation, hiding the scans it skipped), but the
      // poison is execution-level truth: the candidate face reads
      // only (id, bands) — Catalyst prunes the unused sh projection —
      // so the call survives iff no shingle fetch happened
      // assert_true on a column-dependent, always-false condition:
      // throws whenever a row's sh is evaluated, can't constant-fold
      // (it references id), prunes away with the column when unused
      val poisoned = spark.read.parquet(dir).withColumn("sh",
        when(assert_true(col("id") < lit(Long.MinValue),
          lit("stored sh evaluated")).isNull, col("sh")))
      // vacuity guard: a batch WITH matches must trip the poison —
      // proving the poison survives pruning on the path under test
      val matching = docs.select($"doc_id", $"text").limit(5)
        .withColumn("doc_id", $"doc_id" + 900000L)
      intercept[Exception] {
        Dedup.crossNearDupPairsVsSignaturesFetched(matching, "doc_id",
          "text", poisoned, 0.9, smallRelationBytes = 0L)
      }
      val batch = Seq((900001L, "zq xv wk pj nm"), (900002L, "aa bb cc dd ee"))
        .toDF("doc_id", "text")
      val got = Dedup.crossNearDupPairsVsSignaturesFetched(
        batch, "doc_id", "text", poisoned, 0.9, smallRelationBytes = 0L)
      assert(got.count() === 0)
    }
  }

  test("the q202 face localizes — its finally deletes the store the " +
      "distributed fallback plan would still need") {
    val out = graft.SparkEntry.queries("q202_sigfetch_dedup")(spark, TestSpark.sf)
    assert(out.queryExecution.logical.collectLeaves().forall(
      _.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "q202 returned a plan with non-local leaves; executing it would " +
        "read the already-deleted temp signature store")
    assert(out.count() > 0)
  }

  test("IN(id) reaches the store scan pushed, and skips row groups") {
    withStore(numFiles = 4) { dir =>
      val store = spark.read.parquet(dir)
      val total = store.count()
      // candidates from one corner of the id space — the range layout
      // puts them in one file; the other three files' row groups are
      // excluded by id min/max + bloom
      val ids = store.select("id").orderBy("id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      val q = store.filter(col("id").isin(ids: _*))
      assert(q.collect().length === 5)
      val scan = allScans(q.queryExecution.executedPlan).head
      val pushed = scan.toString.linesIterator
        .find(_.contains("PushedFilters")).getOrElse("")
      assert(pushed.contains("In(id"),
        s"expected In(id, ...) in PushedFilters, got: $pushed")
      // read the metric from the SAME execution that just ran — a
      // fresh action would plan a new tree whose metrics are all 0
      val scanned = scan.metrics("numOutputRows").value
      assert(scanned > 0, "the executed scan must have decoded the hits")
      assert(scanned < total / 2,
        s"scan decoded $scanned of $total rows — no row-group skipping")
    }
  }
}
