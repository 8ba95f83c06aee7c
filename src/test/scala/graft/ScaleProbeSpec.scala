package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's replicated corpus: replica 0 is the fixture, and the
  * other replicas are disjoint copies that keep every FK join 1:1. */
class ScaleProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val root = java.nio.file.Files.createTempDirectory("probe_spec").toString

  private def corpus(k: Int): String = {
    val dir = s"$root/k$k"
    if (!new java.io.File(dir).exists) ScaleProbe.writeCorpus(spark, TestSpark.sf, k, dir)
    dir
  }

  private def fixture(t: String): DataFrame = Tables.raw(spark, TestSpark.sf, t)
  private def copy(k: Int, t: String): DataFrame = Tables.raw(spark, corpus(k), t)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

  test("at k = 1 every corpus table is its fixture table") {
    Tables.names.foreach { t =>
      assert(copy(1, t).schema === fixture(t).schema, t)
      assert(sameRows(copy(1, t), fixture(t)), t)
    }
  }

  test("at k = 2 the replicated tables double, region and nation do not") {
    Tables.names.foreach { t =>
      val factor = if (t == "region" || t == "nation") 1 else 2
      assert(copy(2, t).count() === factor * fixture(t).count(), t)
    }
  }

  test("at k = 2 replica keys are disjoint and FK joins stay 1:1") {
    val keys = Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "orders" -> "o_custkey", "lineitem" -> "l_orderkey",
      "lineitem" -> "l_partkey", "lineitem" -> "l_suppkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey",
      "documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "event_id", "events" -> "user_id")
    keys.foreach { case (t, c) =>
      // two copies of a key set hold twice its distinct keys only when
      // the copies share no key
      assert(copy(2, t).select(c).distinct().count() ===
        2 * fixture(t).select(c).distinct().count(), s"$t.$c")
    }
    def joined(li: DataFrame, o: DataFrame): Long =
      li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    val base = joined(fixture("lineitem"), fixture("orders"))
    assert(base > 0)
    assert(joined(copy(2, "lineitem"), copy(2, "orders")) === 2 * base)
    // every replica-1 text differs from its replica-0 twin
    val docs = copy(2, "documents")
    val twins = docs.filter(col("doc_id") >= 100000000L)
      .select((col("doc_id") - 100000000L).as("doc_id"), col("text").as("t1"))
      .join(docs.filter(col("doc_id") < 100000000L), "doc_id")
    assert(twins.count() === fixture("documents").count())
    assert(twins.filter(col("t1") === col("text")).isEmpty)
  }

  test("queries built on the k = 1 corpus equal their fixture outputs") {
    Seq("q01_pricing", "q36_esi_etl").foreach { q =>
      val build = SparkEntry.queries(q)
      try assert(sameRows(build(spark, corpus(1)), build(spark, TestSpark.sf)), q)
      finally spark.catalog.clearCache()
    }
  }
}
