package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Curation chain operator: the scratch+pins path is a pure
  * performance choice (bit-identical to lineage), and the composed
  * operator equals the hand-inlined chain it replaced. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs = TestSpark.table("documents")
  private val weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)

  private def run() =
    Curation.curate(docs, "doc_id", "text", "lang", "n_chars",
      threshold = 0.9, minQuality = 0.3,
      benchmark = docs.filter(col("doc_id") < 10), decontaminateN = 4,
      weights = weights, budget = 40000L,
      corpusPredicate = col("doc_id") >= 10)

  test("auto scratch: stats-gated, bit-identical, temp dir cleaned up") {
    // knob-free default on the benchmark-sized fixture: the Catalyst
    // estimate sits far under ScratchAutoBytes, so the chain stays on
    // lineage — no temp scratch directory is ever created
    val before = tempScratchDirs()
    val a = run().select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(tempScratchDirs() === before,
      "small chain must not take the auto-scratch path")
    // force the gate (threshold 0): the chain must route through its
    // own temp scratch, return the identical accepted set, and delete
    // the scratch before returning
    val b = Curation.curate(docs, "doc_id", "text", "lang", "n_chars",
      threshold = 0.9, minQuality = 0.3,
      benchmark = docs.filter(col("doc_id") < 10), decontaminateN = 4,
      weights = weights, budget = 40000L,
      corpusPredicate = col("doc_id") >= 10,
      scratchAutoBytes = 0L)
    assert(b.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === a)
    assert(tempScratchDirs() === before,
      "auto scratch must be deleted before curate returns")
    b.unpersist()
  }

  private def tempScratchDirs(): Set[String] = {
    // the auto scratch lives under the session warehouse dir (shared
    // storage on a real cluster), never under driver-local /tmp
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(wh)) Set.empty
    else fs.listStatus(wh).map(_.getPath.getName)
      .filter(_.startsWith("_graft_curation_scratch_")).toSet
  }

  test("export profile shards every accepted doc exactly once") {
    val accepted = run()
    val profile = Curation.exportProfile(accepted, "doc_id", "n_chars", 8)
      .collect()
    assert(profile.map(_.getLong(1)).sum === accepted.count())
    assert(profile.map(_.getLong(0)).toSet.subsetOf((0L until 8L).toSet))
  }

  test("sourceStats: verdict is sum-vs-threshold×count, boundary inclusive") {
    import spark.implicits._
    // srcA mean = exactly 10.0 (kept, inclusive); srcB mean 9.5 (dropped)
    val docs = Seq(
      ("srcA", 8.0), ("srcA", 12.0),
      ("srcB", 9.0), ("srcB", 10.0)
    ).toDF("source", "chars")
    val got = Curation.sourceStats(docs, "source", "chars", minMean = 10.0)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_metric"),
          r.getAs[Boolean]("kept"))).toMap
    assert(got("srcA") === ((2L, 10.0, true)))
    assert(got("srcB") === ((2L, 9.5, false)))
  }

  test("sourceFilter keeps exactly the docs of kept-verdict sources") {
    val docs = TestSpark.table("documents")
    val verdicts = Curation.sourceStats(docs, "source", "n_chars", 300.0)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("kept")).toMap
    assert(verdicts.values.toSet === Set(true, false),
      "fixture must exercise both verdicts at this threshold")
    val kept = Curation.sourceFilter(docs, "source", "n_chars", 300.0)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(kept === verdicts.filter(_._2).keySet)
  }
}
