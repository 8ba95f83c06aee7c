package graft

import org.scalatest.funsuite.AnyFunSuite

/** The name registries Verify, Bench and ScaleProbe dispatch on. */
class RegistrySpec extends AnyFunSuite {

  test("every query has an oracle entry, bench names are declared, SparkEntry serves both") {
    assert(Queries.all.size === 239)
    assert(Queries.oracles.keySet === Queries.all.keySet)
    assert(Queries.benchNames.size === 97)
    assert(Queries.benchNames.distinct.size === 97)
    assert(Queries.benchNames.toSet.subsetOf(Queries.all.keySet))
    assert(SparkEntry.queries eq Queries.all)
    assert(SparkEntry.oracleSql eq Queries.oracles)
  }

  test("ScaleProbe knows exactly its 24 sets and rejects any other name") {
    assert(ScaleProbe.sets.keySet === Set(
      "r3", "r5", "r6", "r7", "r7b", "r8", "r9", "r13", "r13lookup",
      "r14", "r15", "r17", "flagship", "events", "asof", "zorder",
      "curationcmp", "curationstages", "sigfetch", "aggnav",
      "viewrefresh", "streams", "streamcompact", "eventcompact"))
    assert(ScaleProbe.set("r3") eq ScaleProbe.sets("r3"))
    Seq("r71", "aggNav", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](ScaleProbe.set(bad))
      assert(e.getMessage.contains("aggnav, asof"), e.getMessage)
    }
  }

  test("the query-name filters select known names and reject typos") {
    val known = Queries.all.keySet
    val v = "SPARK_GRAFT_ONLY"
    assert(Queries.onlyNames(v, known, Map.empty) === None)
    assert(Queries.onlyNames(v, known,
      Map(v -> " q01_pricing,q03_star ,")) ===
      Some(Set("q01_pricing", "q03_star")))
    val e = intercept[IllegalArgumentException](Queries.onlyNames(v, known,
      Map(v -> "q01_pricing,q01_pricng,q3_star")))
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY names unknown: " +
      "q01_pricng, q3_star"), e.getMessage)
    // Bench's filter is the same helper over its own 97 names: a real
    // query that is not benched is unknown there
    assert(known("q02_filter") && !Queries.benchNames.contains("q02_filter"))
    intercept[IllegalArgumentException](Queries.onlyNames(
      "SPARK_GRAFT_BENCH_ONLY", Queries.benchNames,
      Map("SPARK_GRAFT_BENCH_ONLY" -> "q02_filter")))
  }
}
