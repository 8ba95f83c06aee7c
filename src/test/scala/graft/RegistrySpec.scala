package graft

import org.scalatest.funsuite.AnyFunSuite

/** The name registries Verify, Bench and ScaleProbe dispatch on. */
class RegistrySpec extends AnyFunSuite {

  test("every query has an oracle entry, bench names are declared, SparkEntry serves both") {
    val names = Queries.registry.map(_.name)
    // a Seq enforces no unique keys, and toMap would drop a duplicate
    assert(names.size === 239)
    assert(names.distinct.size === 239)
    Queries.registry.foreach(q =>
      assert(q.oracleSql.trim.nonEmpty, s"${q.name} has no oracle SQL"))
    assert(Queries.registry.count(_.bench) === 97)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
    Queries.registry.foreach { q =>
      assert(SparkEntry.queries(q.name) eq q.build)
      assert(SparkEntry.oracleSql(q.name) eq q.oracleSql)
    }
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
    val known = SparkEntry.queries.keySet
    val benched = Queries.registry.filter(_.bench).map(_.name)
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
    assert(known("q02_filter") && !benched.contains("q02_filter"))
    intercept[IllegalArgumentException](Queries.onlyNames(
      "SPARK_GRAFT_BENCH_ONLY", benched,
      Map("SPARK_GRAFT_BENCH_ONLY" -> "q02_filter")))
  }

  test("the tools resolve their query names before building a session") {
    // pure name resolution: no session is needed to reject a typo
    assert(PlanDump.queryNames("all") ===
      Queries.registry.filter(_.bench).map(_.name))
    assert(PlanDump.queryNames("q03_star, q01_pricing") ===
      Seq("q03_star", "q01_pricing"))
    val e = intercept[IllegalArgumentException](
      PlanDump.queryNames("q01_pricing,q01_pricng"))
    assert(e.getMessage.contains("PlanDump names unknown: q01_pricng"),
      e.getMessage)
    // ProfileQuery resolves its one name through the same filter
    val p = intercept[IllegalArgumentException](Queries.names(
      "ProfileQuery", "q36_esi_etI", SparkEntry.queries.keySet))
    assert(p.getMessage.contains("ProfileQuery names unknown: q36_esi_etI"),
      p.getMessage)
  }
}
