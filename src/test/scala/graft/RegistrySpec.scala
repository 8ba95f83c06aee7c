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

  test("ScaleProbe resolves query and stream names, and rejects typos") {
    // pure name resolution: no session is needed to reject a typo
    assert(ScaleProbe.entries(" q01_pricing,streams ,q36_esi_etl") ===
      Seq("q01_pricing", "streams", "q36_esi_etl"))
    assert(ScaleProbe.entries("streamcompact,eventcompact") ===
      Seq("streamcompact", "eventcompact"))
    val e = intercept[IllegalArgumentException](
      ScaleProbe.entries("q01_pricing,flagship,q36_esi_etI"))
    assert(e.getMessage.contains(
      "ScaleProbe names unknown: flagship, q36_esi_etI"), e.getMessage)
    intercept[IllegalArgumentException](ScaleProbe.entries(" , "))
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
