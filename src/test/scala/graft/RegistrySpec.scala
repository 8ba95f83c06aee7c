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
}
