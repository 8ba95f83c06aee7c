package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("normalize_string is callable from SQL") {
    val n = spark.sql("SELECT normalize_string('  Ángel   CRUZ  ') AS n")
      .head.getString(0)
    assert(n === "angel cruz")
  }

  test("vec_dot and simhash64 from SQL match the Column API") {
    val d = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(d === 11.0)
    val viaSql = spark.sql("SELECT simhash64('hello world graft') AS s")
      .head.getLong(0)
    val viaApi = {
      import spark.implicits._
      Seq("hello world graft").toDF("t")
        .select(graft.functions.simhash64(org.apache.spark.sql.functions.col("t")))
        .head.getLong(0)
    }
    assert(viaSql === viaApi)
  }

  test("minhash_sig(text, w, k) from SQL returns a k-length signature") {
    val sig = spark.sql("SELECT minhash_sig('a b c d e f', 3, 16) AS s")
      .head.getSeq[Long](0)
    assert(sig.length === 16)
  }

  test("bounded_topk is callable from SQL as a grouped aggregate") {
    val got = spark.sql(
      """SELECT g, bounded_topk(v, 2) AS top FROM VALUES
        | ('a', 5), ('a', 1), ('a', 3), ('b', 9) AS t(g, v)
        |GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(got("a") === Seq(1, 3))
    assert(got("b") === Seq(9))
  }

  test("freq_sketch is callable from SQL as an aggregate") {
    val got = spark.sql(
      """SELECT freq_sketch(v, 4) AS sk FROM VALUES
        | ('x'), ('x'), ('y') AS t(v)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("x" -> 2L, "y" -> 1L))
  }

  test("jaro_winkler is callable from SQL and matches the Column API") {
    val got = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS s")
      .head.getDouble(0)
    assert(math.abs(got - 0.9611111111111111) < 1e-12)
  }

  test("CollapseNormalize folds nested normalize_string applications") {
    // non-literal input so constant folding can't remove the expression
    val df = TestSpark.table("nation")
      .selectExpr("normalize_string(normalize_string(normalize_string(n_name))) AS n")
    val optimized = df.queryExecution.optimizedPlan
    var count = 0
    optimized.transformAllExpressions {
      case e: graft.functions.NormalizeString => count += 1; e
    }
    assert(count === 1, s"expected a single NormalizeString:\n$optimized")
    assert(df.head.getString(0).nonEmpty)
  }
}
