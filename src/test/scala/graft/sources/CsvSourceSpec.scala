package graft.sources

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import graft.TestSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CsvSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("city", StringType),
    StructField("n", IntegerType)))

  private def write(lines: Seq[String], encoding: String = "UTF-8"): String = {
    val dir = Files.createTempDirectory("csv_src").toString
    Files.write(Paths.get(s"$dir/data.csv"),
      lines.mkString("\n").getBytes(Charset.forName(encoding)))
    s"$dir/data.csv"
  }

  // one `;`-separated ISO-8859-1 file holding every repair case
  private lazy val mixed = CsvSource.FileSpec(write(Seq(
    "name;city;n",
    "ñuño;cañar;1",                     // good, accented
    "\"bob;\"\"lucía; sur\"\";2\"",   // wrapped, quoted separator: recovered
    "\"carl;3\"",                       // wrapped, under-arity: dropped
    "\"dora;manta;4;EXTRA\"",           // wrapped, over-arity: dropped
    "eva;ambato;xyz"),                  // unwrapped, non-numeric n: n nulled
    "ISO-8859-1"), "ISO-8859-1", ";")
  private val mixedRows = Set[(String, String, Any)](
    ("ñuño", "cañar", 1), ("bob", "lucía; sur", 2), ("eva", "ambato", null))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Any)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.get(2))).toSet

  test("repair preserves a quoted field containing the separator") {
    // the corrupt row is the whole true line quoted as one cell, and
    // that line itself has a quoted city with an embedded comma — a
    // raw split would shift n into city and null out n
    val path = write(Seq(
      "name,city,n",
      "ana,quito,1",
      "\"bob,\"\"guayaquil, sur\"\",2\""))
    val out = CsvSource.repair(
      CsvSource.scan(spark, CsvSource.FileSpec(path), schema), schema, ",")
      .orderBy("name")
      .collect().map(r => (r.getString(0), r.getString(1), r.get(2)))
    assert(out.toSeq === Seq(
      ("ana", "quito", 1),
      ("bob", "guayaquil, sur", 2)))
  }

  test("a row that is still malformed after re-parse is dropped, not fatal") {
    val path = write(Seq(
      "name,city,n",
      "ana,quito,1",
      "\"just-two,fields\"")) // arity 2 < 3 after re-parse
    val out = CsvSource.repair(
      CsvSource.scan(spark, CsvSource.FileSpec(path), schema), schema, ",")
    assert(out.count() === 1)
    assert(out.head.getString(0) === "ana")
  }

  test("over-arity embedded line is dropped, not silently truncated") {
    val path = write(Seq(
      "name,city,n",
      "ana,quito,1",
      "\"bob,guayaquil,2,EXTRA\"")) // 4 fields > 3 after re-parse
    val out = CsvSource.repair(
      CsvSource.scan(spark, CsvSource.FileSpec(path), schema), schema, ",")
    assert(out.count() === 1)
    assert(out.head.getString(0) === "ana")
  }

  test("non-numeric value in a repaired row nulls the field, not the job") {
    val path = write(Seq(
      "name,city,n",
      "\"ana,quito,not-a-number\""))
    val out = CsvSource.repair(
      CsvSource.scan(spark, CsvSource.FileSpec(path), schema), schema, ",")
      .collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "ana" && out.head.isNullAt(2))
  }

  test("mixed file: exact repaired row set, the same on every scan") {
    val first = rows(CsvSource.scanAll(spark, Seq(mixed), schema))
    assert(first === mixedRows)
    // a second scan in the same session must not lean on state the first left
    assert(rows(CsvSource.scanAll(spark, Seq(mixed), schema)) === first)
  }

  test("a bare count() works and agrees with collect()") {
    // a plan whose only required column is the corrupt one is rejected
    // by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN); count() prunes every
    // other column unless the repair keeps them required
    val repaired = CsvSource.repair(
      CsvSource.scan(spark, mixed, schema), schema, mixed.sep)
    assert(repaired.count() === repaired.collect().length)
    val all = CsvSource.scanAll(spark, Seq(mixed), schema)
    assert(all.count() === all.collect().length)
    assert(all.count() === mixedRows.size)
  }

  test("scanAll scans once per (encoding, sep) group, rows as the per-file union") {
    val specs = Seq(
      // first UTF-8 comma file: a wrapped repairable row and an
      // unrecoverable one
      CsvSource.FileSpec(write(Seq("name,city,n", "ana,quito,1",
        "\"bob,\"\"guayaquil, sur\"\",2\"", "\"just-two,fields\""))),
      CsvSource.FileSpec(write(Seq("name;city;n", "rosa;tena;5")),
        sep = ";"),
      CsvSource.FileSpec(write(Seq("name,city,n", "ñuño,cañar,3"),
        "ISO-8859-1"), encoding = "ISO-8859-1"),
      // second UTF-8 comma file, after the other formats: joins the first
      CsvSource.FileSpec(write(Seq("name,city,n", "eva,ambato,4", "ana,quito,1"))))
    val grouped = CsvSource.scanAll(spark, specs, schema)
    val perFile = specs.map(s =>
      CsvSource.repair(CsvSource.scan(spark, s, schema), schema, s.sep))
      .reduce(_.unionByName(_))
    // same multiset (the duplicate ana row counts twice on both sides)
    assert(grouped.exceptAll(perFile).isEmpty && perFile.exceptAll(grouped).isEmpty)
    val got = grouped.collect().map(r => (r.getString(0), r.getString(1), r.get(2)))
    assert(got.length === 6)
    assert(got.toSet === Set[(String, String, Any)](("ana", "quito", 1),
      ("bob", "guayaquil, sur", 2), ("rosa", "tena", 5), ("ñuño", "cañar", 3),
      ("eva", "ambato", 4)))
    // each file's header line is skipped, none read as data
    assert(!got.exists(_._1 == "name"))
    val scans = grouped.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size === 3, "one scan per (encoding, sep) group")
  }

  test("scanAll caches nothing") {
    // a file no other test scans, so any cache entry for it is this scan's
    val spec = CsvSource.FileSpec(write(Seq(
      "name,city,n", "ana,quito,1", "\"bob,loja,2\"")))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val all = CsvSource.scanAll(spark, Seq(spec), schema)
    assert(all.collect().length === 2)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty)
    // the session's CacheManager substitutes any cached plan into
    // withCachedData: neither the raw scan nor the repaired frame has one
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
    assert(!cached(CsvSource.scan(spark, spec, schema)))
    assert(!cached(all))
  }
}
