package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter: SPARK_GRAFT_ONLY=q100_skyline,q42_json
    // restricts the dump to named queries; an unknown name fails
    // before any work. Unset (the full correctness dump) → all queries.
    val only = Queries.onlyNames("SPARK_GRAFT_ONLY", SparkEntry.queries.keySet)
    val spark = Sessions.local(Sessions.cpus(4))
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case Some(names) => SparkEntry.queries.keys.filter(names)
      case None => SparkEntry.queries.keys
    }
    selected.foreach(dump(spark, _, sfDir, outDir))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracleSel = only match {
      case Some(names) => SparkEntry.oracleSql.view.filterKeys(names).toMap
      case None => SparkEntry.oracleSql
    }
    val json = oracleSel
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes query `name` on `sfDir` to `outDir/name` as one parquet
    * file, then clears the cache: a relation the query persisted (the
    * q36 and q203-family warehouse stream) would otherwise serve a
    * later query's dump from memory. The previous run's dump goes
    * FIRST, so a query that now fails leaves MISSING output for the
    * DuckDB compare, never the stale parquet of an older build. */
  private[graft] def dump(spark: SparkSession, name: String, sfDir: String,
      outDir: String): Unit = {
    val out = new java.io.File(s"$outDir/$name")
    rmTree(out)
    try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
      .mode("overwrite").parquet(out.getPath)
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      rmTree(out)
    } finally spark.catalog.clearCache()
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }
}
