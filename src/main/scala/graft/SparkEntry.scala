package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full ETL end-to-end: clean → five surrogate-key dims
    * (one GROUPING SETS shuffle) → broadcast FK resolve → null-safe
    * router → star-joined cube cell. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q36EsiEtl(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2, by name,
    * from [[Queries.registry]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.registry.map(q => q.name -> q.build).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    Queries.registry.map(q => q.name -> q.oracleSql).toMap
}
