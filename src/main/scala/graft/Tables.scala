package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet corpus (see TESTDATA.md).
  *
  * All tables are plain parquet; Spark's vectorized reader + Catalyst
  * column pruning / predicate pushdown apply automatically, so callers
  * should `.select`/`.filter` as early as possible and let the optimizer
  * push into the scan (verify with `.explain("formatted")` →
  * `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Table `name` as stored, for copying: a TIMESTAMP(NANOS) `ts` of
    * the older events generation reads as its int64 nanos, which
    * [[events]] and [[eventsEpochMicros]] read back from a copy. */
  private[graft] def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    withNanosAsLong(spark)(load(spark, dir, name))

  /** Run `body` with `spark.sql.legacy.parquet.nanosAsLong` on, restoring
    * the prior value after. The flag is only needed for the EAGER
    * footer/schema resolution inside `body` (a TIMESTAMP(NANOS) footer is
    * rejected by the vectorized reader without it); nothing lazy may
    * depend on it, and a concurrent parquet read on the same session
    * during the window observes the flipped flag — keep `body` minimal. */
  private def withNanosAsLong[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The events table with `ts` normalized to TIMESTAMP_NTZ (micros),
    * whichever of the two driver fixture generations is on disk:
    * TIMESTAMP(NANOS) parquet (Spark's vectorized reader rejects the
    * type — read the raw int64 nanos under the scoped legacy flag and
    * integer-DIV to micros; `DIV`, not `/`: double division rounds
    * ~1.6% of epoch-nanos down by 1µs) or native TIMESTAMP(MICROS)
    * (isAdjustedToUTC=false → Spark already infers TIMESTAMP_NTZ).
    * NTZ matches the naive-timestamp view DuckDB and pandas see. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      val raw = load(spark, dir, "events")
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts",
          expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    }

  /** events with `ts` as raw epoch micros (BIGINT) — for operators
    * exercised over integer time axes. Exact integer arithmetic on
    * both fixture generations, and timezone-independent: the NTZ
    * branch measures against an NTZ epoch literal (`unix_micros(ts)`
    * would re-anchor the naive timestamp in the session timezone). */
  def eventsEpochMicros(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      val raw = load(spark, dir, "events")
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("ts DIV 1000"))
        case _ => raw.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP_NTZ))"))
      }
    }
}
