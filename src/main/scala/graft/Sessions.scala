package graft
import org.apache.spark.sql.SparkSession

/** The one way graft builds a Spark session — Bench, Verify, PlanDump,
  * ProfileQuery, ScaleProbe and the test suite all run under the same
  * settings, so a plan dumped or profiled by one tool is the plan the
  * others run. */
object Sessions {
  /** Core count for a tool's session: `SPARK_GRAFT_CPUS`, else the
    * tool's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** `local[cpus]` with one shuffle partition per core unless `parts`
    * says otherwise, AQE on, UTC, no UI, and [[GraftExtensions]]
    * installed (the SkylinePlan/as-of strategies and the native SQL
    * functions). */
  def local(cpus: Int, parts: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts.getOrElse(cpus).toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
