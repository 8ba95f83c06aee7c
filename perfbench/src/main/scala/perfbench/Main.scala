package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main --workload <w> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file> --cores <n>`.
  * Writes the run record (ops, set-up times, counters, answers for the
  * external checks, and with tracing the spans and jobs) to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("cores").toInt)
    val spark = session(cfg)
    try {
      val h = new Harness(spark, cfg)
      Workloads.run(h)
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new java.io.File(need("out")), finite(h.record()))
    } finally spark.stop()
  }

  /** The record with non-finite doubles (a span whose job never ended)
    * as null, so it stays plain JSON. */
  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite)
    case other => other
  }

  /** The session every workload runs in: local[cores], one shuffle
    * partition per core, AQE on, graft's optimizer extensions, and all
    * temporary files inside the run's work directory. */
  def session(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.default.parallelism", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/spark-warehouse")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
