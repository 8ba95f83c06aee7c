package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int)

/** Shared machinery of one benchmark run: set-up timing, the op log,
  * the timed window, JVM counters and the correctness log. Ops are
  * timed here, from outside the engine; the tracer only adds spans and
  * Spark-event attribution when tracing is on. */
final class Harness(val spark: SparkSession, val cfg: Config) {
  val tracer = new Tracer(spark, cfg.workload, cfg.trace)
  private var lastTrace = 0
  private val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  private val opSpans = mutable.ArrayBuffer[(Int, Double, Double)]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val info = mutable.LinkedHashMap[String, Any]()
  val setupUnits = mutable.ArrayBuffer[Double]()
  var warmupS = 0.0
  private var windowStart = Double.NaN
  private var windowEnd = Double.NaN
  private var gc0 = 0L; private var gc1 = 0L
  private var cpu0 = 0L; private var cpu1 = 0L
  var retainedCacheMb = 0.0
  var cachedRdds = 0

  private def nextId(): Int = { lastTrace += 1; lastTrace }

  /** Time one repetition of the workload's set-up unit. */
  def setupUnit[T](body: => T): T = {
    val t = System.nanoTime()
    val out = tracer.op("setup", -nextId())(body)
    setupUnits += (System.nanoTime() - t) / 1e9
    out
  }

  /** An untimed warmup op (counted in set-up time); returns its trace id. */
  def warmup(body: => Any): Int = {
    val t = System.nanoTime()
    val trace = -nextId()
    tracer.op("warmup", trace)(body)
    warmupS += (System.nanoTime() - t) / 1e9
    trace
  }

  def startWindow(): Unit = {
    System.gc()
    gc0 = gcMs; cpu0 = cpuNs
    windowStart = tracer.nowMs
  }

  def windowOver: Boolean = tracer.nowMs - windowStart >= cfg.seconds * 1000.0

  /** Close the window: JVM counters and Spark storage still held. */
  def endWindow(): Unit = {
    windowEnd = tracer.nowMs
    gc1 = gcMs; cpu1 = cpuNs
    val storage = spark.sparkContext.getRDDStorageInfo
    retainedCacheMb = storage.map(i => i.memSize + i.diskSize).sum / Tracer.MB
    cachedRdds = storage.length
  }

  /** Run one measured op. `body` gets the op's trace id and returns
    * extra fields for the op record; a throw marks the op failed. */
  def op(kind: String, name: String, fields: (String, Any)*)
      (body: Int => Map[String, Any]): mutable.LinkedHashMap[String, Any] = {
    val trace = nextId()
    val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "name" -> name, "trace" -> trace)
    fields.foreach(rec += _)
    val start = tracer.nowMs
    val extra = try {
      val e = tracer.op(s"$kind:$name", trace)(body(trace))
      rec("ok") = true
      e
    } catch {
      case t: Throwable =>
        rec("ok") = false
        rec("error") = s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(400)}"
        Map.empty[String, Any]
    }
    val end = tracer.nowMs
    rec("start_ms") = start - windowStart
    rec("lat_ms") = end - start
    extra.foreach(rec += _)
    ops += rec
    opSpans += ((trace, start, end))
    rec
  }

  /** Mark an already-recorded op failed (a correctness check outside
    * the timed window found its output wrong). */
  def fail(rec: mutable.LinkedHashMap[String, Any], why: String): Unit = {
    rec("ok") = false
    rec("error") = why
  }

  def check(name: String, ok: Boolean, detail: Any = ""): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    ok
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** The run record `run.py` reads. */
  def record(): Map[String, Any] = {
    if (cfg.trace) {
      tracer.drain()
      val byTrace = opSpans.map(s => s._1 -> s).toMap
      ops.foreach { rec =>
        val (t, s, e) = byTrace(rec("trace").asInstanceOf[Int])
        rec("layers") = tracer.summarize(t, s, e)
      }
    }
    val wallS = (windowEnd - windowStart) / 1000.0
    Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "trace" -> cfg.trace, "cores" -> cfg.cores,
      "setup_units_s" -> setupUnits.toList, "warmup_s" -> warmupS,
      "window_s" -> wallS,
      "gc_ms" -> (gc1 - gc0).toDouble,
      "cpu_busy_share" -> ((cpu1 - cpu0) / 1e9) / (wallS * cfg.cores),
      "retained_cache_mb" -> retainedCacheMb, "cached_rdds" -> cachedRdds,
      "info" -> info, "checks" -> checks.toList,
      "ops" -> ops.toList,
      "spans" -> (if (cfg.trace) tracer.spansJson else Nil),
      "jobs" -> (if (cfg.trace) tracer.jobsJson else Nil))
  }
}

object Harness {
  /** A collected answer as JSON-ready columns and rows: numbers,
    * strings, booleans and nulls as they are, decimals and anything else
    * as text. */
  def answer(cols: Seq[String], rows: Array[Row]): Map[String, Any] =
    Map("columns" -> cols, "rows" -> rows.toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case v @ (null | _: String | _: Boolean | _: Number) => v
      case v => v.toString
    }))

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  /** Order-insensitive fingerprint of a collected answer. */
  def fingerprint(rows: Array[Row]): String =
    md5Hex(rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.mkString("\u0002"))
}
