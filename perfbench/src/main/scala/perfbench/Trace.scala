package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spans around the benchmark's calls into the engine, plus the Spark
  * events they caused.
  *
  * Every call the harness makes into `sources`, `etl`, `olap` or
  * `Curation` runs inside [[Tracer.call]]. With tracing on, a call
  * records a span (name, layer, start, end, parent span, trace id of
  * the op it belongs to) and tags the thread's Spark jobs with job
  * group `<workload>/<call>` and the span/trace ids as local
  * properties, so the listener below can charge jobs, stages, tasks,
  * shuffle, spill and input records to the call that caused them.
  * Threads the engine starts for a call inherit these properties.
  * With tracing off a call is just its body: no span, no job group, no
  * listener. Spans stay in memory and are written once the run ends. */
final class Tracer(spark: SparkSession, workload: String, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  val events: Events = new Events

  if (enabled) sc.addSparkListener(events)

  /** Milliseconds since the tracer started (shared clock of spans, ops
    * and the timed window). */
  def nowMs: Double = (System.nanoTime() - origin) / 1e6

  /** A root span: one measured op (or one set-up step) with its own
    * trace id. */
  def op[T](name: String, trace: Int)(body: => T): T =
    span("op", name, Some(trace))(body)

  /** One call into an engine layer, inside the current op. */
  def call[T](layer: String, name: String)(body: => T): T =
    span(layer, name, None)(body)

  private def span[T](layer: String, name: String, trace: Option[Int])
      (body: => T): T = {
    if (!enabled) return body
    val outer = stack.get
    val parent = outer.headOption.map(_._1).getOrElse(-1)
    // trace 0: a call outside any op (timed ops are > 0, set-up steps < 0)
    val tid = trace.getOrElse(outer.headOption.map(_._2).getOrElse(0))
    val id = nextId.incrementAndGet()
    val saved = Props.map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty("spark.jobGroup.id", s"$workload/$name")
    sc.setLocalProperty("spark.job.description", s"$workload/$name trace=$tid")
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(TraceProp, tid.toString)
    stack.set((id, tid) :: outer)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      spans.add(Span(id, name, layer, parent, tid,
        (start - origin) / 1e6, (end - origin) / 1e6))
      stack.set(outer)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Wait until every event posted so far has reached the listener. */
  def drain(): Unit =
    if (enabled) org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Per-op attribution of everything recorded for trace id `trace`
    * within the op span `[startMs, endMs]`. */
  def summarize(trace: Int, startMs: Double, endMs: Double): Map[String, Any] = {
    val opSpans = allSpans.filter(_.trace == trace)
    val jobs = events.jobsOf(trace)
    val stages = jobs.flatMap(j => events.stagesOf(j.id))
    val wall = endMs - startMs
    // time inside jobs = union of the jobs' intervals, clipped to the op
    val intervals = jobs.flatMap { j =>
      val s = math.max(events.toMs(j.startWall, origin), startMs)
      val e = math.min(events.toMs(j.endWall, origin), endMs)
      if (j.endWall > 0 && e > s) Some((s, e)) else None
    }.sortBy(_._1)
    var inJobs = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) inJobs += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) inJobs += curE - curS
    val longest = stages.filter(_.wallMs > 0).maxByOption(_.wallMs)
    val execIds = jobs.flatMap(_.executionId).distinct
    val planMs = execIds.flatMap(events.planMsOf).sum
    val selfByLayer = mutable.LinkedHashMap[String, Double]()
    val callMs = mutable.LinkedHashMap[String, Double]()
    opSpans.foreach { s =>
      val childMs = opSpans.filter(_.parent == s.id).map(c => c.endMs - c.startMs).sum
      selfByLayer(s.layer) = selfByLayer.getOrElse(s.layer, 0.0) +
        (s.endMs - s.startMs - childMs)
      callMs(s.name) = callMs.getOrElse(s.name, 0.0) + (s.endMs - s.startMs)
    }
    Map(
      "wall_ms" -> wall,
      "exec_ms" -> inJobs,
      "driver_gap_ms" -> (wall - inJobs),
      "jobs" -> jobs.size,
      "stages" -> stages.size,
      "tasks" -> stages.map(_.tasks).sum,
      "shuffle_mb" -> stages.map(_.shuffleWriteBytes).sum / MB,
      "spill_mb" -> stages.map(_.diskSpillBytes).sum / MB,
      "input_records" -> stages.map(_.inputRecords).sum,
      "output_mb" -> stages.map(_.outputBytes).sum / MB,
      "max_task_share" -> longest.map(s => events.maxTaskMs(s.id) / s.wallMs).getOrElse(0.0),
      "plan_ms" -> planMs,
      "self_ms" -> selfByLayer,
      "call_ms" -> callMs,
      "job_groups" -> jobs.map(_.group).groupBy(identity).view.mapValues(_.size).toMap)
  }

  /** Bytes written by the jobs one named call of an op caused. */
  def callOutputBytes(trace: Int, callName: String): Double = {
    val ids = allSpans.filter(s => s.trace == trace && s.name == callName).map(_.id).toSet
    events.jobsOf(trace).filter(j => j.span.exists(ids.contains))
      .flatMap(j => events.stagesOf(j.id)).map(_.outputBytes).sum.toDouble
  }

  def spansJson: Seq[Map[String, Any]] = allSpans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "trace" -> s.trace, "start_ms" -> s.startMs, "end_ms" -> s.endMs))

  def jobsJson: Seq[Map[String, Any]] = events.allJobs.map { j =>
    val st = events.stagesOf(j.id)
    Map("job" -> j.id, "group" -> j.group, "span" -> j.span.getOrElse(-1),
      "trace" -> j.trace.getOrElse(0),
      "start_ms" -> events.toMs(j.startWall, origin),
      "end_ms" -> events.toMs(j.endWall, origin),
      "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
      "input_records" -> st.map(_.inputRecords).sum,
      "shuffle_mb" -> st.map(_.shuffleWriteBytes).sum / MB)
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"
  private val Props = Seq("spark.jobGroup.id", "spark.job.description", SpanProp, TraceProp)

  final case class Span(id: Int, name: String, layer: String, parent: Int,
      trace: Int, startMs: Double, endMs: Double)

  final class JobRec(val id: Int, val group: String, val span: Option[Int],
      val trace: Option[Int], val executionId: Option[Long], val startWall: Long) {
    @volatile var endWall: Long = 0L
  }

  final case class StageRec(id: Int, tasks: Int, wallMs: Double,
      inputRecords: Long, outputBytes: Long, shuffleWriteBytes: Long,
      diskSpillBytes: Long)

  /** The one listener: Spark scheduler events plus the planning-phase
    * times of each SQL execution. Handlers run on the listener bus
    * thread; reads happen after [[Tracer.drain]]. */
  final class Events extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private val stages = mutable.HashMap[Int, StageRec]()
    private val maxTask = mutable.HashMap[Int, Double]()
    private val planMs = mutable.HashMap[Long, Double]()
    // wall clock ↔ nanoTime anchor, so event timestamps (epoch ms)
    // share the tracer's clock
    private val wall0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()

    def toMs(epochMs: Long, origin: Long): Double =
      if (epochMs <= 0) Double.NaN
      else (epochMs - wall0) + (nano0 - origin) / 1e6

    private def prop(p: java.util.Properties, k: String): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(k)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      val rec = new JobRec(e.jobId, prop(p, "spark.jobGroup.id").getOrElse("unattributed"),
        prop(p, SpanProp).map(_.toInt), prop(p, TraceProp).map(_.toInt),
        prop(p, "spark.sql.execution.id").map(_.toLong), e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endWall = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        maxTask(e.stageId) = math.max(maxTask.getOrElse(e.stageId, 0.0),
          e.taskInfo.duration.toDouble)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s).toDouble)
        .getOrElse(0.0)
      if (m != null)
        stages(i.stageId) = StageRec(i.stageId, i.numTasks, wall,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.PlanTimes.planMs(end)
          .foreach(ms => synchronized(planMs(end.executionId) = ms))
      case _ =>
    }

    def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)
    def jobsOf(trace: Int): Seq[JobRec] = synchronized(jobs.values.filter(_.trace.contains(trace)).toSeq)
    def stagesOf(job: Int): Seq[StageRec] = synchronized {
      stageJob.collect { case (s, j) if j == job => s }.flatMap(stages.get).toSeq
    }
    def maxTaskMs(stage: Int): Double = synchronized(maxTask.getOrElse(stage, 0.0))
    def planMsOf(executionId: Long): Option[Double] = synchronized(planMs.get(executionId))
  }
}
