package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The engine's one Spark listener: it counts what Spark ran inside a
  * labelled [[Trace.window]]. Bench labels its runs with it, and
  * ProfileQuery, ScaleProbe and the specs read their jobs, records,
  * shuffle, spill and streaming batch walls from it.
  *
  * A window counts every event that reaches the listener between the
  * bus drain that opens it and the bus drain that closes it, whichever
  * thread caused it. Events outside a window are dropped. Handlers run
  * on the listener bus thread, so all state sits behind this object's
  * lock. */
final class Trace private () extends SparkListener {
  import Trace._

  private var label: String = null // the open (or opening) window
  private var acc: Acc = null // null until the opening drain is done

  private def claim(l: String): Unit = synchronized {
    if (label != null) throw new IllegalStateException(
      s"Trace window '$l' opened inside open window '$label'; windows do not nest")
    label = l
  }
  private def start(): Unit = synchronized { acc = new Acc }
  private def snapshot(ms: Double): Window = synchronized(acc.window(label, ms))
  private def release(): Unit = synchronized { label = null; acc = null }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (acc != null) {
      val p = Option(e.properties)
      val l = p.flatMap(x => Option(x.getProperty(DescProp)))
        .orElse(p.flatMap(x => Option(x.getProperty(GroupProp)))).getOrElse("")
      acc.jobs(e.jobId) = new JobAcc(e.jobId, l, e.time)
      e.stageIds.foreach(s => acc.stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (acc != null) acc.jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (acc != null) {
      acc.stages += 1
      acc.stageJob.get(e.stageInfo.stageId).flatMap(acc.jobs.get)
        .foreach(_.stageIds += e.stageInfo.stageId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (acc != null) {
      val job = acc.stageJob.get(e.stageId).flatMap(acc.jobs.get)
      acc.tasks += 1
      job.foreach(_.tasks += 1)
      val m = e.taskMetrics
      if (m != null) {
        val records = m.inputMetrics.recordsRead
        val shufR = m.shuffleReadMetrics.totalBytesRead
        val shufW = m.shuffleWriteMetrics.bytesWritten
        acc.inputRecords += records
        acc.shuffleReadBytes += shufR
        acc.shuffleWriteBytes += shufW
        acc.memorySpillBytes += m.memoryBytesSpilled
        acc.diskSpillBytes += m.diskBytesSpilled
        acc.peakTaskMemBytes = math.max(acc.peakTaskMemBytes, m.peakExecutionMemory)
        job.foreach { j =>
          j.records += records; j.shuffleReadBytes += shufR; j.shuffleWriteBytes += shufW
        }
      }
    }
  }

  // StreamingQueryListenerBus posts each progress event to the live
  // bus too, where every SparkListener sees it here
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      if (acc != null) acc.batches += Batch(Option(p.progress.name).getOrElse(""),
        p.progress.batchId, p.progress.durationMs.get("triggerExecution").longValue)
    }
    case _ =>
  }
}

object Trace {
  private val GroupProp = "spark.jobGroup.id"
  private val DescProp = "spark.job.description"

  /** One Spark job: its label (description, else group), wall time,
    * the stages it ran (a stage shared by several jobs belongs to the
    * first that listed it) and what their tasks did. */
  final case class Job(id: Int, label: String, ms: Long, stageIds: Seq[Int],
      tasks: Int, records: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** One streaming micro-batch: query name, batch id, trigger wall. */
  final case class Batch(query: String, id: Long, ms: Long)

  /** What Spark ran inside one window. `ms` is the body's wall time;
    * `stages` counts completed stages (skipped ones never run), `tasks`
    * ended tasks, and the byte and record counters sum those tasks'
    * metrics. */
  final case class Window(label: String, ms: Double, jobs: Seq[Job],
      stages: Int, tasks: Int, inputRecords: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, memorySpillBytes: Long, diskSpillBytes: Long,
      peakTaskMemBytes: Long, batches: Seq[Batch])

  private final class JobAcc(val id: Int, val label: String, val start: Long) {
    var end = 0L
    val stageIds = mutable.ArrayBuffer[Int]()
    var tasks = 0
    var records, shuffleReadBytes, shuffleWriteBytes = 0L
  }

  private final class Acc {
    val jobs = mutable.LinkedHashMap[Int, JobAcc]()
    val stageJob = mutable.HashMap[Int, Int]()
    val batches = mutable.ArrayBuffer[Batch]()
    var stages, tasks = 0
    var inputRecords, shuffleReadBytes, shuffleWriteBytes = 0L
    var memorySpillBytes, diskSpillBytes, peakTaskMemBytes = 0L

    def window(label: String, ms: Double): Window = Window(label, ms,
      jobs.values.map(j => Job(j.id, j.label, math.max(j.end - j.start, 0L),
        j.stageIds.toSeq, j.tasks, j.records, j.shuffleReadBytes, j.shuffleWriteBytes)).toSeq,
      stages, tasks, inputRecords, shuffleReadBytes, shuffleWriteBytes,
      memorySpillBytes, diskSpillBytes, peakTaskMemBytes, batches.toSeq)
  }

  private var registered: Option[(SparkContext, Trace)] = None

  /** The context's listener, registered on its first window. */
  private def listener(sc: SparkContext): Trace = synchronized {
    registered.collect { case (c, t) if c eq sc => t }.getOrElse {
      val t = new Trace
      sc.addSparkListener(t)
      registered = Some(sc -> t)
      t
    }
  }

  /** `body`'s result and what Spark ran while it did. The calling
    * thread's job group and description are `label` for the body (the
    * threads it starts inherit them) and are restored after. Opening a
    * window while another is open on the same context fails. A failed
    * body's window is lost with its exception: wrap the body in a
    * `Try` to keep both. */
  def window[T](spark: SparkSession, label: String)(body: => T): (T, Window) = {
    val sc = spark.sparkContext
    val t = listener(sc)
    t.claim(label)
    try {
      Bridge.waitListenerBusEmpty(sc)
      t.start()
      val saved = Seq(GroupProp, DescProp).map(k => k -> sc.getLocalProperty(k))
      saved.foreach { case (k, _) => sc.setLocalProperty(k, label) }
      val t0 = System.nanoTime()
      val out = try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val ms = (System.nanoTime() - t0) / 1e6
      Bridge.waitListenerBusEmpty(sc)
      (out, t.snapshot(ms))
    } finally t.release()
  }
}
